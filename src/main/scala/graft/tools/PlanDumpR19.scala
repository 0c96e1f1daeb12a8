package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, PartitionedIndex, Selection}

/** Round-19 optimization evidence: formatted explains of the operator
  * plans this round changed, dumped to `<outDir>/<name>_<tag>.txt`.
  * Each pair is emitted from ONE binary: the `before` frames
  * reconstruct the pre-round code shape verbatim (the old expressions
  * still compile — they were plain reader/column code), the `after`
  * frames call the current operators, so the diff isolates exactly
  * the plan change being claimed. plans/r19/README.md maps files to
  * the declared queries that execute each shape. Measurement only.
  */
object PlanDumpR19 {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val dir = "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val s = spark
    new java.io.File(outDir).mkdirs()
    def dump(name: String, tag: String, df: DataFrame): Unit = {
      val text = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), text)
      ()
    }
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_plandump19_${ProcessHandle.current().pid()}").getAbsolutePath

    val docsT = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val docsS = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "source")

    // ---- 1. PDF fixture attach: the r18 codec spread REVERTED for
    //      the plain two-page writer (q_doc_pipeline 1.28->2.05 s
    //      regression; q_text_pdf flat) — the Exchange disappears
    def attachOld(df: DataFrame): DataFrame = {
      // r18 shape: spreadForCodec(df) = repartition(defaultParallelism)
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types.BinaryType
      val outSchema = df.schema.add("payload", BinaryType, nullable = false)
      val idIdx = df.schema.fieldIndex("doc_id")
      val textIdx = df.schema.fieldIndex("text")
      df.repartition(s.sparkContext.defaultParallelism).mapPartitions { rows =>
        rows.map { row =>
          val id = row.getLong(idIdx)
          val text = if (row.isNullAt(textIdx)) "" else row.getString(textIdx)
          Row.fromSeq(row.toSeq :+ graft.ext.Pdf.PdfFixture.pdf(Seq(
            Seq(text), Seq(s"Page 2 of doc $id"))))
        }
      }(Encoders.row(outSchema))
    }
    dump("q_doc_pipeline__fixture_attach", "before",
      graft.ext.Pdf.withPdfText(
        attachOld(docsT.where(col("doc_id") < 100))
          .select("doc_id", "payload"), "payload"))
    dump("q_doc_pipeline__fixture_attach", "after",
      graft.ext.Pdf.withPdfText(
        graft.ext.Pdf.PdfFixture.withPayloads(
          docsT.where(col("doc_id") < 100), "doc_id", "text")
          .select("doc_id", "payload"), "payload"))

    // ---- 2. Band-index locate scan: inference-typed full read ->
    //      pinned-StringType explicit-dir read (updateBandIndex and
    //      the band CDC gate's maintained side; q_stream_band_cdc /
    //      q_dedup_index_update / q_stream_all_indexed)
    val bdir = s"$base/bandidx"
    Dedup.writeBandIndex(docsT, "text", "doc_id", bdir, prefixChars = 2)
    val touchedIds = docsT.where(col("doc_id") < 3).select("doc_id").distinct()
    dump("q_stream_band_cdc__locate_scan", "before",
      s.read.parquet(bdir)
        .select(col("doc_id"), col("pfx"))
        .join(broadcast(touchedIds), Seq("doc_id"))
        .select("pfx"))
    dump("q_stream_band_cdc__locate_scan", "after",
      PartitionedIndex.read(s, bdir, Dedup.BandIndex)
        .select(col("doc_id"), col("pfx"))
        .join(broadcast(touchedIds), Seq("doc_id"))
        .select("pfx"))

    // ---- 3. CDC rebuild-gate post-corpus signatures: full corpus
    //      re-sign -> ingest artifact ∪ changed-rows sign
    //      (q_stream_band_cdc's gate; the hash twin composes the
    //      decoded-hash frame the same way)
    val post = docsT.where(col("doc_id") >= 10)
      .unionByName(docsT.where(col("doc_id") < 5)
        .select(col("doc_id"),
          concat(col("text"), lit(" cdc updated text marker")).as("text")))
    val ingestSigs = Dedup.minhashSignatures(docsT, "text", "doc_id", 4)
    val changedRows = docsT.where(col("doc_id") < 5)
      .select(col("doc_id"),
        concat(col("text"), lit(" cdc updated text marker")).as("text"))
    dump("q_stream_band_cdc__gate_post_signatures", "before",
      Dedup.minhashSignatures(post, "text", "doc_id", 4))
    dump("q_stream_band_cdc__gate_post_signatures", "after",
      ingestSigs.where(col("doc_id") >= 10)
        .unionByName(Dedup.minhashSignatures(changedRows, "text", "doc_id", 4)))

    // ---- 4. LM score pinning (q_curation_pipeline / q_lm_perplexity):
    //      before, the tercile percentile and the bucket projection
    //      each re-ran the scoring pass; after, both read the pinned
    //      per-doc frame (ExistingRDD over the SMALL result)
    val lmIn = docsS.select("doc_id", "text")
    val model = Selection.lmTrain(lmIn, "text", lit(true))
    val scoredUnpinned = Selection.lmScore(lmIn, "text", "doc_id", model)
    dump("q_lm_perplexity__bucketed_scores", "before",
      Selection.lmBucket(scoredUnpinned, Selection.lmThresholds(scoredUnpinned)))
    dump("q_lm_perplexity__bucketed_scores", "after",
      Selection.lmDocBits(lmIn, "text", "doc_id", lit(true)))

    spark.stop()
  }
}
