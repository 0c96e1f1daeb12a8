package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.etl.Merge
import graft.ext.{Dedup, Multimodal, Similarity}
import graft.streaming.ScoreStream

/** `index_cdc`: the three stored index families — a MinHash band index
  * over text, a banded dHash index over images and an IVF layout over
  * vectors — kept current from change data. Set-up generates the
  * corpora and builds each index (`ext.<family>_build`). An iteration
  * sends one seeded change batch (updates, deletes, inserts) per
  * family through the family's streaming maintenance sink, then serves
  * the batch's own upserts from the just-updated index
  * (read-your-writes). Every iteration starts from a byte-identical
  * copy of the indexes built in set-up. */
final class IndexCdc(sizes: IndexCdc.Sizes) extends Workload {
  import IndexCdc._

  private var vocab: Array[String] = Array.empty
  private var centers: Array[Array[Double]] = Array.empty
  private var docs: IndexedSeq[Gen.Doc] = IndexedSeq.empty
  private var vecs: IndexedSeq[Gen.Vec] = IndexedSeq.empty
  /** Family → the index dir built in set-up. */
  private var built: Map[String, String] = Map.empty
  private var corpusPath: Map[String, String] = Map.empty
  /** IVF centroids, as the build assigned them. */
  private var cents: Array[Array[Double]] = Array.empty
  private var indexBytes = 0L

  private def imageSeed(ctx: Ctx, i: Long): Long = ctx.seed * 1000003L + i

  def setup(ctx: Ctx, dir: String): Unit = {
    val s = ctx.spark
    import s.implicits._
    val r = new Random(ctx.seed)
    vocab = Gen.vocabulary(r, sizes.vocab)
    centers = Gen.centers(r, sizes.clusters, sizes.dim)
    docs = (0 until sizes.docs).map(i => Gen.doc(r, vocab, i.toLong))
    vecs = (0 until sizes.vectors).map(i => Gen.vec(r, centers, i.toLong))
    val imgs = (0 until sizes.images).map(i => Gen.img(i.toLong, imageSeed(ctx, i.toLong)))
    corpusPath = Map("band" -> s"$dir/docs.parquet", "hash" -> s"$dir/images.parquet",
      "ivf" -> s"$dir/vectors.parquet")
    docs.toDF().write.mode("overwrite").parquet(corpusPath("band"))
    imgs.toDF().write.mode("overwrite").parquet(corpusPath("hash"))
    vecs.toDF().write.mode("overwrite").parquet(corpusPath("ivf"))
    built = Families.map(f => f -> s"$dir/index_$f").toMap
    def bytes(f: String)(u: Unit) = Map("bytes" -> Fs.bytes(built(f)).toDouble)
    ctx.span("ext.band_build")(Dedup.writeBandIndex(corpus(ctx, "band"), "text", "doc_id",
      built("band"), numHashes = 4, bands = 2, prefixChars = sizes.bandPrefixChars))(bytes("band"))
    ctx.span("ext.hash_build")(Dedup.writeHashIndex(
      Multimodal.imageDHashes(corpus(ctx, "hash"), "payload").drop("payload"),
      "img_id", "dhash", built("hash"), bands = 4, nPrefix = sizes.hashPrefixes))(bytes("hash"))
    ctx.span("ext.ivf_build") {
      val v = corpus(ctx, "ivf")
      cents = Similarity.kmeansCentroids(v, "vec_id", "embedding", sizes.cells, iters = 2)
      Similarity.writeIvfIndex(v, "vec_id", "embedding", cents, built("ivf"))
    }(bytes("ivf"))
    indexBytes = built.values.map(Fs.bytes).sum
  }

  private def corpus(ctx: Ctx, family: String): DataFrame =
    ctx.spark.read.parquet(corpusPath(family))

  /** One serve request: the matches of `arrivals` in the stored index
    * at `dir`, returned to the caller, with the probed share of the
    * layout. */
  private def serve(ctx: Ctx, family: String, dir: String,
                      arrivals: DataFrame): (Seq[String], Double) = {
    val (matches, probed, total) = family match {
      case "band" =>
        val (m, p, n) = Dedup.minhashMatchesIndexedWithEvidence(dir, arrivals, "doc_id", "text")
        (m, p.length, n.toDouble)
      case "hash" =>
        val (m, p, n) = Dedup.hashMatchesIndexedWithEvidence(dir,
          Multimodal.imageDHashes(arrivals, "payload").drop("payload"), "img_id", "dhash", MaxHamming)
        (m, p.length, n.toDouble)
      case "ivf" =>
        val c = Similarity.ivfIndexCentroids(dir, ctx.spark)
        val (m, p, n) = Similarity.ivfPartitionedTopKWithEvidence(dir, arrivals,
          "vec_id", "embedding", sizes.k, c, sizes.nprobe)
        (m, p.length, n.toDouble)
    }
    (rows(matches), probed / total)
  }

  /** The same answer computed from scratch over `corpus`, with no
    * stored index. IVF is compared with a scan of the whole corpus
    * under the index's own centroids and probe count. */
  private def reference(ctx: Ctx, family: String, arrivals: DataFrame,
                          corpus: DataFrame): Seq[String] = family match {
    case "band" => rows(Dedup.minhashMatches(arrivals, corpus, "doc_id", "text", 4, 2))
    case "hash" => rows(Dedup.hashMatches(
      Multimodal.imageDHashes(arrivals, "payload").drop("payload"),
      Multimodal.imageDHashes(corpus, "payload").drop("payload"),
      "img_id", "dhash", MaxHamming, 4))
    case "ivf" => rows(Similarity.ivfTopKWith(arrivals, corpus, "vec_id", "embedding",
      sizes.k, cents, sizes.nprobe))
  }

  private def serveStats(out: (Seq[String], Double)): Map[String, Double] =
    Map("probed_ratio" -> out._2, "rows_out" -> out._1.length.toDouble)

  private final class Applied(val batch: DataFrame, val upserts: DataFrame,
                              val served: Seq[String])
  private val lastApplied = scala.collection.mutable.Map.empty[String, Applied]
  private val touched = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  private val bytesPerChange = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var finalIndexBytes = 0L
  private var prevDir: Option[String] = None
  private var restoresIdentical = true

  /** The change batch of `family` in iteration `it`: payload columns
    * as the family's corpus, plus `seq` and `op`. Deletes carry a null
    * payload. */
  private def batch(ctx: Ctx, family: String, it: Int): DataFrame = {
    val s = ctx.spark
    val r = new Random(ctx.seed * 7919L + it * 31L + Families.indexOf(family))
    val n = family match {
      case "band" => docs.length
      case "hash" => sizes.images
      case "ivf" => vecs.length
    }
    val picked = r.shuffle((0 until n).toVector).take(sizes.updates + sizes.deletes)
    val (upd, del) = picked.splitAt(sizes.updates)
    val ins = (0 until sizes.inserts).map(j => FreshIds + (it + 2) * 1000L + j)
    def row(id: Long, op: String): Row = {
      val payload: Any =
        if (op == "d") null
        else family match {
          case "band" => Gen.doc(r, vocab, id).text
          case "hash" => Gen.img(id, imageSeed(ctx, FreshIds + r.nextInt(1 << 30))).payload
          case "ivf" => Gen.vec(r, centers, id).embedding.toSeq
        }
      Row(id, payload, 1L, op)
    }
    val rs = upd.map(i => row(i.toLong, "u")) ++ del.map(i => row(i.toLong, "d")) ++
      ins.map(row(_, "i"))
    s.createDataFrame(s.sparkContext.parallelize(rs, 1), schema(family))
  }

  private def schema(family: String): StructType = {
    val (id, payload) = family match {
      case "band" => ("doc_id", StringType)
      case "hash" => ("img_id", BinaryType)
      case "ivf" => ("vec_id", ArrayType(DoubleType))
    }
    StructType(Seq(StructField(id, LongType), StructField(payloadCol(family), payload),
      StructField("seq", LongType), StructField("op", StringType)))
  }

  private def payloadCol(family: String): String = family match {
    case "band" => "text"
    case "hash" => "payload"
    case "ivf" => "embedding"
  }

  private def maintain(ctx: Ctx, family: String, index: String, src: String,
                       log: String, chk: String): StreamingQuery = {
    val stream = ctx.spark.readStream.schema(schema(family)).parquet(src)
    val q = family match {
      case "band" => ScoreStream.bandIndexMaintainSink(stream, index, "text", "doc_id", log, chk)
      case "hash" => ScoreStream.hashIndexMaintainSink(stream, index, "img_id", "payload", log, chk)
      case "ivf" => ScoreStream.ivfIndexMaintainSink(stream, index, "vec_id", "embedding", log, chk)
    }
    try q.awaitTermination() finally q.stop()
    q
  }

  /** touched / total prefixes from the sink's `_maint` log of batch 0. */
  private def touchedRatio(log: String): Double = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$log/_maint/batch-0.json")), "UTF-8")
    def field(k: String) = s""""$k":(\\d+)""".r.findFirstMatchIn(text).get.group(1).toDouble
    field("touched") / field("n_prefix")
  }

  /** Apply one change batch of `family` to a fresh copy of its index
    * under `dir`, then serve the batch's upserts from it. */
  private def applyOne(ctx: Ctx, family: String, it: Int, dir: String, timed: Boolean): Boolean = {
    val index = s"$dir/$family/index"
    Fs.copyDir(built(family), index)
    restoresIdentical &&= Fs.identical(built(family), index)
    val b = batch(ctx, family, it).localCheckpoint()
    val src = s"$dir/$family/src"
    val tmp = s"$dir/$family/tmp"
    b.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Fs.walkFiles(tmp).find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    java.nio.file.Files.move(part, java.nio.file.Paths.get(src, "batch.parquet"))
    val upserts = b.where("op != 'd'").select(schema(family).fieldNames.take(2).toIndexedSeq.map(b.col): _*)
    val log = s"$dir/$family/log"
    val changes = b.count()
    if (!timed) {
      maintain(ctx, family, index, src, log, s"$dir/$family/chk")
      serve(ctx, family, index, upserts)
      return true
    }
    val start = System.currentTimeMillis()
    val ok = ctx.op("maintain")(ctx.span(s"streaming.${family}_maintain")(
      maintain(ctx, family, index, src, log, s"$dir/$family/chk"))(queries = q => Seq(q.id)))
    if (ok.isEmpty) return false
    val ratio = touchedRatio(log)
    val (files, bytes) = Fs.writtenSince(index, start)
    touched += family -> ratio
    bytesPerChange += bytes.toDouble / changes
    ctx.annotate(Map("touched_ratio" -> ratio, "files_written" -> files.toDouble,
      "write_bytes_per_change" -> bytes.toDouble / changes))
    // the forced-failure self-test serves one batch from a missing index
    val serveDir =
      if (ctx.inject.contains("missing-index") && it == 0 && family == "band") s"$dir/no_such_index"
      else index
    ctx.op("serve")(ctx.span(s"ext.${family}_serve")(serve(ctx, family, serveDir, upserts))(serveStats))
      .map(out => lastApplied(family) = new Applied(b, upserts, out._1)).isDefined
  }

  /** One untimed round: the maintain and serve paths compile and load
    * before the first measured iteration. */
  def warmUp(ctx: Ctx): Unit = {
    val dir = s"${ctx.work}/warm"
    Families.foreach(f => applyOne(ctx, f, -1, dir, timed = false))
    Fs.delete(dir)
  }

  def iteration(ctx: Ctx): Unit = {
    val dir = s"${ctx.work}/it${ctx.iteration}"
    val before = opMs(ctx)
    // one iteration's run time: its maintain and serve ops, without
    // the harness's index restores and batch drops between them
    if (Families.map(f => applyOne(ctx, f, ctx.iteration, dir, timed = true)).forall(identity))
      ctx.addRun(opMs(ctx) - before)
    finalIndexBytes = Families.map(f => Fs.bytes(s"$dir/$f/index")).sum
    prevDir.foreach(Fs.delete)
    prevDir = Some(dir)
  }

  private def opMs(ctx: Ctx): Double =
    Seq("maintain", "serve").map(k => ctx.ops.ms(if (ctx.traced) s"$k.traced" else k).sum).sum

  def check(ctx: Ctx): Unit = {
    ctx.ops.check("every iteration started from a byte-identical copy of the built indexes")(
      restoresIdentical)
    touched.foreach { case (f, r) =>
      ctx.ops.check(s"$f batch rewrote part of the index (touched_ratio $r < 1)")(r < 1.0)
    }
    lastApplied.foreach { case (f, a) =>
      ctx.ops.check(s"$f read-your-writes serve equals a from-scratch answer over the post-CDC corpus") {
        val post = Merge.applyCdc(corpus(ctx, f), a.batch, schema(f).fieldNames.head)
        a.served == reference(ctx, f, a.upserts, post)
      }
    }
  }

  override def record: Map[String, Double] = Map(
    "index_bytes" -> indexBytes.toDouble, "index_bytes_end" -> finalIndexBytes.toDouble) ++
    (if (bytesPerChange.isEmpty) Map.empty
     else Map("write_bytes_per_change" -> Stats.median(bytesPerChange.toSeq)))
}

object IndexCdc {
  final case class Sizes(docs: Int, vocab: Int, images: Int, vectors: Int,
                         dim: Int, clusters: Int, cells: Int,
                         bandPrefixChars: Int, hashPrefixes: Int, nprobe: Int,
                         k: Int, updates: Int, deletes: Int, inserts: Int)

  val Families: Seq[String] = Seq("band", "hash", "ivf")
  val MaxHamming = 3
  /** Ids of generated arrivals and inserts start here, clear of the corpora. */
  val FreshIds = 10000000L

  def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq.sorted
}
