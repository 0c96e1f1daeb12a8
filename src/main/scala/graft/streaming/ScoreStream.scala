package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming scoring path — the capability the reference
  * only narrates ("unlocks a structured streaming approach",
  * `02_merchcat_ml.py:518`): readStream → enrich/score → watermarked
  * tumbling-window aggregate → sink. The same transforms run in batch
  * (`windowedCounts` is engine-agnostic), which is what the oracle
  * checks; streaming execution is exercised with a memory sink in
  * tests.
  */
object ScoreStream {

  /** Watermarked tumbling-window counts+sums per label — works on
    * batch and streaming frames alike. */
  def windowedCounts(events: DataFrame, tsCol: String, labelCol: String,
                     windowLen: String = "1 minute",
                     watermark: String = "5 minutes"): DataFrame = {
    val wm = if (events.isStreaming) events.withWatermark(tsCol, watermark)
             else events
    wm.groupBy(window(col(tsCol), windowLen), col(labelCol))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col(labelCol),
        col("n"), col("total_value"))
  }

  /** Streaming file source over a directory of event parquet. */
  def readEventsStream(spark: SparkSession, dir: String,
                       schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Streaming corpus-quality monitor: every arriving document is
    * scored against a FROZEN bigram LM
    * ([[graft.ext.Selection.lmTrain]]) and the monitor emits
    * per-(window, source) aggregate quality — bigram volume and
    * corpus-level bits per token. Drift detection for an ingest
    * pipeline: a source whose bits climb is drifting away from the
    * target distribution; one that collapses toward zero is
    * boilerplate/duplication.
    *
    * Streaming-safe by construction: the bigram explode and the two
    * model joins are STATELESS (model frames broadcast, re-planned
    * per micro-batch), and the only state is the watermarked
    * (window, source) aggregate — bounded and evicted, never keyed by
    * document. Works identically on batch frames (how the spec pins
    * values). */
  def lmQualityMonitor(docs: DataFrame, model: graft.ext.Selection.LmModel,
                       tsCol: String, srcCol: String, textCol: String,
                       windowLen: String = "1 minute",
                       watermark: String = "5 minutes"): DataFrame = {
    val wm = if (docs.isStreaming) docs.withWatermark(tsCol, watermark)
             else docs
    val exploded = wm.select(col(tsCol), col(srcCol),
        explode(graft.ext.Selection.bigramPairs(textCol, model.hexChars))
          .as("__p"))
      .select(col(tsCol), col(srcCol),
        col("__p.b1").as("__b1"), col("__p.b2").as("__b2"))
    val (pairDf, ctxDf) =
      graft.ext.Selection.modelFrames(docs.sparkSession, model)
    exploded
      .join(broadcast(pairDf), Seq("__b1", "__b2"), "left")
      .join(broadcast(ctxDf), Seq("__b1"), "left")
      .groupBy(window(col(tsCol), windowLen), col(srcCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(graft.ext.Selection.bitsCol(model))
          / count(lit(1)), 6).as("bits_per_token"))
      .select(col("window.start").as("window_start"), col(srcCol),
        col("n_bigrams"), col("bits_per_token"))
  }

  /** Streaming ingest-quality monitor over the C4 cleaning rules
    * ([[graft.ext.TextStats.withC4Flags]]): per-(window, source) page
    * volume, C4 pass rate, and surviving-line share. The flag
    * computation is a pure NARROW projection (no explode, no joins —
    * cheaper even than [[lmQualityMonitor]]'s broadcast model joins),
    * so the only streaming state is the watermarked (window, source)
    * aggregate. A source whose pass rate collapses is shipping
    * boilerplate/code instead of prose — exactly the ingest
    * regression this dashboard exists to catch. Works identically on
    * batch frames (how the spec pins values). */
  def c4QualityMonitor(docs: DataFrame, tsCol: String, srcCol: String,
                       textCol: String,
                       windowLen: String = "1 minute",
                       watermark: String = "5 minutes"): DataFrame = {
    val wm = if (docs.isStreaming) docs.withWatermark(tsCol, watermark)
             else docs
    val nPass = sum(when(col("pass_c4"), 1L).otherwise(0L))
    graft.ext.TextStats.withC4Flags(wm, textCol)
      .groupBy(window(col(tsCol), windowLen), col(srcCol))
      .agg(count(lit(1)).as("n_pages"),
        nPass.as("n_pass"),
        round(nPass.cast("double") / count(lit(1)).cast("double"), 6)
          .as("pass_rate"),
        round(sum(col("n_kept")).cast("double")
          / greatest(sum(col("n_lines")), lit(1L)).cast("double"), 6)
          .as("kept_line_share"))
      .select(col("window.start").as("window_start"), col(srcCol),
        col("n_pages"), col("n_pass"), col("pass_rate"),
        col("kept_line_share"))
  }

  /** Model-based ingest-quality monitor — the streaming face of
    * [[graft.ml.QualityFilter]]: every arriving document is scored
    * with the FROZEN curated-vs-raw classifier (a pure transform —
    * featurize → vector math → probability; the model rides to
    * executors inside the plan, no training in the stream), and the
    * monitor emits per-(window, source) volume, mean keep-probability,
    * and the share clearing `threshold`. Complements
    * [[c4QualityMonitor]] (rules) and [[lmQualityMonitor]] (fluency):
    * a source whose keep-rate collapses started shipping raw-crawl-
    * shaped text. Only streaming state: the watermarked
    * (window, source) aggregate. Works identically on batch frames
    * (how the spec pins stream==batch). */
  def qualityClassifierMonitor(docs: DataFrame,
                               model: graft.ml.QualityFilter.QualityModel,
                               tsCol: String, srcCol: String,
                               textCol: String, threshold: Double = 0.5,
                               windowLen: String = "1 minute",
                               watermark: String = "5 minutes"): DataFrame = {
    val wm = if (docs.isStreaming) docs.withWatermark(tsCol, watermark)
             else docs
    val nKeep = sum(when(col("keep_prob") >= threshold, 1L).otherwise(0L))
    model.score(wm, textCol)
      .groupBy(window(col(tsCol), windowLen), col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("keep_prob")), 6).as("mean_keep_prob"),
        nKeep.as("n_keep"),
        round(nKeep.cast("double") / count(lit(1)).cast("double"), 6)
          .as("keep_rate"))
      .select(col("window.start").as("window_start"), col(srcCol),
        col("n_docs"), col("mean_keep_prob"), col("n_keep"),
        col("keep_rate"))
  }

  /** Streaming data-contract monitor — [[graft.etl.Expectations]] on
    * the ingest path: every arriving row evaluates the rule flags
    * in-row (narrow codegen, [[graft.etl.Expectations.withFlags]])
    * and the monitor emits per-(window, source, rule) violation
    * counts and rates. State is the watermarked aggregate keyed by
    * (window, source, rule) — bounded at windows × sources × |rules|,
    * never by row. The unpivot happens BEFORE the aggregate (one
    * in-row explode of |rules| structs), so adding a rule widens the
    * explode, not the plan. A source whose violation rate jumps is
    * shipping contract-breaking rows NOW — the alert that batch
    * `enforce` would only raise after the fact. Works identically on
    * batch frames (how the spec pins stream==batch). */
  def expectationsMonitor(docs: DataFrame,
                          rules: Seq[graft.etl.Expectations.Rule],
                          tsCol: String, srcCol: String,
                          windowLen: String = "1 minute",
                          watermark: String = "5 minutes"): DataFrame = {
    val wm = if (docs.isStreaming) docs.withWatermark(tsCol, watermark)
             else docs
    val flagged = graft.etl.Expectations.withFlags(wm, rules)
    val perRule = flagged.select(col(tsCol), col(srcCol),
      explode(array(rules.map(r => struct(lit(r.name).as("rule"),
        col(s"ok_${r.name}").as("ok"))): _*)).as("__e"))
    perRule.groupBy(window(col(tsCol), windowLen), col(srcCol),
        col("__e.rule").as("rule"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(!col("__e.ok"), 1L).otherwise(0L)).as("n_violations"))
      .withColumn("violation_rate",
        round(col("n_violations").cast("double")
          / greatest(col("n_rows"), lit(1L)).cast("double"), 6))
      .select(col("window.start").as("window_start"), col(srcCol),
        col("rule"), col("n_rows"), col("n_violations"),
        col("violation_rate"))
  }

  /** Per-document contamination flags against a STATIC probe set —
    * the streaming-safe face of [[graft.ext.Dedup.contamination]]
    * (same per-occurrence `n_hits` semantics): the probe side reduces
    * to ONE row holding its distinct shingle hashes, broadcast-cross-
    * joined into the (possibly streaming) document side, and each
    * document counts its own shingle hits IN-ROW. No explode, no
    * per-document aggregation — completely STATELESS, so it runs in
    * append mode with no watermark and each micro-batch re-plans the
    * probe side (a refreshed eval set is picked up between batches).
    * The probe array is kept SORTED and membership is a codegen'd
    * binary search ([[graft.functions.SortedCountIn]]) — O(S·log P)
    * per document. The naive `filter(array_contains)` form is O(S·P)
    * and at a corpus-scaled probe set (the 100× replica: ~200k probe
    * hashes) degenerates to trillions of string compares in one narrow
    * pass — the scale bug the 100× correctness run surfaced. */
  def contaminationFlags(docs: DataFrame, probes: DataFrame,
                         textCol: String, k: Int = 3): DataFrame = {
    graft.GraftFunctions.register(docs.sparkSession)
    val probeArr = probes
      .select(explode(graft.ext.Dedup.shingles(col(textCol), k)).as("__sh"))
      .select(md5(col("__sh")).as("__h")).distinct()
      .agg(sort_array(collect_list(col("__h"))).as("__probe"))
    docs.crossJoin(broadcast(probeArr))
      .withColumn("n_hits",
        call_function("sorted_count_in",
          transform(graft.ext.Dedup.shingles(col(textCol), k), sh => md5(sh)),
          col("__probe")))
      .drop("__probe")
  }

  /** Streaming contamination gate — "is eval data leaking into my
    * training stream?" (the operational form of the Lee et al.
    * decontamination concern): every arriving document is checked
    * against the frozen probe-shingle index ([[contaminationFlags]],
    * stateless) and the monitor emits per-(window, source) volume,
    * contaminated-document count and rate, and total shingle hits.
    * The only streaming state is the watermarked (window, source)
    * aggregate — bounded and evicted, never keyed by document. Works
    * identically on batch frames (how the oracle and spec pin it). */
  def contaminationMonitor(docs: DataFrame, probes: DataFrame,
                           tsCol: String, srcCol: String, textCol: String,
                           k: Int = 3,
                           windowLen: String = "1 minute",
                           watermark: String = "5 minutes"): DataFrame = {
    val wm = if (docs.isStreaming) docs.withWatermark(tsCol, watermark)
             else docs
    val nBad = sum(when(col("n_hits") > 0, 1L).otherwise(0L))
    contaminationFlags(wm, probes, textCol, k)
      .groupBy(window(col(tsCol), windowLen), col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        nBad.as("n_contaminated"),
        round(nBad.cast("double") / count(lit(1)).cast("double"), 6)
          .as("contamination_rate"),
        sum(col("n_hits")).cast("long").as("n_hits_total"))
      .select(col("window.start").as("window_start"), col(srcCol),
        col("n_docs"), col("n_contaminated"), col("contamination_rate"),
        col("n_hits_total"))
  }

  /** Streaming script-mix monitor — "what writing systems are flowing
    * into my training corpus?" (the multilingual-ingest counterpart of
    * the language/quality monitors): every arriving document is tagged
    * with its dominant unicode script
    * ([[graft.ext.TextStats.withScriptId]], a stateless narrow codegen
    * projection) and the monitor emits per-(window, script) volumes
    * plus exact character/non-ASCII tallies — an ASCII-only pipeline
    * suddenly receiving CJK (or a multilingual one silently going
    * ASCII, the fixture-decay failure mode) shows up as a script-mix
    * shift within one window. The only streaming state is the
    * watermarked (window, script) aggregate — bounded and evicted,
    * never keyed by document. Works identically on batch frames (how
    * the oracle and spec pin it). */
  def scriptMonitor(docs: DataFrame, tsCol: String, textCol: String,
                    windowLen: String = "1 minute",
                    watermark: String = "5 minutes"): DataFrame = {
    val wm = if (docs.isStreaming) docs.withWatermark(tsCol, watermark)
             else docs
    graft.ext.TextStats.withScriptId(wm, textCol, "script")
      .withColumn("__na", graft.ext.TextStats.nonAsciiCount(col(textCol)))
      .groupBy(window(col(tsCol), windowLen), col("script"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col(textCol))).cast("long").as("n_chars"),
        sum(col("__na")).cast("long").as("n_nonascii"))
      .select(col("window.start").as("window_start"), col("script"),
        col("n_docs"), col("n_chars"), col("n_nonascii"))
  }

  /** Score a (possibly streaming) frame with a trained model and count
    * predictions per window — "enriched with brand information in real
    * time". Model scoring is a pure transform, so it runs unchanged on
    * the stream. */
  def scoredWindowedCounts(events: DataFrame, model: graft.ml.Model,
                           textCol: String, tsCol: String): DataFrame = {
    val scored = model.predict(events, textCol, "pr_label")
    windowedCounts(scored, tsCol, "pr_label")
  }

  /** Streaming per-domain quota gate — the online face of the batch
    * `Sampling.capPerKey` pages-per-domain guard: admit at most `cap`
    * rows per key over the STREAM LIFETIME, emitting each admitted
    * row with its 1-based `quota_rank`; everything past the quota is
    * silently dropped. State is ONE long (admitted-so-far) per key —
    * bounded by |domains|, checkpointed, so the quota survives
    * restarts and spans batches.
    *
    * Determinism contract: within a micro-batch a key's rows are
    * admitted in ascending `idCol` order (the group iterator's
    * arrival order is partition-nondeterministic, so the gate picks
    * the `room` smallest ids); across batches, arrival order governs,
    * exactly like a production crawl frontier. Output:
    * `(keyCol, idCol, quota_rank)` of ADMITTED rows only — semi-join
    * back for payloads (bodies never enter state).
    *
    * Memory contract: the gate streams each (key, micro-batch) group
    * through a max-heap capped at the key's remaining `room` (≤ cap)
    * — per-group working memory is O(cap) ids however hot the domain
    * or large the micro-batch, and a key already at quota consumes
    * the iterator without buffering anything. */
  def domainQuotaGate(docs: DataFrame, keyCol: String, idCol: String,
                      cap: Int): DataFrame = {
    require(cap > 0, s"cap=$cap")
    val spark = docs.sparkSession
    import spark.implicits._
    val ds = docs.select(col(keyCol).cast("string"), col(idCol).cast("long"))
      .as[(String, Long)]
    def gate(key: String, rows: Iterator[(String, Long)],
             state: GroupState[Long]): Iterator[(String, Long, Int)] = {
      val admitted = state.getOption.getOrElse(0L)
      val room = math.max(cap - admitted, 0L).toInt
      if (room == 0) { rows.foreach(_ => ()); return Iterator.empty }
      // room smallest ids via a bounded max-heap: O(room) memory,
      // O(n·log room) time — never the full group in memory at once
      val heap = new java.util.PriorityQueue[java.lang.Long](
        room, java.util.Comparator.reverseOrder[java.lang.Long]())
      rows.foreach { case (_, id) =>
        if (heap.size < room) heap.add(id)
        else if (id < heap.peek) { heap.poll(); heap.add(id) }
      }
      val picked = new Array[Long](heap.size)
      var j = picked.length - 1
      while (j >= 0) { picked(j) = heap.poll(); j -= 1 }
      if (picked.nonEmpty) state.update(admitted + picked.length)
      picked.iterator.zipWithIndex.map { case (id, i) =>
        (key, id, (admitted + i + 1).toInt)
      }
    }
    ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(gate)
      .toDF(keyCol, idCol, "quota_rank")
  }

  /** Streaming exact dedup: drop rows whose `idCols` repeat within the
    * watermark horizon — the streaming face of the dedup surface, for
    * at-least-once sources. State is bounded by the watermark (keys
    * older than it are evicted); batch frames take the plain
    * dropDuplicates path. */
  def dedupedEvents(events: DataFrame, tsCol: String, idCols: Seq[String],
                    watermark: String = "10 minutes"): DataFrame =
    if (events.isStreaming)
      events.withWatermark(tsCol, watermark)
        .dropDuplicatesWithinWatermark(idCols)
    else events.dropDuplicates(idCols)

  /** Stream-stream interval join: attribute each purchase to the
    * clicks of the same user within the preceding `gapMin` minutes.
    * On streaming inputs both sides get watermarks (2× the gap) so
    * Spark can bound the join state; the transform itself is
    * engine-agnostic and the batch form is what the DuckDB oracle
    * checks. The join shuffles on `user_id` — at scale both streams
    * hash-partition by user and state stays per-key bounded. */
  def clickPurchaseAttribution(clicks: DataFrame, purchases: DataFrame,
                               gapMin: Int = 10): DataFrame =
    attributionJoin(clicks, purchases, gapMin, "inner")

  /** LEFT OUTER form of [[clickPurchaseAttribution]]: every click
    * emits — matched clicks with their purchases as they join,
    * UNMATCHED clicks with null purchase columns once the global
    * watermark passes the end of their match window (`click_ts + gap`,
    * the point where no future purchase can match and the click's join
    * state is evicted). This is the streaming-state-eviction semantics
    * a funnel pipeline needs: "clicks that provably converted to
    * nothing" become rows, not silence. At scale the state bound is
    * the same as the inner form — per-user-key rows inside the
    * watermark horizon. */
  def clickPurchaseAttributionOuter(clicks: DataFrame, purchases: DataFrame,
                                    gapMin: Int = 10): DataFrame =
    attributionJoin(clicks, purchases, gapMin, "left_outer")

  private def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                              gapMin: Int, joinType: String): DataFrame = {
    val c0 = clicks.select(col("event_id").as("click_id"), col("user_id"),
      col("ts").as("click_ts"))
    val p0 = purchases.select(col("event_id").as("purchase_id"),
      col("user_id").as("__p_user"), col("ts").as("purchase_ts"), col("value"))
    val wm = s"${2 * gapMin} minutes"
    val c = if (c0.isStreaming) c0.withWatermark("click_ts", wm) else c0
    val p = if (p0.isStreaming) p0.withWatermark("purchase_ts", wm) else p0
    c.join(p, col("user_id") === col("__p_user") &&
        col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $gapMin MINUTES"),
        joinType)
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .as("gap_us"),
        col("value"))
  }

  /** Stream-static enrichment: join each micro-batch against a
    * (small) dimension frame, broadcast so the stream side never
    * shuffles. Spark re-plans the static side per micro-batch, so a
    * dimension backed by a refreshable table picks up updates between
    * batches — the standard streaming-enrichment shape. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
                    keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Idempotent micro-batch sink: each batch lands in its own
    * `batch_id=<id>` directory with overwrite semantics, so a batch
    * REPLAYED after a failure (same checkpointed id) overwrites its
    * own previous attempt instead of appending duplicates —
    * exactly-once output from an at-least-once trigger, the
    * foreachBatch contract. Readers take `outDir` with partition
    * discovery. */
  def idempotentParquetSink(sdf: DataFrame, outDir: String,
                            checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    sdf.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, id: Long) =>
        df.write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming perceptual-hash gate served from a STORED
    * [[graft.ext.Dedup.writeHashIndex]] layout. The plain streaming
    * gate ([[graft.ext.Dedup.hashMatches]] on a stream) scans the
    * full reference hash set every trigger; the stored index could
    * not help because [[graft.ext.Dedup.hashMatchesIndexed]] prunes
    * partitions via a driver-side prefix collect, which cannot run
    * inside a continuous streaming plan. foreachBatch is the legal
    * home for it: each micro-batch arrives as a PLAIN DataFrame, so
    * the collect runs per trigger and the batch reads only the
    * prefix dirs its own band probes can touch — at most `nPrefix`,
    * typically a small fraction (production: a thousand-image batch
    * against a billion-image index touches ≤ 4·|batch| of the
    * nPrefix dirs; everything else is never opened).
    *
    * The batch pins with localCheckpoint before probing so arriving
    * hashes are computed once though probed twice (narrowing log +
    * match). Output follows the [[idempotentParquetSink]] contract
    * (per-batch overwrite → exactly-once in effect); the per-batch
    * narrowing goes to the `_probe` batch log ([[writeBatchLog]]) so
    * callers — and the serving query's in-query gate — can PROVE
    * each trigger pruned the scan instead of trusting the plan. */
  def indexedHashGateSink(arrivalHashes: DataFrame, indexDir: String,
                          idCol: String, hashCol: String,
                          outDir: String, checkpoint: String,
                          maxHamming: Int = 3): org.apache.spark.sql.streaming.StreamingQuery =
    arrivalHashes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val batch = df.localCheckpoint()
        // the serve's OWN probe collect doubles as the narrowing
        // evidence
        val (matches, probed, nPrefix) =
          graft.ext.JobLabel(batch.sparkSession,
            "serve: collect hash probe prefixes") {
            graft.ext.Dedup.hashMatchesIndexedWithEvidence(
              indexDir, batch, idCol, hashCol, maxHamming)
          }
        graft.ext.JobLabel(batch.sparkSession, "serve: hash match + write") {
          matches.write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
        }
        writeBatchLog(batch.sparkSession, outDir, "_probe", id,
          s""""probed":${probed.length},"n_prefix":$nPrefix""")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** The batch log every indexed sink writes, one record per
    * micro-batch at `dir/<kind>/batch-<id>.json`, overwritten on
    * replay so the evidence stays exactly-once alongside the batch
    * output. A serve sink writes kind `_probe` as
    * `{"batch":B,"probed":K,"n_prefix":N}`: it opened K of the
    * layout's N dirs. A maintain sink writes kind `_maint` as
    * `{"batch":B,"touched":K,"n_prefix":N}`: it rewrote K of N.
    * [[indexedAllGateSink]] serves several families per batch and
    * writes `{"batch":B,"families":{"band":{"probed":K,"n_prefix":N},
    * ...}}`. [[readBatchLogs]] reads every form back. */
  private[graft] def writeBatchLog(spark: org.apache.spark.sql.SparkSession,
                                   dir: String, kind: String, batchId: Long,
                                   fields: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$kind/batch-$batchId.json")
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(s"""{"batch":$batchId,$fields}""".getBytes("UTF-8"))
    finally out.close()
  }

  /** One [[writeBatchLog]] record: per family, the probed or touched
    * dir count and the layout's total. A single-family record reads
    * as the one family `""`. */
  final case class BatchLog(batch: Long, families: Map[String, (Long, Long)])

  /** Every [[writeBatchLog]] record of `kind` under `dir`, by batch
    * id, read through the same Hadoop filesystem the writer uses. */
  def readBatchLogs(spark: SparkSession, dir: String,
                    kind: String): Seq[BatchLog] = {
    import scala.jdk.CollectionConverters._
    val root = new org.apache.hadoop.fs.Path(s"$dir/$kind")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    def counts(n: com.fasterxml.jackson.databind.JsonNode): (Long, Long) =
      (Option(n.get("probed")).getOrElse(n.get("touched")).asLong,
        n.get("n_prefix").asLong)
    fs.listStatus(root).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".json"))
      .map { p =>
        val in = fs.open(p)
        val j = try json.readTree(in) finally in.close()
        val fams = Option(j.get("families")) match {
          case Some(f) =>
            f.properties().asScala.map(e => e.getKey -> counts(e.getValue)).toMap
          case None => Map("" -> counts(j))
        }
        BatchLog(j.get("batch").asLong, fams)
      }
      .sortBy(_.batch)
  }

  /** Streaming TEXT near-dup gate served from a STORED
    * [[graft.ext.Dedup.writeBandIndex]] layout — the MinHash twin of
    * [[indexedHashGateSink]]. The plain streaming gate
    * ([[graft.ext.Dedup.minhashMatches]] on a stream) re-reads the
    * full signature set every trigger;
    * [[graft.ext.Dedup.minhashMatchesIndexed]] prunes the scan to the
    * prefix dirs the batch's band keys can touch, but its driver-side
    * prefix collect cannot run inside a continuous streaming plan —
    * foreachBatch is its legal home (each micro-batch is a plain
    * DataFrame). Production shape: a thousand-document arrival batch
    * against a billion-document band index opens at most
    * `bands × |batch|` of the 16^prefixChars dirs; everything else is
    * never read. The batch pins with localCheckpoint so arrival
    * shingling runs once though probed twice (narrowing log + match).
    * Output follows the [[idempotentParquetSink]] contract; the
    * per-batch narrowing goes to the `_probe` batch log
    * ([[writeBatchLog]]) so callers can PROVE each trigger pruned the
    * scan. */
  def indexedBandGateSink(arrivalTexts: DataFrame, indexDir: String,
                          idCol: String, textCol: String,
                          outDir: String, checkpoint: String,
                          minJaccard: Double = 0.0): org.apache.spark.sql.streaming.StreamingQuery =
    arrivalTexts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val batch = df.localCheckpoint()
        // serve's own probe collect doubles as the narrowing evidence
        // (see the hash twin) — one arrival shingle+sign pass fewer
        val (matches, probed, nPrefix) =
          graft.ext.JobLabel(batch.sparkSession,
            "serve: collect band probe prefixes") {
            graft.ext.Dedup.minhashMatchesIndexedWithEvidence(
              indexDir, batch, idCol, textCol, minJaccard)
          }
        graft.ext.JobLabel(batch.sparkSession, "serve: band match + write") {
          matches.write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
        }
        writeBatchLog(batch.sparkSession, outDir, "_probe", id,
          s""""probed":${probed.length},"n_prefix":$nPrefix""")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming MAINTENANCE of a stored [[graft.ext.Dedup
    * .writeBandIndex]] layout from a CDC change stream — the missing
    * half of the indexed-serving story: [[indexedBandGateSink]] reads
    * the index on a stream, this keeps it CURRENT on a stream. Each
    * micro-batch of `(id, text, seq, op)` change rows applies via
    * [[graft.ext.Dedup.updateBandIndex]], which rewrites ONLY the
    * prefix dirs the batch's documents band into (old homes and new
    * homes both) through [[graft.ext.PartitionedIndex]]'s crash-safe
    * aside-rename swap — history is never re-read, never
    * re-shingled. The three maintain sinks (band, hash, IVF) share
    * one body ([[indexMaintainSink]]) and one contract: batch order
    * is CDC log order (in-order source); within a batch latest-`seq`
    * wins (Merge's contract). A batch REPLAYED after a crash
    * re-applies the same upserts/deletes onto the already-updated
    * layout: upsert rows rewrite identically and deletes of absent
    * ids are no-ops, so the maintained index is exactly-once in
    * effect. The layout constants come from the index's OWN marker
    * (here `_graft_band_layout`, read once per batch by `updateBandIndex`)
    * — a sink cannot band or assign new rows differently than the
    * stored rows. The per-batch narrowing evidence goes to the
    * `_maint` batch log under `logDir` ([[writeBatchLog]]) so callers
    * can PROVE each trigger rewrote a slice, not the index. */
  def bandIndexMaintainSink(changes: DataFrame, indexDir: String,
                            textCol: String, idCol: String,
                            logDir: String, checkpoint: String,
                            seqCol: String = "seq",
                            opCol: String = "op"): org.apache.spark.sql.streaming.StreamingQuery =
    indexMaintainSink(changes, logDir, checkpoint) {
      graft.ext.Dedup.updateBandIndexWithEvidence(
        indexDir, _, textCol, idCol, seqCol, opCol)
    }

  /** Streaming MAINTENANCE of a stored [[graft.ext.Dedup
    * .writeHashIndex]] layout from a CDC stream of MEDIA payloads,
    * under the [[bandIndexMaintainSink]] contract. Each micro-batch
    * of `(id, payload, seq, op)` change rows DECODES ONCE inside its
    * batch ([[graft.ext.Multimodal.imageDHashes]] — delete rows carry
    * no payload and decode to null, which
    * [[graft.ext.Dedup.updateHashIndex]] ignores for upserts), then
    * rewrites only the touched prefix dirs under the index's OWN
    * `_graft_hash_layout` marker; history is never re-read, never
    * re-DECODED. */
  def hashIndexMaintainSink(changes: DataFrame, indexDir: String,
                            idCol: String, payloadCol: String,
                            logDir: String, checkpoint: String,
                            seqCol: String = "seq",
                            opCol: String = "op"): org.apache.spark.sql.streaming.StreamingQuery =
    indexMaintainSink(changes, logDir, checkpoint) { batch =>
      graft.ext.Dedup.updateHashIndexWithEvidence(indexDir,
        graft.ext.Multimodal.imageDHashes(batch, payloadCol).drop(payloadCol),
        idCol, "dhash", seqCol, opCol)
    }

  /** Streaming ANN serving from a STORED [[graft.ext.Similarity
    * .writeIvfIndex]] layout — the vector member of the indexed
    * streaming-serving family ([[indexedBandGateSink]] /
    * [[indexedHashGateSink]] are the text and media twins). Each
    * micro-batch of query vectors collects its probe-cell union
    * (bounded at nCells ints — driver-data class) in foreachBatch,
    * pushes it into the scan as a partition IN filter
    * ([[graft.ext.Similarity.ivfPartitionedTopK]]), and serves exact
    * top-k within the probed cells. Centroids come from the index's
    * OWN layout marker. Every query's rows complete within its own
    * batch (the per-query window never crosses arrivals), so
    * batching never splits a result. Output follows the
    * [[idempotentParquetSink]] contract; per-batch narrowing goes to
    * the `_probe` batch log ([[writeBatchLog]]) so each trigger can
    * PROVE it pruned the index scan. */
  def indexedIvfGateSink(queryVecs: DataFrame, indexDir: String,
                         idCol: String, vecCol: String, k: Int,
                         outDir: String, checkpoint: String,
                         nprobe: Int): org.apache.spark.sql.streaming.StreamingQuery =
    queryVecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val batch = df.localCheckpoint()
        val s = batch.sparkSession
        val cents = graft.ext.Similarity.ivfIndexCentroids(indexDir, s)
        // serve's own probe collect doubles as the narrowing evidence
        // (see the hash/band twins) — one assignment pass fewer
        val (topk, probed, nCells) =
          graft.ext.Similarity.ivfPartitionedTopKWithEvidence(
            indexDir, batch, idCol, vecCol, k, cents, nprobe)
        topk.write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
        writeBatchLog(s, outDir, "_probe", id,
          s""""probed":${probed.length},"n_prefix":$nCells""")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming MAINTENANCE of a stored [[graft.ext.Similarity
    * .writeIvfIndex]] layout from a CDC stream of embedding vectors,
    * under the [[bandIndexMaintainSink]] contract. Each micro-batch
    * of `(id, vector, seq, op)` change rows applies via
    * [[graft.ext.Similarity.updateIvfIndex]]'s cell-local rewrite:
    * only the union of the touched ids' OLD cells (one column-pruned
    * scan, no vector bytes) and the upserts' NEW cells
    * re-materializes — untouched cells' files are never opened. The
    * centroids come from the index's OWN `_graft_ivf_layout` marker,
    * never from a caller; the `_maint` log's `n_prefix` carries the
    * layout's cell count. */
  def ivfIndexMaintainSink(changes: DataFrame, indexDir: String,
                           idCol: String, vecCol: String,
                           logDir: String, checkpoint: String,
                           seqCol: String = "seq",
                           opCol: String = "op"): org.apache.spark.sql.streaming.StreamingQuery =
    indexMaintainSink(changes, logDir, checkpoint) {
      graft.ext.Similarity.updateIvfIndexWithEvidence(
        indexDir, _, idCol, vecCol, seqCol, opCol)
    }

  /** The foreachBatch body the three maintain sinks share: `apply`
    * maintains the index from one micro-batch and returns its touched
    * dirs and the layout's total, logged to the `_maint` batch log
    * ([[writeBatchLog]]). */
  private def indexMaintainSink(changes: DataFrame, logDir: String,
                                checkpoint: String)(
      apply: DataFrame => (Array[_], Long)): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val (touched, nDirs) = apply(batch)
        writeBatchLog(batch.sparkSession, logDir, "_maint", id,
          s""""touched":${touched.length},"n_prefix":$nDirs""")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** ONE arrival stream served against ALL THREE stored index
    * families — the composed end of the indexed-serving story
    * ([[indexedBandGateSink]] / [[indexedHashGateSink]] /
    * [[indexedIvfGateSink]] are the single-family members). Each
    * micro-batch slices itself by modality (text / media payload /
    * embedding vector — null where absent) and serves every non-empty
    * slice against its family's index with that family's narrowing:
    * band prefixes for text, hash prefixes for media (payloads decode
    * ONCE inside the batch), probe cells for vectors — all three
    * constants read from each index's OWN layout marker. The
    * normalized output (`family`, id, `neighbor_id`, `metric` DOUBLE:
    * est_jaccard / hamming / cosine) writes per-batch-overwrite
    * (exactly-once in effect); the per-family narrowing evidence
    * goes to the `_probe` batch log in its `"families"` form
    * ([[writeBatchLog]]) so each trigger PROVES every family pruned
    * its scan. All three
    * indexes must be keyed by `idCol` (the serve functions resolve
    * the stored id column under the probe name) — one shared id
    * namespace, the natural contract for a single mixed-modality
    * stream. At 100 TB this is the serving topology a mixed-modality
    * ingest needs: one stream, three billion-row indexes, each batch
    * opening only the dirs its own arrivals can touch. */
  def indexedAllGateSink(arrivals: DataFrame, bandDir: String,
                         hashDir: String, ivfDir: String,
                         idCol: String, textCol: String,
                         payloadCol: String, vecCol: String,
                         k: Int, nprobe: Int,
                         outDir: String, checkpoint: String,
                         minJaccard: Double = 0.0,
                         maxHamming: Int = 3): org.apache.spark.sql.streaming.StreamingQuery =
    arrivals.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val batch = df.localCheckpoint()
        val s = batch.sparkSession
        val fams = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long)]
        // each family's serve computes its OWN narrowing evidence in
        // its probe collect (the WithEvidence variants) — the old
        // shape paid a SECOND full probe pass per family (re-shingle
        // the texts, re-DECODE the media payloads, re-assign the
        // vectors) just to log a number the serve already had
        val texts = batch.where(col(textCol).isNotNull)
          .select(col(idCol), col(textCol))
        val bandOut = if (texts.isEmpty) None else {
          val (matches, probed, np) = graft.ext.JobLabel(s,
            "serve-all: collect band probe prefixes") {
            graft.ext.Dedup.minhashMatchesIndexedWithEvidence(
              bandDir, texts, idCol, textCol, minJaccard)
          }
          fams += (("band", probed.length, np))
          Some(matches
            .select(lit("band").as("family"), col(idCol),
              col("neighbor_id"),
              col("est_jaccard").cast("double").as("metric")))
        }
        val media = batch.where(col(payloadCol).isNotNull)
          .select(col(idCol), col(payloadCol))
        val hashOut = if (media.isEmpty) None else {
          // decode ONCE per batch, literally: the pinned hash frame
          // feeds both the probe collect and the serve join (before
          // this, each of those actions re-decoded the payloads)
          val hashes = graft.ext.Multimodal.imageDHashes(media, payloadCol)
            .select(col(idCol), col("dhash")).localCheckpoint()
          val (matches, probed, np) = graft.ext.JobLabel(s,
            "serve-all: collect hash probe prefixes") {
            graft.ext.Dedup.hashMatchesIndexedWithEvidence(
              hashDir, hashes, idCol, "dhash", maxHamming)
          }
          fams += (("hash", probed.length, np.toLong))
          Some(matches
            .select(lit("hash").as("family"), col(idCol),
              col("neighbor_id"),
              col("hamming").cast("double").as("metric")))
        }
        val vecs = batch.where(col(vecCol).isNotNull)
          .select(col(idCol), col(vecCol))
        val ivfOut = if (vecs.isEmpty) None else {
          val cents = graft.ext.Similarity.ivfIndexCentroids(ivfDir, s)
          val (topk, probed, nCells) = graft.ext.JobLabel(s,
            "serve-all: collect ivf probe cells") {
            graft.ext.Similarity.ivfPartitionedTopKWithEvidence(
              ivfDir, vecs, idCol, vecCol, k, cents, nprobe)
          }
          fams += (("ivf", probed.length, nCells.toLong))
          Some(topk
            .select(lit("ivf").as("family"), col("query_id").as(idCol),
              col("neighbor_id"), col("cosine").as("metric")))
        }
        graft.ext.JobLabel(s, "serve-all: three-family match + write") {
          Seq(bandOut, hashOut, ivfOut).flatten
            .reduceOption(_.unionByName(_))
            .foreach(_.write.mode("overwrite")
              .parquet(s"$outDir/batch_id=$id"))
        }
        writeBatchLog(s, outDir, "_probe", id, fams.map { case (f, probed, np) =>
          s""""$f":{"probed":$probed,"n_prefix":$np}"""
        }.mkString("\"families\":{", ",", "}"))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming perceptual VIDEO gate: arriving GVID payloads decode
    * INSIDE their micro-batch ([[graft.ext.Multimodal
    * .videoFrameDHashes]] over the batch frame — sampled frames only,
    * skipped frames never decode) and vote against a reference
    * frame-hash set that was decoded once upstream and is passed in
    * as plain hashes. The temporal vote is a group-by aggregate, so
    * it cannot run in an append-mode streaming plan — but every
    * arrival's frames travel inside its own payload row, so the vote
    * COMPLETES within the batch and foreachBatch is semantically
    * exact, not an approximation: batching never splits a video.
    * Stateless across batches; per-batch overwrite keeps the
    * [[idempotentParquetSink]] exactly-once contract. `align` follows
    * [[graft.ext.Dedup.videoHashMatches]] (`"offset"` + stride 1 for
    * drift-tolerant serving). */
  def videoGateSink(arrivalPayloads: DataFrame, refFrameHashes: DataFrame,
                    idCol: String, payloadCol: String,
                    outDir: String, checkpoint: String,
                    stride: Int = 2, maxHamming: Int = 3,
                    bands: Int = 4, minMatches: Int = 2,
                    align: String = "aligned"): org.apache.spark.sql.streaming.StreamingQuery =
    arrivalPayloads.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val frames = graft.ext.Multimodal.videoFrameDHashes(
          df.select(df(idCol), df(payloadCol)), payloadCol, stride)
        graft.ext.Dedup.videoHashMatches(frames, refFrameHashes,
            idCol, "dhash", "frame_idx", maxHamming, bands, minMatches,
            align)
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming TIMED-video gate — [[videoGateSink]]'s drift-tolerant
    * sibling: arriving GVKF payloads decode KEYFRAMES ONLY inside
    * their micro-batch ([[graft.ext.Multimodal.videoKeyframeDHashes]]
    * — non-key frames seek past on the length prefix) and vote
    * `align="time"` (quantized timestamp-delta buckets) against a
    * reference keyframe-hash frame decoded once upstream. Same
    * foreachBatch exactness argument as the frame-index gate: every
    * arrival's keyframes travel inside its own payload row, so the
    * vote completes within the batch. Catches re-encodes whose
    * timestamps drifted (intro bumpers, ad inserts) that the
    * positional gate misses — with no dense-sampling requirement. */
  def timedVideoGateSink(arrivalPayloads: DataFrame,
                         refKeyHashes: DataFrame,
                         idCol: String, payloadCol: String,
                         outDir: String, checkpoint: String,
                         maxHamming: Int = 3, bands: Int = 4,
                         minMatches: Int = 2,
                         timeQuantMs: Int = 100): org.apache.spark.sql.streaming.StreamingQuery =
    arrivalPayloads.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val frames = graft.ext.Multimodal.videoKeyframeDHashes(
          df.select(df(idCol), df(payloadCol)), payloadCol)
        graft.ext.Dedup.videoHashMatches(frames, refKeyHashes,
            idCol, "dhash", "ts_ms", maxHamming, bands, minMatches,
            "time", graft.ext.Dedup.DefaultMaxBandBucket, timeQuantMs)
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming CDC apply: each micro-batch of change rows merges into
    * the CURRENT published version of `tableDir`
    * ([[graft.etl.Merge.applyCdc]]) and lands as a NEW version via the
    * atomic manifest flip ([[graft.etl.Publish.write]]) — the
    * production incremental-refresh pattern (change stream → keyed
    * upsert → transactional publish) without ever rewriting more than
    * one version's worth of data per batch, and with readers always
    * seeing a complete version. Within a batch, latest-`seq` wins
    * (Merge's contract); across batches, micro-batch order wins —
    * which is exactly CDC log order for an in-order source. A batch
    * REPLAYED after a crash re-merges the same changes onto the then-
    * current version: upserts and deletes are idempotent re-applied,
    * so the sink stays exactly-once in effect. */
  def cdcApplySink(changes: DataFrame, tableDir: String, key: String,
                   checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val base = graft.etl.Publish.read(spark, tableDir)
        graft.etl.Publish.write(
          graft.etl.Merge.applyCdc(base, batch, key), tableDir)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  // ---- transformWithState (the Spark 4 arbitrary-state successor) ----

  case class ValueEvent(user_id: Long, value: Double)
  case class UserTotal(user_id: Long, n_events: Long, total_value: Double)

  /** Running per-user totals on the `transformWithState` API — the
    * typed-composable-state successor to flatMapGroupsWithState
    * (named states with per-state TTL, timers, RocksDB-backed).
    * Value totals accumulate in integer cents so the running sum is
    * exact regardless of arrival order. Update mode: each micro-batch
    * emits the latest totals for the users it touched. */
  class RunningTotals extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, ValueEvent, UserTotal] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimerValues, ValueState}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var count: ValueState[Long] = _
    @transient private var cents: ValueState[Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      count = getHandle.getValueState[Long]("count", E.scalaLong, TTLConfig.NONE)
      cents = getHandle.getValueState[Long]("cents", E.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[ValueEvent],
                                 tv: TimerValues): Iterator[UserTotal] = {
      var n = if (count.exists()) count.get() else 0L
      var c = if (cents.exists()) cents.get() else 0L
      rows.foreach { e => n += 1; c += math.round(e.value * 100) }
      count.update(n)
      cents.update(c)
      Iterator.single(UserTotal(key, n, c / 100.0))
    }
  }

  /** Per-user running event counts + exact value totals via
    * [[RunningTotals]]. Requires the RocksDB state store provider
    * (the only backend transformWithState runs on — also the right
    * one at scale). */
  def runningTotals(events: Dataset[ValueEvent])
                   (implicit spark: SparkSession): Dataset[UserTotal] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotals, TimeMode.None(), OutputMode.Update())
  }

  /** Gap sessionization on transformWithState with EVENT-TIME timers:
    * intra-batch gaps close sessions inline; the trailing open
    * session registers a timer at `last + gap`, and when the
    * WATERMARK passes it, [[handleExpiredTimer]] emits the session
    * and clears state — so idle sessions flush on event-time
    * progress, not wall-clock luck. Stale timers (superseded by a
    * later event) are recognized by re-checking `last + gap` at
    * expiry. */
  class SessionTimers(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, Session] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig, TimerValues, ValueState}
    @transient private var st: ValueState[SessionState] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[SessionState]("sess",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[Session] = {
      val sorted = rows.toSeq.sortBy(_.ts.getTime)
      var s = if (st.exists()) st.get() else SessionState(0, Long.MaxValue, Long.MinValue)
      val out = scala.collection.mutable.Buffer.empty[Session]
      sorted.foreach { e =>
        val t = e.ts.getTime
        if (s.count > 0 && t - s.last > gapMs) {
          out += Session(key, s.count, (s.last - s.start) / 1000.0)
          s = SessionState(0, Long.MaxValue, Long.MinValue)
        }
        s = SessionState(s.count + 1, math.min(s.start, t), math.max(s.last, t))
      }
      if (s.count > 0) {
        st.update(s)
        getHandle.registerTimer(s.last + gapMs)
      }
      out.iterator
    }
    override def handleExpiredTimer(key: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[Session] = {
      if (st.exists()) {
        val s = st.get()
        // a later event may have extended the session past this timer
        if (s.last + gapMs <= info.getExpiryTimeInMs()) {
          st.clear()
          return Iterator.single(Session(key, s.count, (s.last - s.start) / 1000.0))
        }
      }
      Iterator.empty
    }
  }

  /** [[SessionTimers]] over a watermarked event stream (event-time
    * mode requires the watermark; RocksDB state store required). */
  def sessionizeWithTimers(events: Dataset[Event], gapSec: Long,
                           watermarkDelay: String = "0 seconds")
                          (implicit spark: SparkSession): Dataset[Session] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimers(gapSec * 1000),
        TimeMode.EventTime(), OutputMode.Append())
  }

  // ---- stateful processing (flatMapGroupsWithState surface) ----

  case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  case class SessionState(count: Long, start: Long, last: Long)
  case class Session(user_id: Long, n_events: Long, duration_sec: Double)

  /** Gap-based sessionization per user: emit a session when `gapSec`
    * passes without activity (ProcessingTime timeout in streams; the
    * trailing open session is flushed at the end of a batch run).
    * Demonstrates the custom-state surface
    * (`KeyValueGroupedDataset.flatMapGroupsWithState`). */
  def sessionize(events: Dataset[Event], gapSec: Long = 1800)
                (implicit spark: SparkSession): Dataset[Session] = {
    import spark.implicits._
    val streaming = events.isStreaming
    def fn(userId: Long, rows: Iterator[Event],
           state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        // gapSec of processing time with no new events: the open
        // session is idle — flush it and drop the state.
        val st = state.get
        state.remove()
        Iterator.single(Session(userId, st.count, (st.last - st.start) / 1000.0))
      } else {
        val sorted = rows.toSeq.sortBy(_.ts.getTime)
        var st = state.getOption.getOrElse(SessionState(0, Long.MaxValue, Long.MinValue))
        val out = scala.collection.mutable.Buffer.empty[Session]
        sorted.foreach { e =>
          val t = e.ts.getTime
          if (st.count > 0 && t - st.last > gapSec * 1000) {
            out += Session(userId, st.count, (st.last - st.start) / 1000.0)
            st = SessionState(0, Long.MaxValue, Long.MinValue)
          }
          st = SessionState(st.count + 1, math.min(st.start, t), math.max(st.last, t))
        }
        if (st.count > 0) {
          if (streaming) {
            state.update(st)
            state.setTimeoutDuration(gapSec * 1000)
          } else {
            // batch runs the group exactly once — no later trigger will
            // ever time the state out, so flush the open session now
            out += Session(userId, st.count, (st.last - st.start) / 1000.0)
          }
        }
        out.iterator
      }
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        if (streaming) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout)(fn)
  }
}
