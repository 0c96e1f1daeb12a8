package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.ScoreStream

/** Structured-Streaming execution of the windowed scoring aggregate:
  * the stream over the events fixture must produce exactly the batch
  * result; stateful sessionization emits plausible sessions. */
class StreamingSpec extends AnyFunSuite with SparkTestSession {

  lazy val sfDir = "/root/testdata/sf0.001"

  test("streaming windowed counts equal the batch result") {
    import spark.implicits._
    val batchDf = graft.ops.Tables.events(spark, sfDir)
    // stream source must be a directory of files
    val dir = java.nio.file.Files.createTempDirectory("events").toString
    batchDf.write.mode("overwrite").parquet(dir)

    val stream = ScoreStream.readEventsStream(spark, dir, batchDf.schema)
    assert(stream.isStreaming)
    val agg = ScoreStream.windowedCounts(stream, "ts", "event_type")
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("win_out")
      .start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("win_out")
      .select("window_start", "event_type", "n", "total_value")
      .collect().map(_.toSeq).toSet
    val batch = ScoreStream.windowedCounts(batchDf, "ts", "event_type")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"streamed ${streamed.size} vs batch ${batch.size}")
    assert(batch.nonEmpty)
  }

  test("streaming scored counts run end-to-end with a trained model") {
    import spark.implicits._
    val train = Seq(("click", "user clicked a button"),
      ("error", "system error occurred"), ("click", "clicked again"),
      ("error", "error in module")).toDF("label", "text")
    val model = graft.ml.Trainer.train(train, "label", "text",
      graft.ml.Trainer.Params(epoch = 2, wordNgrams = 1, numFeatures = 1 << 10))

    val batchDf = graft.ops.Tables.events(spark, sfDir)
      .withColumn("text", concat_ws(" ", col("event_type"), col("props")))
    val dir = java.nio.file.Files.createTempDirectory("events2").toString
    batchDf.write.mode("overwrite").parquet(dir)
    val stream = ScoreStream.readEventsStream(spark, dir, batchDf.schema)
    val agg = ScoreStream.scoredWindowedCounts(stream, model, "text", "ts")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("scored_out").start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("scored_out").count() > 0)
  }

  test("stream-stream interval join equals the batch join") {
    val ev = graft.ops.Tables.events(spark, sfDir)
    val clicksDir = java.nio.file.Files.createTempDirectory("clicks").toString
    val purchDir = java.nio.file.Files.createTempDirectory("purch").toString
    val clicks = ev.where(col("event_type") === "click")
    val purchases = ev.where(col("event_type") === "purchase")
    // two incremental drops per side — the join must still see
    // cross-file pairs once both sides' files have arrived
    clicks.where(col("event_id") % 2 === 0).write.parquet(s"$clicksDir/b0")
    clicks.where(col("event_id") % 2 === 1).write.parquet(s"$clicksDir/b1")
    purchases.where(col("event_id") % 2 === 0).write.parquet(s"$purchDir/b0")
    purchases.where(col("event_id") % 2 === 1).write.parquet(s"$purchDir/b1")

    val cs = spark.readStream.schema(clicks.schema)
      .option("recursiveFileLookup", "true").parquet(clicksDir)
    val ps = spark.readStream.schema(purchases.schema)
      .option("recursiveFileLookup", "true").parquet(purchDir)
    val joined = ScoreStream.clickPurchaseAttribution(cs, ps)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("join_out").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("join_out").collect().map(_.toSeq).toSet
    val batch = ScoreStream.clickPurchaseAttribution(clicks, purchases)
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch, s"streamed ${streamed.size} vs batch ${batch.size}")
  }

  test("streaming dedup drops watermark-window duplicates") {
    val ev = graft.ops.Tables.events(spark, sfDir).limit(200)
    val dir = java.nio.file.Files.createTempDirectory("dups").toString
    // same 200 events written twice → an at-least-once source
    ev.write.parquet(s"$dir/b0")
    ev.write.parquet(s"$dir/b1")
    val stream = spark.readStream.schema(ev.schema)
      .option("recursiveFileLookup", "true").parquet(dir)
    val deduped = ScoreStream.dedupedEvents(stream, "ts", Seq("event_id"),
      watermark = "365 days") // horizon spans the fixture's whole range
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup_out").count() == 200)
    assert(spark.table("dedup_out").select("event_id").distinct().count() == 200)
  }

  test("checkpointed file-sink stream resumes exactly-once across restarts") {
    import org.apache.spark.sql.streaming.Trigger
    val ev = graft.ops.Tables.events(spark, sfDir)
    val src = java.nio.file.Files.createTempDirectory("ck_src").toString
    val sink = java.nio.file.Files.createTempDirectory("ck_sink").toString
    val chk = java.nio.file.Files.createTempDirectory("ck_chk").toString
    def runOnce(): Unit = {
      val stream = ScoreStream.readEventsStream(spark, src, ev.schema)
      val q = stream.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // first half, process, then append the second half and RESTART the
    // query from the same checkpoint — the sink must end exactly-once
    ev.where(col("event_id") % 2 === 0).write.mode("append").parquet(src)
    runOnce()
    ev.where(col("event_id") % 2 =!= 0).write.mode("append").parquet(src)
    runOnce()
    val out = spark.read.parquet(sink)
    assert(out.count() == ev.count(), s"${out.count()} != ${ev.count()}")
    assert(out.select("event_id").distinct().count() == ev.count())
  }

  test("windowed counts run on the RocksDB state store (scale backend)") {
    // the default HDFS-backed store keeps all state on the executor
    // heap — a 100M-key watermark horizon OOMs it; RocksDB spills to
    // local disk and is the backend a 100 TB streaming job runs on.
    // Same query, same results, one config switch.
    val batchDf = graft.ops.Tables.events(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("rocks_src").toString
    batchDf.write.mode("overwrite").parquet(dir)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = ScoreStream.readEventsStream(spark, dir, batchDf.schema)
      val agg = ScoreStream.windowedCounts(stream, "ts", "event_type")
      val q = agg.writeStream.outputMode("complete")
        .format("memory").queryName("rocks_out").start()
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table("rocks_out")
        .select("window_start", "event_type", "n", "total_value")
        .collect().map(_.toSeq).toSet
      val batch = ScoreStream.windowedCounts(batchDf, "ts", "event_type")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch, s"streamed ${streamed.size} vs batch ${batch.size}")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("stream-static broadcast enrichment joins each micro-batch") {
    import spark.implicits._
    val ev = graft.ops.Tables.events(spark, sfDir).limit(100)
    val dir = java.nio.file.Files.createTempDirectory("enrich_src").toString
    ev.write.mode("overwrite").parquet(dir)
    val dim = Seq(("click", "engagement"), ("purchase", "revenue"))
      .toDF("event_type", "category")
    val stream = ScoreStream.readEventsStream(spark, dir, ev.schema)
    val enriched = ScoreStream.enrichWithDim(stream, dim, Seq("event_type"))
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("enrich_out")
    assert(out.count() == 100)
    // left join: known types enriched, unknown types survive with null
    assert(out.where(col("event_type") === "click" &&
      col("category") =!= "engagement").count() == 0)
    assert(out.columns.contains("category"))
  }

  test("streaming LM quality monitor: windowed bits match batch, drift source scores higher") {
    import spark.implicits._
    // frozen model trained on an in-distribution batch corpus
    val target = Seq.tabulate(20)(i => (i.toLong, "a b a b a b a b", "en"))
      .toDF("doc_id", "text", "lang")
    val model = graft.ext.Selection.lmTrain(target, "text",
      col("lang") === "en")
    // arriving stream: one in-distribution source, one drifted source,
    // all inside a single 1-minute window
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:10")
    val rows = Seq(
      (t0, "good", "a b a b a"),
      (t0, "good", "b a b a"),
      (t0, "drift", "zz qq xx yy"))
    val dir = java.nio.file.Files.createTempDirectory("lmmon_src").toString
    rows.toDF("ts", "source", "text").write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val monitored = ScoreStream.lmQualityMonitor(stream, model,
      "ts", "source", "text")
    // complete mode: a watermarked window only FINALIZES (append-emits)
    // once a later watermark passes it; a monitor dashboard reads the
    // running aggregate instead
    val q = monitored.writeStream.outputMode("complete")
      .format("memory").queryName("lmmon_out").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("lmmon_out").collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getDouble(3))).toMap
    // same values as the batch path over the same frame
    val batch = ScoreStream.lmQualityMonitor(
        spark.read.parquet(dir), model, "ts", "source", "text")
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out == batch, s"stream=$out batch=$batch")
    // volumes: 7 bigrams from "good" (4 + 3), 3 from "drift"
    assert(out("good")._1 == 7 && out("drift")._1 == 3)
    // the drifted source backs off to uniform (8 bits exactly, no
    // bucket collisions — see ExtSpec's LM backoff test); the
    // in-distribution source scores strictly lower
    assert(out("drift")._2 == 8.0, out.toString)
    assert(out("good")._2 < out("drift")._2)
  }

  test("streaming contamination gate: per-source flags match batch exactly") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:10")
    // probe set = the eval phrase; one stream source leaks it verbatim
    // (and twice in one doc — per-OCCURRENCE counting), one is clean
    val evalText = "the quick brown fox jumps over the lazy dog"
    val probes = Seq(evalText).toDF("text")
    val rows = Seq(
      (t0, "leaky", evalText),
      (t0, "leaky", s"prefix words $evalText suffix $evalText end"),
      (t0, "leaky", "completely unrelated words here nothing shared"),
      (t0, "clean", "other unrelated prose with no overlap at all"),
      (t0, "clean", "more clean text entirely disjoint from probes"))
    val dir = java.nio.file.Files.createTempDirectory("ctm_src").toString
    rows.toDF("ts", "source", "text").write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = ScoreStream.contaminationMonitor(stream, probes,
        "ts", "source", "text")
      .writeStream.outputMode("complete")
      .format("memory").queryName("ctm_out").start()
    q.processAllAvailable()
    q.stop()
    def grab(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(1) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5))).toMap
    val out = grab(spark.table("ctm_out"))
    val batch = grab(ScoreStream.contaminationMonitor(
      spark.read.parquet(dir), probes, "ts", "source", "text"))
    assert(out == batch, s"stream=$out batch=$batch")
    // leaky: verbatim doc has all 7 probe shingles; the embedded doc
    // carries the phrase twice = 14 occurrences; third doc is clean
    assert(out("leaky") == ((3L, 2L, BigDecimal(2.0 / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, 21L)),
      out.toString)
    assert(out("clean") == ((2L, 0L, 0.0, 0L)), out.toString)
    // per-doc flags agree with the batch contamination operator's
    // per-occurrence n_hits on the docs it reports
    val ids = spark.read.parquet(dir)
      .withColumn("doc_id", monotonically_increasing_id()).persist()
    val flagged = ScoreStream.contaminationFlags(ids, probes, "text")
      .where(col("n_hits") > 0)
      .select("doc_id", "n_hits").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val reference = graft.ext.Dedup.contamination(ids, probes, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged == reference, s"flags=$flagged ref=$reference")
  }

  test("streaming C4 quality monitor: per-source pass rates match batch exactly") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:10")
    val good = "one two three four five six.\nseven eight nine ten eleven!" +
      "\nalpha beta gamma delta epsilon?"
    val rows = Seq(
      (t0, "clean", good),
      (t0, "clean", good + "\ntoo short."), // extra line drops, page passes
      (t0, "boiler", "no punctuation boilerplate stream"),
      (t0, "boiler", "enable javascript to view this page"))
    val dir = java.nio.file.Files.createTempDirectory("c4mon_src").toString
    rows.toDF("ts", "source", "text").write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = ScoreStream.c4QualityMonitor(stream, "ts", "source", "text")
      .writeStream.outputMode("complete")
      .format("memory").queryName("c4mon_out").start()
    q.processAllAvailable()
    q.stop()
    def grab(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(1) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    val out = grab(spark.table("c4mon_out"))
    val batch = grab(ScoreStream.c4QualityMonitor(
      spark.read.parquet(dir), "ts", "source", "text"))
    assert(out == batch, s"stream=$out batch=$batch")
    // clean: both pages pass; 3 of 3 + 3 of 4 lines survive
    assert(out("clean") == ((2L, 2L, 1.0, 6.0 / 7.0 match {
      case v => BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    })), out.toString)
    // boiler: nothing passes, nothing survives
    assert(out("boiler") == ((2L, 0L, 0.0, 0.0)), out.toString)
  }

  test("streaming CDC apply merges batches in order into atomic published versions") {
    import spark.implicits._
    val tableDir = java.nio.file.Files.createTempDirectory("cdc_table").toString
    val srcDir = java.nio.file.Files.createTempDirectory("cdc_src").toString
    val chk = java.nio.file.Files.createTempDirectory("cdc_chk").toString
    // publish the base version
    etl.Publish.write(Seq(
      (1L, "one"), (2L, "two"), (3L, "three")).toDF("doc_id", "text"), tableDir)
    // two change files = two micro-batches (maxFilesPerTrigger=1),
    // ordered by modification time: batch A updates 2, batch B
    // deletes 2 and inserts 9 — final state must reflect B over A
    val schema = "doc_id BIGINT, seq BIGINT, op STRING, text STRING"
    // flat single-file drops with unambiguous mtime order (a before b)
    def drop(name: String, rows: Seq[(Long, Long, String, String)], t: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("cdc_w").toString
      rows.toDF("doc_id", "seq", "op", "text")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(srcDir, name)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(t))
    }
    val now = System.currentTimeMillis()
    drop("a.parquet", Seq((2L, 1L, "u", "two v2")), now - 60000)
    drop("b.parquet", Seq((2L, 2L, "d", "x"), (9L, 1L, "u", "nine")), now)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = ScoreStream.cdcApplySink(stream, tableDir, "doc_id", chk)
    q.awaitTermination()
    val got = etl.Publish.read(spark, tableDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "one"), (3L, "three"), (9L, "nine")), got)
    // each batch published atomically: base + 2 merge versions retained
    assert(etl.Publish.versions(tableDir).length == 3)
    // restart with the same checkpoint: nothing to do, no new version
    val q2 = ScoreStream.cdcApplySink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$srcDir/*"), tableDir, "doc_id", chk)
    q2.awaitTermination()
    assert(etl.Publish.versions(tableDir).length == 3)
  }

  test("foreachBatch sink is idempotent under batch replay") {
    val ev = graft.ops.Tables.events(spark, sfDir).limit(300)
    val src = java.nio.file.Files.createTempDirectory("idem_src").toString
    val out = java.nio.file.Files.createTempDirectory("idem_out").toString
    val chk = java.nio.file.Files.createTempDirectory("idem_chk").toString
    ev.write.mode("overwrite").parquet(src)
    def runOnce(): Unit = {
      val stream = ScoreStream.readEventsStream(spark, src, ev.schema)
      val q = ScoreStream.idempotentParquetSink(stream, out, chk)
      q.awaitTermination()
      q.stop()
      // the manager deregisters terminated queries asynchronously; the
      // next run reuses the same checkpoint and must not race it
      val deadline = System.currentTimeMillis() + 30000
      while (spark.streams.active.exists(_.id == q.id) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    }
    runOnce()
    // simulate a crash AFTER the sink wrote but BEFORE the engine
    // committed: drop the batch-0 commit marker — on restart Spark
    // REPLAYS batch 0 under the same id, and the per-batch overwrite
    // must absorb the duplicate delivery
    val commit = new java.io.File(s"$chk/commits/0")
    assert(commit.exists(), "checkpoint layout changed?")
    assert(commit.delete())
    // the local ChecksumFs keeps a .crc sidecar that would block the
    // replayed commit's rename — a real HDFS/S3 crash loses both
    new java.io.File(s"$chk/commits/.0.crc").delete()
    runOnce()
    val result = spark.read.parquet(out)
    assert(result.count() == 300, s"${result.count()} != 300 (duplicated replay?)")
    assert(result.select("event_id").distinct().count() == 300)
  }

  test("band index maintenance: killed mid-log, crash-replayed, resumed — converges") {
    // The restart proof the domain-quota gate already has, applied to
    // the index maintainer: run 1 dies with the CDC log part-read
    // (only the first change file processed); the batch-0 commit
    // marker is then dropped to simulate a crash AFTER updateBandIndex
    // rewrote dirs but BEFORE the engine committed; run 2 from the
    // same checkpoint must REPLAY batch 0 onto the already-updated
    // layout (idempotent by the upsert-rewrite/absent-delete argument)
    // and then drain the rest of the log. Final gate: the maintained
    // layout is row-identical to an uninterrupted from-scratch build.
    val base = java.nio.file.Files.createTempDirectory("bmaint_restart").toString
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text").limit(30).localCheckpoint()
    val idir = s"$base/idx"
    graft.ext.Dedup.writeBandIndex(docs, "text", "doc_id", idir,
      prefixChars = 2)
    // disjoint id classes — any batch split yields the same end state
    val upd = docs.where(col("doc_id") < 5)
      .select(col("doc_id"),
        concat(col("text"), lit(" restarted update")).as("text"),
        lit(1L).as("seq"), lit("u").as("op"))
    val del = docs.where(col("doc_id") >= 5 && col("doc_id") < 10)
      .select(col("doc_id"), lit("").as("text"),
        lit(1L).as("seq"), lit("d").as("op"))
    val ins = docs.where(col("doc_id") >= 10 && col("doc_id") < 15)
      .select((col("doc_id") + 500000).as("doc_id"),
        concat(col("text"), lit(" restart insert")).as("text"),
        lit(1L).as("seq"), lit("i").as("op"))
    val srcDir = new java.io.File(s"$base/src")
    assert(srcDir.mkdirs())
    def drop(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("bmaint_w").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(srcDir, name).toPath)
      ()
    }
    val schema = upd.schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      val q = ScoreStream.bandIndexMaintainSink(
        stream, idir, "text", "doc_id", s"$base/out", s"$base/chk")
      q.awaitTermination()
      q.stop()
      val deadline = System.currentTimeMillis() + 30000
      while (spark.streams.active.exists(_.id == q.id) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    }
    drop("a.parquet", upd)
    runOnce() // dies mid-log: only the update wave was visible
    // crash-before-commit: batch 0 must replay on restart
    val commit = new java.io.File(s"$base/chk/commits/0")
    assert(commit.exists(), "checkpoint layout changed?")
    assert(commit.delete())
    new java.io.File(s"$base/chk/commits/.0.crc").delete()
    drop("b.parquet", del)
    drop("c.parquet", ins)
    runOnce() // replays batch 0, then drains the remaining two waves
    val logs = ScoreStream.readBatchLogs(spark, s"$base/out", "_maint")
      .map(_.batch).toSet
    assert(Set(0L, 1L, 2L).subsetOf(logs), logs.toString)
    val post = graft.etl.Merge.applyCdc(docs,
      upd.unionByName(del).unionByName(ins), "doc_id")
    val rdir = s"$base/rebuild"
    graft.ext.Dedup.writeBandIndex(post, "text", "doc_id", rdir,
      prefixChars = 2)
    val maintained = spark.read.parquet(idir)
    val rebuilt = spark.read.parquet(rdir)
      .select(maintained.columns.map(col).toIndexedSeq: _*)
    assert(maintained.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(maintained).isEmpty,
      "restarted maintenance diverged from an uninterrupted rebuild")
  }

  test("hash index maintenance: killed mid-log, crash-replayed, resumed — converges") {
    // The band restart proof applied to the perceptual twin: run 1
    // dies with only the first change file visible; the batch-0
    // commit marker is dropped (crash after updateHashIndex rewrote
    // dirs, before the engine committed); run 2 replays batch 0 onto
    // the already-updated layout, then drains the rest. Final gate:
    // the maintained layout is row-identical to an uninterrupted
    // from-scratch build of the CDC-applied media corpus.
    import spark.implicits._
    val M = graft.ext.Multimodal
    val base = java.nio.file.Files.createTempDirectory("hmaint_restart").toString
    val media = (0L until 30L).map { id =>
      (id, M.ImageFixture.png(M.ImageFixture.pixels(id, perturbed = false)))
    }.toDF("doc_id", "payload").localCheckpoint()
    val idir = s"$base/idx"
    val baseHashes = M.imageDHashes(media, "payload").drop("payload")
    graft.ext.Dedup.writeHashIndex(baseHashes, "doc_id", "dhash", idir,
      bands = 4, nPrefix = 16)
    // disjoint id classes — any batch split yields the same end state
    val upd = (0L until 5L).map { id =>
      (id, M.ImageFixture.png(M.ImageFixture.pixels(id, perturbed = true)),
        1L, "u")
    }.toDF("doc_id", "payload", "seq", "op")
    val del = (5L until 10L).map { id =>
      (id, null.asInstanceOf[Array[Byte]], 1L, "d")
    }.toDF("doc_id", "payload", "seq", "op")
    val ins = (10L until 15L).map { id =>
      (id + 500000L,
        M.ImageFixture.png(M.ImageFixture.pixels(id + 77L, perturbed = false)),
        1L, "i")
    }.toDF("doc_id", "payload", "seq", "op")
    val srcDir = new java.io.File(s"$base/src")
    assert(srcDir.mkdirs())
    def drop(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("hmaint_w").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(srcDir, name).toPath)
      ()
    }
    val schema = upd.schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      val q = ScoreStream.hashIndexMaintainSink(
        stream, idir, "doc_id", "payload", s"$base/out", s"$base/chk")
      q.awaitTermination()
      q.stop()
      val deadline = System.currentTimeMillis() + 30000
      while (spark.streams.active.exists(_.id == q.id) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    }
    drop("a.parquet", upd)
    runOnce() // dies mid-log: only the update wave was visible
    val commit = new java.io.File(s"$base/chk/commits/0")
    assert(commit.exists(), "checkpoint layout changed?")
    assert(commit.delete())
    new java.io.File(s"$base/chk/commits/.0.crc").delete()
    drop("b.parquet", del)
    drop("c.parquet", ins)
    runOnce() // replays batch 0, then drains the remaining two waves
    val logs = ScoreStream.readBatchLogs(spark, s"$base/out", "_maint")
      .map(_.batch).toSet
    assert(Set(0L, 1L, 2L).subsetOf(logs), logs.toString)
    val postMedia = graft.etl.Merge.applyCdc(media,
      upd.unionByName(del).unionByName(ins), "doc_id")
    val rdir = s"$base/rebuild"
    graft.ext.Dedup.writeHashIndex(
      M.imageDHashes(postMedia, "payload").drop("payload"),
      "doc_id", "dhash", rdir, bands = 4, nPrefix = 16)
    val maintained = spark.read.parquet(idir)
    val rebuilt = spark.read.parquet(rdir)
      .select(maintained.columns.map(col).toIndexedSeq: _*)
    assert(maintained.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(maintained).isEmpty,
      "restarted hash maintenance diverged from an uninterrupted rebuild")
  }

  test("IVF index maintenance: killed mid-log, crash-replayed, resumed — converges") {
    // The same restart proof for the vector member: centroids come
    // from the index's own marker (the sink takes none), so the
    // resumed run must keep assigning under the frozen layout. Final
    // gate: maintained layout row-identical to a from-scratch build
    // of the CDC-applied corpus under the same centroids.
    val S = graft.ext.Similarity
    val base = java.nio.file.Files.createTempDirectory("imaint_restart").toString
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint()
    val cents = S.kmeansCentroids(e, "vec_id", "embedding", 8, iters = 1)
    val idir = s"$base/idx"
    S.writeIvfIndex(e, "vec_id", "embedding", cents, idir)
    // disjoint id classes: update moves vectors to new cells
    // (reversed embedding), deletes drop, inserts add fresh ids
    val upd = e.where(col("vec_id") < 5)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"),
        lit(1L).as("seq"), lit("u").as("op"))
    val del = e.where(col("vec_id") >= 5 && col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"),
        lit(1L).as("seq"), lit("d").as("op"))
    val ins = e.where(col("vec_id") >= 10 && col("vec_id") < 15)
      .select((col("vec_id") + 9000).as("vec_id"),
        reverse(col("embedding")).as("embedding"),
        lit(1L).as("seq"), lit("i").as("op"))
    val srcDir = new java.io.File(s"$base/src")
    assert(srcDir.mkdirs())
    def drop(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("imaint_w").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(srcDir, name).toPath)
      ()
    }
    val schema = upd.schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      val q = ScoreStream.ivfIndexMaintainSink(
        stream, idir, "vec_id", "embedding", s"$base/out", s"$base/chk")
      q.awaitTermination()
      q.stop()
      val deadline = System.currentTimeMillis() + 30000
      while (spark.streams.active.exists(_.id == q.id) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    }
    drop("a.parquet", upd)
    runOnce() // dies mid-log: only the update wave was visible
    val commit = new java.io.File(s"$base/chk/commits/0")
    assert(commit.exists(), "checkpoint layout changed?")
    assert(commit.delete())
    new java.io.File(s"$base/chk/commits/.0.crc").delete()
    drop("b.parquet", del)
    drop("c.parquet", ins)
    runOnce() // replays batch 0, then drains the remaining two waves
    val logs = ScoreStream.readBatchLogs(spark, s"$base/out", "_maint")
      .map(_.batch).toSet
    assert(Set(0L, 1L, 2L).subsetOf(logs), logs.toString)
    val applied = graft.etl.Merge.applyCdc(e,
      upd.unionByName(del).unionByName(ins), "vec_id")
    val rdir = s"$base/rebuild"
    S.writeIvfIndex(applied, "vec_id", "embedding", cents, rdir)
    def content(d: String) = spark.read.parquet(d)
      .select(col("vec_id"), col("cell"),
        md5(col("embedding").cast("string")).as("emb_md5"))
    val maintained = content(idir)
    val rebuilt = content(rdir)
    assert(maintained.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(maintained).isEmpty,
      "restarted IVF maintenance diverged from an uninterrupted rebuild")
  }

  test("batch log: the reader returns what the writer wrote, replays and families included") {
    val dir = java.nio.file.Files.createTempDirectory("batch log").toString
    val families = """"families":{"band":{"probed":5,"n_prefix":256},""" +
      """"hash":{"probed":9,"n_prefix":256},"ivf":{"probed":2,"n_prefix":16}}"""
    ScoreStream.writeBatchLog(spark, dir, "_maint", 10, """"touched":1,"n_prefix":16""")
    ScoreStream.writeBatchLog(spark, dir, "_maint", 2, """"touched":7,"n_prefix":16""")
    // a replayed batch 2 overwrites its own record
    ScoreStream.writeBatchLog(spark, dir, "_maint", 2, """"touched":3,"n_prefix":16""")
    ScoreStream.writeBatchLog(spark, dir, "_probe", 0, families)
    ScoreStream.writeBatchLog(spark, dir, "_probe", 1, """"probed":4,"n_prefix":1024""")
    assert(ScoreStream.readBatchLogs(spark, dir, "_maint") == Seq(
      ScoreStream.BatchLog(2, Map("" -> ((3L, 16L)))),
      ScoreStream.BatchLog(10, Map("" -> ((1L, 16L))))))
    assert(ScoreStream.readBatchLogs(spark, dir, "_probe") == Seq(
      ScoreStream.BatchLog(0, Map("band" -> ((5L, 256L)), "hash" -> ((9L, 256L)),
        "ivf" -> ((2L, 16L)))),
      ScoreStream.BatchLog(1, Map("" -> ((4L, 1024L))))))
    assert(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      s"$dir/_maint/batch-2.json")), "UTF-8") == """{"batch":2,"touched":3,"n_prefix":16}""")
  }

  test("index build, maintain sink and serve run under a path with a space") {
    // Every layout, marker, swap and batch-log path resolves its
    // filesystem through Path, so a dir name `read.parquet` accepts
    // (here: a space) must work end to end for each family.
    import spark.implicits._
    val D = graft.ext.Dedup
    val M = graft.ext.Multimodal
    val S = graft.ext.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft idx space").toString
    assert(base.contains(" "))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).toSeq.sorted
    /** One change batch through `sink`; returns its `_maint` log. */
    def maintain(family: String, batch: org.apache.spark.sql.DataFrame)(
        sink: (org.apache.spark.sql.DataFrame, String, String) =>
          org.apache.spark.sql.streaming.StreamingQuery): Seq[ScoreStream.BatchLog] = {
      val src = s"$base/$family src"
      batch.coalesce(1).write.mode("overwrite").parquet(src)
      val q = sink(spark.readStream.schema(batch.schema).parquet(src),
        s"$base/$family log", s"$base/$family chk")
      try q.awaitTermination() finally q.stop()
      ScoreStream.readBatchLogs(spark, s"$base/$family log", "_maint")
    }
    /** The log holds batch 0 alone, which rewrote 1 to `nDirs` of the
      * layout's `nDirs` dirs. */
    def batch0Of(nDirs: Long)(log: Seq[ScoreStream.BatchLog]): Boolean = log match {
      case Seq(ScoreStream.BatchLog(0L, fams)) => fams.get("").exists {
        case (touched, total) => total == nDirs && touched > 0 && touched <= nDirs
      } && fams.size == 1
      case _ => false
    }

    // band
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text").limit(30).localCheckpoint()
    val bdir = s"$base/band idx"
    D.writeBandIndex(docs, "text", "doc_id", bdir, prefixChars = 2)
    val bChanges = docs.where(col("doc_id") < 3)
      .select(col("doc_id"), concat(col("text"), lit(" spaced update")).as("text"),
        lit(1L).as("seq"), lit("u").as("op"))
      .unionByName(docs.where(col("doc_id") === 3L)
        .select(col("doc_id"), lit("").as("text"), lit(1L).as("seq"), lit("d").as("op")))
      .localCheckpoint()
    val bLog = maintain("band", bChanges)(
      ScoreStream.bandIndexMaintainSink(_, bdir, "text", "doc_id", _, _))
    assert(batch0Of(256)(bLog), bLog)
    val bArr = bChanges.where(col("op") =!= "d").select("doc_id", "text")
    val bPost = graft.etl.Merge.applyCdc(docs, bChanges, "doc_id")
    val bServed = rows(D.minhashMatchesIndexed(bdir, bArr, "doc_id", "text"))
    assert(bServed.nonEmpty)
    assert(bServed == rows(D.minhashMatches(bArr, bPost, "doc_id", "text")))

    // hash
    val media = (0L until 20L).map { id =>
      (id, M.ImageFixture.png(M.ImageFixture.pixels(id, perturbed = false)))
    }.toDF("doc_id", "payload").localCheckpoint()
    val hdir = s"$base/hash idx"
    D.writeHashIndex(M.imageDHashes(media, "payload").drop("payload"),
      "doc_id", "dhash", hdir, bands = 4, nPrefix = 16)
    val hChanges = ((0L until 2L).map { id =>
      (id, M.ImageFixture.png(M.ImageFixture.pixels(id, perturbed = true)), 1L, "u")
    } :+ ((2L, null.asInstanceOf[Array[Byte]], 1L, "d")))
      .toDF("doc_id", "payload", "seq", "op").localCheckpoint()
    val hLog = maintain("hash", hChanges)(
      ScoreStream.hashIndexMaintainSink(_, hdir, "doc_id", "payload", _, _))
    assert(batch0Of(16)(hLog), hLog)
    val hArr = M.imageDHashes(hChanges.where(col("op") =!= "d"), "payload")
      .select("doc_id", "dhash")
    val hPost = M.imageDHashes(
      graft.etl.Merge.applyCdc(media, hChanges, "doc_id"), "payload")
      .select("doc_id", "dhash")
    val hServed = rows(D.hashMatchesIndexed(hdir, hArr, "doc_id", "dhash"))
    assert(hServed.nonEmpty)
    assert(hServed == rows(D.hashMatches(hArr, hPost, "doc_id", "dhash")))

    // ivf
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").limit(200).localCheckpoint()
    val cents = S.kmeansCentroids(e, "vec_id", "embedding", 8, iters = 1)
    val idir = s"$base/ivf idx"
    S.writeIvfIndex(e, "vec_id", "embedding", cents, idir)
    val iChanges = e.where(col("vec_id") < 3)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"),
        lit(1L).as("seq"), lit("u").as("op"))
      .unionByName(e.where(col("vec_id") === 3L)
        .select(col("vec_id"), col("embedding"), lit(1L).as("seq"), lit("d").as("op")))
      .localCheckpoint()
    val iLog = maintain("ivf", iChanges)(
      ScoreStream.ivfIndexMaintainSink(_, idir, "vec_id", "embedding", _, _))
    assert(batch0Of(8)(iLog), iLog)
    val iArr = iChanges.where(col("op") =!= "d").select("vec_id", "embedding")
    val iPost = graft.etl.Merge.applyCdc(e, iChanges, "vec_id")
    val iServed = rows(S.ivfPartitionedTopK(idir, iArr, "vec_id", "embedding",
      5, S.ivfIndexCentroids(idir, spark), 2))
    assert(iServed.nonEmpty)
    assert(iServed == rows(S.ivfTopKWith(iArr, iPost, "vec_id", "embedding",
      5, cents, 2)))
  }

  test("transformWithState accumulates running totals across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val source = MemoryStream[ScoreStream.ValueEvent]
      val totals = ScoreStream.runningTotals(source.toDS())
      val q = totals.writeStream.outputMode("update")
        .format("memory").queryName("twstate_out").start()
      source.addData(ScoreStream.ValueEvent(1L, 10.25),
        ScoreStream.ValueEvent(1L, 1.50), ScoreStream.ValueEvent(2L, 3.00))
      q.processAllAvailable()
      // second batch: state must carry user 1's totals forward
      source.addData(ScoreStream.ValueEvent(1L, 0.25))
      q.processAllAvailable()
      q.stop()
      val latest = spark.table("twstate_out")
        .as[ScoreStream.UserTotal].collect()
        .groupBy(_.user_id).map { case (u, rows) => u -> rows.maxBy(_.n_events) }
      assert(latest(1L).n_events == 3 && latest(1L).total_value == 12.0,
        latest.toString)
      assert(latest(2L).n_events == 1 && latest(2L).total_value == 3.0,
        latest.toString)
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("event-time timers flush idle sessions when the watermark passes") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      def at(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)
      val source = MemoryStream[ScoreStream.Event]
      val sessions = ScoreStream.sessionizeWithTimers(source.toDS(), gapSec = 1800)
      val q = sessions.writeStream.outputMode("append")
        .format("memory").queryName("timer_out").start()
      // batch 1: an open session for user 1 (watermark reaches 10s)
      source.addData(ScoreStream.Event(1L, at(0), "click"),
        ScoreStream.Event(1L, at(10), "view"))
      q.processAllAvailable()
      assert(spark.table("timer_out").isEmpty, "session closed too early")
      // batch 2: unrelated user far in the future pushes the watermark
      // past user 1's (10s + 1800s) timer; batch 3 fires it
      source.addData(ScoreStream.Event(99L, at(10000), "click"))
      q.processAllAvailable()
      source.addData(ScoreStream.Event(99L, at(10001), "view"))
      q.processAllAvailable()
      q.stop()
      val out = spark.table("timer_out").as[ScoreStream.Session].collect().toSeq
      assert(out.contains(ScoreStream.Session(1L, 2, 10.0)),
        s"idle session not flushed by its event-time timer: $out")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("sessionize runs as a streaming query (ProcessingTimeTimeout path)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[ScoreStream.Event]
    source.addData(
      ScoreStream.Event(1L, at(0), "click"),
      ScoreStream.Event(1L, at(10), "view"),
      ScoreStream.Event(1L, at(5000), "click"))
    val sessions = ScoreStream.sessionize(source.toDS(), gapSec = 1800)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    // a registered processing-time timeout keeps the engine scheduling
    // (empty) batches, so processAllAvailable never latches — poll the
    // sink with a deadline instead
    val deadline = System.currentTimeMillis() + 120000
    while (spark.table("sess_out").isEmpty &&
      System.currentTimeMillis() < deadline) Thread.sleep(200)
    q.stop()
    // the first session closes inline at the 5000s event; the trailing
    // open session stays in state awaiting its processing-time timeout
    val out = spark.table("sess_out").as[ScoreStream.Session].collect()
    assert(out.toSeq == Seq(ScoreStream.Session(1L, 2, 10.0)), out.mkString(", "))
  }

  test("sessionization emits gap-separated sessions per user") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)
    val events = Seq(
      ScoreStream.Event(1L, at(0), "click"),
      ScoreStream.Event(1L, at(10), "view"),
      ScoreStream.Event(1L, at(5000), "click"), // > 1800s gap → new session
      ScoreStream.Event(2L, at(0), "view")).toDS()
    val sessions = ScoreStream.sessionize(events, gapSec = 1800).collect()
    // user 1's first session (2 events) closes at the 5000s event;
    // trailing open sessions flush at the end of the batch run
    assert(sessions.exists(s => s.user_id == 1 && s.n_events == 2 &&
      s.duration_sec == 10.0), sessions.mkString(", "))
    assert(sessions.exists(s => s.user_id == 1 && s.n_events == 1 &&
      s.duration_sec == 0.0), sessions.mkString(", "))
    assert(sessions.exists(s => s.user_id == 2 && s.n_events == 1),
      sessions.mkString(", "))
    assert(sessions.length == 3, sessions.mkString(", "))
  }

  test("streaming semantic gate: matches equal the batch result exactly") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    // arrivals: exact copies of vec_id < 5 (must match their original
    // and only it) + reversed decoys (must match nothing)
    val arrivals = emb.where(col("vec_id") < 5)
      .select((col("vec_id") + 900000).as("vec_id"), col("embedding"))
      .unionByName(emb.where(col("vec_id") >= 5 && col("vec_id") < 10)
        .select((col("vec_id") + 800000).as("vec_id"),
          reverse(col("embedding")).as("embedding")))
    val cents = graft.ext.Similarity.kmeansCentroids(
      emb, "vec_id", "embedding", 8, iters = 1)
    def grab(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = grab(graft.ext.Dedup.semanticMatches(
      arrivals, emb, "vec_id", "embedding", cents, 0.99))
    val dir = java.nio.file.Files.createTempDirectory("sem_arr").toString
    arrivals.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(arrivals.schema).parquet(dir)
    val q = graft.ext.Dedup.semanticMatches(
        stream, emb, "vec_id", "embedding", cents, 0.99)
      .writeStream.outputMode("append")
      .format("memory").queryName("sem_out").start()
    q.processAllAvailable()
    q.stop()
    val streamed = grab(spark.table("sem_out"))
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    // exactly the planted copies, each at rounded cosine 1.0
    assert(batch == (0 until 5)
      .map(i => (i + 900000L, i.toLong, 1.0)).toSet, batch.toString)
  }

  test("stateless text-quality ops apply unchanged on streams: blocklist + html == batch") {
    val rows = Seq(
      (1L, "<p>clean prose here</p>"),
      (2L, "a MERGE mention and a <script>var x;</script> hash join phrase"),
      (3L, "nothing blocked &amp; nothing tagged"))
    import spark.implicits._
    val df = rows.toDF("doc_id", "text")
    def shape(d: org.apache.spark.sql.DataFrame) =
      graft.ext.TextStats.withBlocklistFlags(
          graft.ext.TextStats.withHtmlText(d, "text"),
          "text_html", Seq("merge", "hash join"))
        .select("doc_id", "text_html", "n_blocked_words",
          "n_blocked_phrases", "pass_blocklist")
    val batch = shape(df).collect().map(_.toSeq).toSet
    val dir = java.nio.file.Files.createTempDirectory("bl_arr").toString
    df.write.mode("overwrite").parquet(dir)
    val q = shape(spark.readStream.schema(df.schema).parquet(dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("bl_out").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("bl_out").collect().map(_.toSeq).toSet
    assert(streamed == batch)
    // the blocked word survives HTML extraction and fires post-extraction
    val byId = batch.map(s => s.head -> s).toMap
    assert(byId(2L)(2) == 1 && byId(2L)(3) == 1)
    assert(byId(1L)(4) == true && byId(3L)(4) == true)
  }

  test("streaming minhash near-dup gate: stream == batch, exact-once, copies at 1.0") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val arrivals = docs.where(col("doc_id") < 5)
      .select((col("doc_id") + 700000).as("doc_id"), col("text"))
      .unionByName(docs.where(col("doc_id") >= 5 && col("doc_id") < 10)
        .select((col("doc_id") + 720000).as("doc_id"),
          reverse(col("text")).as("text")))
    def grab(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    val batch = grab(graft.ext.Dedup.minhashMatches(
      arrivals, docs, "doc_id", "text"))
    val dir = java.nio.file.Files.createTempDirectory("ndp_arr").toString
    arrivals.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(arrivals.schema).parquet(dir)
    val q = graft.ext.Dedup.minhashMatches(stream, docs, "doc_id", "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("ndp_out").start()
    q.processAllAvailable()
    q.stop()
    val streamed = grab(spark.table("ndp_out"))
    assert(streamed.sorted == batch.sorted,
      s"stream=${streamed.sorted} batch=${batch.sorted}")
    // exact copies agree on BOTH bands yet surface exactly once, at 1.0
    (0 until 5).foreach { i =>
      assert(batch.count(t => t._1 == i + 700000L && t._2 == i.toLong) == 1)
      assert(batch.contains((i + 700000L, i.toLong, 1.0)))
    }
    // every emitted (id, neighbor) pair is unique — the first-band rule
    assert(batch.map(t => (t._1, t._2)).distinct.size == batch.size)
  }

  test("model-based quality monitor: keep rates match batch; raw source collapses") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:10")
    def prose(i: Int, marker: String) =
      s"some ordinary prose words here item$i $marker $marker"
    val curated = (0 until 40).map(i => prose(i, "wellformed cited"))
    val raw = (40 until 80).map(i => prose(i, "boilerplate clutter"))
    val qm = graft.ml.QualityFilter.train(
      curated.toDF("text"), raw.toDF("text"), "text")
    // two stream sources: one ships curated-shaped text, one raw-shaped
    val rows = (0 until 20).map { i =>
      if (i % 2 == 0) (t0, "good", prose(100 + i, "wellformed cited"))
      else (t0, "bad", prose(100 + i, "boilerplate clutter"))
    }
    val dir = java.nio.file.Files.createTempDirectory("qc_src").toString
    rows.toDF("ts", "source", "text").write.mode("overwrite").parquet(dir)
    val batchDf = spark.read.parquet(dir)
    def grab(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(1) ->
        (r.getLong(2), r.getDouble(3), r.getLong(4), r.getDouble(5))).toMap
    val stream = spark.readStream.schema(batchDf.schema).parquet(dir)
    val q = ScoreStream.qualityClassifierMonitor(stream, qm,
        "ts", "source", "text")
      .writeStream.outputMode("complete")
      .format("memory").queryName("qc_out").start()
    q.processAllAvailable()
    q.stop()
    val out = grab(spark.table("qc_out"))
    val batch = grab(ScoreStream.qualityClassifierMonitor(
      batchDf, qm, "ts", "source", "text"))
    assert(out == batch, s"stream=$out batch=$batch")
    // the raw-shaped source collapses, the curated-shaped one holds
    assert(out("good")._4 == 1.0, out.toString)
    assert(out("bad")._4 == 0.0, out.toString)
    assert(out("good")._2 > out("bad")._2)
  }

  test("streaming expectations monitor: per-rule rates match batch; bad source flagged") {
    import spark.implicits._
    import graft.etl.Expectations.Rule
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:10")
    // "clean" ships contract-conforming rows; "dirty" ships empties
    // and negative scores
    val rows = (0 until 12).map { i =>
      if (i % 2 == 0) (t0, "clean", s"text $i", 5)
      else if (i % 4 == 1) (t0, "dirty", "", 5)
      else (t0, "dirty", s"text $i", -1)
    }
    val dir = java.nio.file.Files.createTempDirectory("exp_src").toString
    rows.toDF("ts", "source", "txt", "score")
      .write.mode("overwrite").parquet(dir)
    val batchDf = spark.read.parquet(dir)
    val rules = Seq(Rule("nonempty", length(col("txt")) > 0),
      Rule("positive", col("score") > 0))
    def grab(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    val stream = spark.readStream.schema(batchDf.schema).parquet(dir)
    val q = ScoreStream.expectationsMonitor(stream, rules, "ts", "source")
      .writeStream.outputMode("complete")
      .format("memory").queryName("exp_out").start()
    q.processAllAvailable()
    q.stop()
    val out = grab(spark.table("exp_out"))
    val batch = grab(ScoreStream.expectationsMonitor(
      batchDf, rules, "ts", "source"))
    assert(out == batch, s"stream=$out batch=$batch")
    // clean source: zero violations on both rules; dirty source: 3
    // empties and 3 negatives out of 6 rows each
    assert(out(("clean", "nonempty")) == ((6L, 0L, 0.0)), out.toString)
    assert(out(("clean", "positive")) == ((6L, 0L, 0.0)), out.toString)
    assert(out(("dirty", "nonempty")) == ((6L, 3L, 0.5)), out.toString)
    assert(out(("dirty", "positive")) == ((6L, 3L, 0.5)), out.toString)
  }

  test("frozen tokenizer artifact applies to a stream identically to batch") {
    import spark.implicits._
    // train → ship artifact → tokenize an ingest stream with the
    // LOADED merges: bpeApply's per-row replay is
    // stateless, so it runs in append mode with no watermark
    val corpus = Seq(
      "new york city", "new york times", "new york",
      "san francisco bay", "san francisco").toDF("text")
    val merges = graft.ext.TextStats.bpeTrain(corpus, "text", merges = 3)
    val art = java.nio.file.Files.createTempDirectory("bpe_stream")
      .resolve("tokenizer.tsv").toString
    // ship the FULL v2 artifact (specials + merges): the streaming
    // consumer reads the merge section through the same loader
    graft.ext.Tokenizer.saveArtifact(graft.ext.Tokenizer.BpeArtifact(
      merges, graft.ext.Tokenizer.DefaultSpecials), art)
    assert(graft.ext.Tokenizer.loadArtifact(art).vocabIds.size ==
      4 + merges.size)
    val loaded = graft.ext.Tokenizer.loadMerges(art).map(m => (m._1, m._2))
    val docs = Seq((1L, "new york city limits"), (2L, "san francisco fog"),
      (3L, "unrelated words entirely")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bpe_src").toString
    docs.write.mode("overwrite").parquet(dir)
    def grab(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    val batch = grab(graft.ext.TextStats.bpeApply(docs, "text", loaded)
      .select("doc_id", "bpe_symbols"))
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = graft.ext.TextStats.bpeApply(stream, "text", loaded)
      .select("doc_id", "bpe_symbols")
      .writeStream.outputMode("append")
      .format("memory").queryName("bpe_out").start()
    q.processAllAvailable()
    q.stop()
    assert(grab(spark.table("bpe_out")) == batch)
    val J = graft.ext.TextStats.BpeJoiner
    assert(batch(1L) == List(s"new${J}york${J}city", "limits"), batch(1L))
  }

  test("unigram artifact drives the streaming tokenizer identically to batch") {
    import spark.implicits._
    val T = graft.ext.TextStats
    val Tok = graft.ext.Tokenizer
    val vocab = Seq("▁new" -> -2.0, "▁york" -> -2.25, "▁san" -> -2.5,
      "york" -> -4.0, "ci" -> -5.0, "ty" -> -5.25, "▁" -> -3.0) ++
      "abcdefghijklmnopqrstuvwxyz".zipWithIndex.map { case (c, i) =>
        c.toString -> (-7.0 - i * 0.03125) }
    val art = java.nio.file.Files.createTempDirectory("uni_stream")
      .resolve("unigram.tsv").toString
    Tok.saveUnigram(Tok.UnigramArtifact.fromVocab(vocab, -20.0), art)
    val loaded = Tok.loadUnigram(art)
    // micro-unit round trip is EXACT: the loaded table is the saved one
    assert(loaded == Tok.UnigramArtifact.fromVocab(vocab, -20.0))
    val docs = Seq((1L, "new york city limits"), (2L, "san francisco fog"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("uni_src").toString
    docs.write.mode("overwrite").parquet(dir)
    def grab(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    val batch = grab(T.unigramApply(docs, "text", loaded, "unigram_symbols")
      .select("doc_id", "unigram_symbols"))
    assert(batch == grab(T.unigramApply(docs, "text", vocab, -20.0)
      .select("doc_id", "unigram_symbols")))
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = T.unigramApply(stream, "text", loaded, "unigram_symbols")
      .select("doc_id", "unigram_symbols")
      .writeStream.outputMode("append")
      .format("memory").queryName("uni_out").start()
    q.processAllAvailable()
    q.stop()
    assert(grab(spark.table("uni_out")) == batch)
    // torn artifact refuses loudly
    val torn = java.nio.file.Paths.get(art).resolveSibling("torn.tsv")
    java.nio.file.Files.write(torn,
      java.util.List.of("graft-unigram\tv1\t5\t-20000000", "a\t-1000000"))
    assert(intercept[IllegalStateException](
      Tok.loadUnigram(torn.toString)).getMessage.contains("torn"))
    // a foreign file refuses with the magic check, not a parse error
    val foreign = java.nio.file.Paths.get(art).resolveSibling("foreign.tsv")
    java.nio.file.Files.write(foreign, java.util.List.of("not\tan\tartifact"))
    assert(intercept[IllegalStateException](
      Tok.loadUnigram(foreign.toString)).getMessage.contains("not a graft-unigram"))
  }

  test("ranked v4 artifact drives the streaming tokenizer identically to batch") {
    import spark.implicits._
    val T = graft.ext.TextStats
    val Tok = graft.ext.Tokenizer
    // train a bytes-pretok vocabulary, ship it as a RANKED v4 artifact
    // (trainer-order proven at save, ranks verified at load), and run
    // the rank-based apply — the serving path never replays merges —
    // on a stream; stateless, so append mode with no watermark
    val corpus = Seq(
      "new york city", "new york times", "new york",
      "san francisco bay", "san francisco").toDF("text")
    val merges = T.bpeTrain(corpus, "text", merges = 24,
      mode = Tok.ModeBytesPretok)
    val art = java.nio.file.Files.createTempDirectory("bpe_v4_stream")
      .resolve("tokenizer.v4.tsv").toString
    Tok.saveArtifact(Tok.BpeArtifact(merges, Tok.DefaultSpecials,
      Tok.ModeBytesPretok, ranked = true), art)
    val loaded = Tok.loadArtifact(art)
    assert(loaded.ranked && loaded.mode == Tok.ModeBytesPretok)
    val docs = Seq((1L, "new york city limits"), (2L, "san francisco fog"),
      (3L, "unrelated words entirely")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bpe_v4_src").toString
    docs.write.mode("overwrite").parquet(dir)
    def grab(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    val batch = grab(T.bpeApplyRankedBytesPretok(docs, "text", loaded,
      "bpe_symbols").select("doc_id", "bpe_symbols"))
    // the ranked path must equal the sequential replay on the stream's
    // input too (the spec-pinned equivalence, here through the artifact)
    assert(batch == grab(T.bpeApply(docs, "text",
      merges.map(m => (m._1, m._2)), Tok.ModeBytesPretok)
      .select("doc_id", "bpe_symbols")))
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = T.bpeApplyRankedBytesPretok(stream, "text", loaded, "bpe_symbols")
      .select("doc_id", "bpe_symbols")
      .writeStream.outputMode("append")
      .format("memory").queryName("bpe_v4_out").start()
    q.processAllAvailable()
    q.stop()
    assert(grab(spark.table("bpe_v4_out")) == batch)
  }

  test("streaming script-mix monitor matches batch exactly") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:10")
    val rows = Seq(
      (t0, "人工智能正在改变世界机器学习"),      // 14 han codepoints
      (t0, "обработка естественного языка"),   // 27 cyrillic + 2 spaces
      (t0, "plain ascii english text here"),   // latin, 0 non-ASCII
      (t0, "🚀🚀👍"))                           // outside every range: und
    val dir = java.nio.file.Files.createTempDirectory("scr_src").toString
    rows.toDF("ts", "text").write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = ScoreStream.scriptMonitor(stream, "ts", "text")
      .writeStream.outputMode("complete")
      .format("memory").queryName("scr_out").start()
    q.processAllAvailable()
    q.stop()
    def grab(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val out = grab(spark.table("scr_out"))
    val batch = grab(ScoreStream.scriptMonitor(
      spark.read.parquet(dir), "ts", "text"))
    assert(out == batch, s"stream=$out batch=$batch")
    assert(out.keySet == Set("han", "cyrillic", "latin", "und"), out.toString)
    assert(out("han") == ((1L, 14L, 14L)), out.toString)
    assert(out("cyrillic") == ((1L, 29L, 27L)), out.toString)
    assert(out("latin") == ((1L, 29L, 0L)), out.toString)
    assert(out("und") == ((1L, 3L, 3L)), out.toString)
  }

  test("domain quota gate: lifetime cap spans batches, in-batch doc_id order") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(String, Long)]
    val gated = ScoreStream.domainQuotaGate(
      source.toDS().toDF("domain", "doc_id"), "domain", "doc_id", cap = 3)
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("quota_out").start()
    // batch 1: domain a sends 4 (out of id order), b sends 1
    source.addData(("a", 7L), ("a", 2L), ("a", 9L), ("a", 5L), ("b", 1L))
    q.processAllAvailable()
    // batch 2: a is already full after 3 — everything dropped; b fills
    source.addData(("a", 1L), ("b", 8L), ("b", 3L), ("b", 4L))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("quota_out")
      .as[(String, Long, Int)].collect().sortBy(r => (r._1, r._3))
    // in-batch admission is ascending doc_id: 2,5,7 admitted, 9 dropped
    assert(out.filter(_._1 == "a").toSeq ==
      Seq(("a", 2L, 1), ("a", 5L, 2), ("a", 7L, 3)), out.mkString("|"))
    // b: rank 1 from batch 1 carries into batch 2's ranks 2..3 (3,4 by
    // id order; 8 over quota)
    assert(out.filter(_._1 == "b").toSeq ==
      Seq(("b", 1L, 1), ("b", 3L, 2), ("b", 4L, 3)), out.mkString("|"))
    intercept[IllegalArgumentException] {
      ScoreStream.domainQuotaGate(
        Seq(("a", 1L)).toDF("domain", "doc_id"), "domain", "doc_id", cap = 0)
    }
  }
}
