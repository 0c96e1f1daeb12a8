package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Source/sink surface: parquet (primary), csv, json, text round trips
  * with explicit schemas; registered-UDF scoring (U2). */
class SourcesSpec extends AnyFunSuite with SparkTestSession {

  lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("csv round trip preserves rows and schema") {
    val tmp = java.nio.file.Files.createTempDirectory("csv").toString
    val in = docs.select("doc_id", "lang", "n_chars")
    in.write.mode("overwrite").option("header", "true").csv(tmp)
    val back = spark.read.option("header", "true")
      .schema("doc_id BIGINT, lang STRING, n_chars BIGINT").csv(tmp)
    assert(back.count() == in.count())
    assert(back.agg(sum("n_chars")).head().getLong(0) ==
      in.agg(sum("n_chars")).head().getLong(0))
  }

  test("json round trip preserves rows") {
    val tmp = java.nio.file.Files.createTempDirectory("json").toString
    val in = docs.select("doc_id", "lang", "text")
    in.write.mode("overwrite").json(tmp)
    val back = spark.read.schema("doc_id BIGINT, lang STRING, text STRING").json(tmp)
    assert(back.count() == in.count())
    assert(back.where(col("text").isNull).count() == 0)
  }

  test("corrupt JSONL rows are quarantined, valid rows still parse") {
    // real-world LLM corpora arrive as JSONL with broken lines mixed
    // in; PERMISSIVE mode must parse the good rows and capture each
    // bad line verbatim instead of failing the job
    val tmp = java.nio.file.Files.createTempDirectory("jsonl_bad")
    java.nio.file.Files.writeString(tmp.resolve("part-0.jsonl"),
      """{"doc_id": 1, "lang": "en", "text": "hello world"}
        |{"doc_id": 2, "lang": "fr", "text": "bonjour"}
        |{"doc_id": 3, "lang": "de", "text": "truncated...
        |not json at all
        |""".stripMargin)
    val df = spark.read
      .schema("doc_id BIGINT, lang STRING, text STRING, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(tmp.toString)
      .cache() // Spark requires a materialized plan to filter on the corrupt column alone
    assert(df.count() == 4)
    val good = df.where(col("_corrupt_record").isNull)
    assert(good.count() == 2)
    assert(good.agg(sum("doc_id")).head().getLong(0) == 3L)
    val bad = df.where(col("_corrupt_record").isNotNull)
      .select("_corrupt_record").collect().map(_.getString(0))
    assert(bad.length == 2 && bad.exists(_.contains("not json at all")), bad.mkString("|"))
    df.unpersist()
  }

  test("orc round trip preserves rows, schema and values") {
    val tmp = java.nio.file.Files.createTempDirectory("orc").toString
    val in = docs.select("doc_id", "lang", "n_chars")
    in.write.mode("overwrite").orc(tmp)
    val back = spark.read.orc(tmp)
    assert(back.schema == in.schema)
    assert(back.count() == in.count())
    assert(back.agg(sum("n_chars")).head().getLong(0) ==
      in.agg(sum("n_chars")).head().getLong(0))
    // predicate pushdown reaches the ORC scan like parquet
    val plan = back.where(col("doc_id") < 10).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)]"), plan)
  }

  test("text sink/scan round trip (S3/S4)") {
    val tmp = java.nio.file.Files.createTempDirectory("txt").toString
    docs.select(concat_ws("|", col("doc_id"), col("lang")).as("value"))
      .coalesce(1).write.mode("overwrite").text(tmp)
    val back = spark.read.text(tmp)
    assert(back.count() == docs.count())
  }

  test("partitionBy write prunes partitions on read") {
    val tmp = java.nio.file.Files.createTempDirectory("part").toString
    docs.select("doc_id", "lang", "n_chars")
      .write.mode("overwrite").partitionBy("lang").parquet(tmp)
    // hive-style layout: one directory per lang value
    val dirs = new java.io.File(tmp).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.exists(_.startsWith("lang=")), dirs.toString)

    val pruned = spark.read.parquet(tmp).where(col("lang") === "en")
    val scan = pruned.queryExecution.executedPlan.toString
    // the filter must become a PartitionFilters entry on the scan —
    // non-matching directories are never opened
    assert(scan.contains("PartitionFilters: [isnotnull(lang"), scan)
    assert(pruned.count() ==
      docs.where(col("lang") === "en").count())
  }

  test("schema evolution: mergeSchema unions columns across file versions") {
    val tmp = java.nio.file.Files.createTempDirectory("evolve").toString
    docs.select("doc_id", "lang")
      .write.mode("overwrite").parquet(s"$tmp/v1")
    docs.select("doc_id", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/v2")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$tmp/v1", s"$tmp/v2")
    assert(merged.columns.toSet == Set("doc_id", "lang", "n_chars"))
    assert(merged.count() == 2 * docs.count())
    // v1 rows surface the added column as null, v2 rows carry values
    assert(merged.where(col("n_chars").isNull).count() == docs.count())
  }

  test("compaction rewrites many small files into size-derived few") {
    val tmp = java.nio.file.Files.createTempDirectory("compact").toString
    docs.repartition(20).write.mode("overwrite").parquet(s"$tmp/in")
    def partFiles(d: String) = new java.io.File(d).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(partFiles(s"$tmp/in") == 20)
    // target half the input bytes → exactly 2 output files
    val target = graft.etl.Compaction.dirBytes(spark, s"$tmp/in") / 2
    val chosen = graft.etl.Compaction.compact(spark, s"$tmp/in", s"$tmp/out", target)
    assert(chosen == 2 || chosen == 3, s"chosen=$chosen") // ceil of ~2.0x
    assert(partFiles(s"$tmp/out") == chosen)
    assert(spark.read.parquet(s"$tmp/out").count() == docs.count())
  }

  test("atomic publish: readers see whole versions only; crashes leave the old one live") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("publish").toString
    graft.etl.Publish.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), table)
    assert(graft.etl.Publish.read(spark, table).count() == 2)
    graft.etl.Publish.write(Seq((1L, "a2"), (2L, "b2"), (3L, "c")).toDF("id", "v"), table)
    val current = graft.etl.Publish.read(spark, table)
    assert(current.count() == 3)
    assert(current.where(col("v") === "a2").count() == 1)
    // a "crashed" writer: version directory exists, manifest never
    // flipped — readers keep seeing the published version
    Seq((9L, "junk")).toDF("id", "v")
      .write.parquet(s"$table/v_crashed_writer")
    assert(graft.etl.Publish.read(spark, table).count() == 3)
    // both committed versions remain on disk (time-travel-lite)
    assert(graft.etl.Publish.versions(table).size == 3)
    // vacuum removes the orphan and the superseded version; the
    // published one survives and still reads
    val removed = graft.etl.Publish.vacuum(table)
    assert(removed.size == 2, removed.toString)
    assert(graft.etl.Publish.versions(table).size == 1)
    assert(graft.etl.Publish.read(spark, table).count() == 3)
  }

  test("publish time travel: ordinal commits stay readable until vacuumed") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("publish_tt").toString
    val P = graft.etl.Publish
    P.write(Seq((1L, "a")).toDF("id", "v"), table)
    P.write(Seq((1L, "a2"), (2L, "b")).toDF("id", "v"), table)
    P.write(Seq((3L, "c")).toDF("id", "v"), table)
    // ordered, gap-free history; manifest agrees with the last commit
    val hist = P.history(table)
    assert(hist.map(_._1) == Seq(1L, 2L, 3L), hist.toString)
    assert(P.currentVersion(table).contains(hist.last._2))
    // AS OF each ordinal returns that commit's exact content
    assert(P.readVersion(spark, table, 1L).as[(Long, String)].collect()
      .toSet == Set((1L, "a")))
    assert(P.readVersion(spark, table, 2L).as[(Long, String)].collect()
      .toSet == Set((1L, "a2"), (2L, "b")))
    assert(P.readVersion(spark, table, 3L).count() == 1)
    // unknown ordinal names the available history
    val miss = intercept[IllegalStateException](P.readVersion(spark, table, 9L))
    assert(miss.getMessage.contains("history: 1,2,3"), miss.getMessage)
    // vacuum keeps current; older ordinals fail LOUDLY, current still reads
    P.vacuum(table)
    val gone = intercept[IllegalStateException](P.readVersion(spark, table, 1L))
    assert(gone.getMessage.contains("vacuumed"), gone.getMessage)
    assert(P.readVersion(spark, table, 3L).count() == 1)
    assert(P.read(spark, table).count() == 1)
    // a racing commit claim serializes onto the next ordinal instead
    // of clobbering: simulate by pre-claiming ordinal 4
    java.nio.file.Files.write(
      java.nio.file.Paths.get(table, "_commits", "00000004"),
      "v_squatter".getBytes)
    P.write(Seq((4L, "d")).toDF("id", "v"), table)
    assert(P.history(table).map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(P.readVersion(spark, table, 5L).count() == 1)
    // the pre-claimed ordinal's CONTENT survives — the claim must fail
    // atomically on an existing target (link(2) EEXIST), never replace
    // it the way rename(2) silently would
    assert(P.history(table).collectFirst { case (4L, v) => v }
      .contains("v_squatter"))
    // and no claim temp files linger in the log dir
    assert(!new java.io.File(s"$table/_commits").listFiles()
      .exists(f => f.getName.startsWith(".tmp.") ||
        f.getName.startsWith(".claim.")))
  }

  test("publish claim primitive: win/lose semantics, backend swap, torn-manifest recovery") {
    import spark.implicits._
    val P = graft.etl.Publish
    // the primitive alone: first claim wins with full content, the
    // loser changes NOTHING, no temp residue
    val dir = java.nio.file.Files.createTempDirectory("claim_prim")
    val p = s"$dir/00000001"
    assert(P.PosixLinkClaim.claim(p, "alpha".getBytes))
    assert(!P.PosixLinkClaim.claim(p, "beta".getBytes))
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p))) == "alpha")
    assert(dir.toFile.listFiles().length == 1, "claim temp leaked")

    // a lossy backend (simulating lost object-store races) only costs
    // ordinals — commits still serialize through the SAME loop
    val table = java.nio.file.Files.createTempDirectory("claim_swap").toString
    P.write(Seq((1L, "a")).toDF("id", "v"), table)
    var denials = 2
    val lossy = new P.CommitClaim {
      def claim(path: String, content: Array[Byte]): Boolean =
        if (denials > 0) { denials -= 1; false }
        else P.PosixLinkClaim.claim(path, content)
    }
    P.write(Seq((2L, "b")).toDF("id", "v"), table, lossy)
    // ordinal 1 taken, 2 and 3 "lost", landed on 4
    assert(P.history(table).map(_._1) == Seq(1L, 4L),
      P.history(table).toString)
    assert(P.read(spark, table).count() == 1)

    // torn manifest: writer killed BETWEEN commit and manifest flip.
    // Simulate with the real internals: full parquet write + real
    // commit claim, no flip.
    val vdir = s"$table/v_torncrash"
    Seq((9L, "torn")).toDF("id", "v").write.parquet(vdir)
    P.commit(table, "v_torncrash")
    // readers STILL resolve — the stale manifest serves the previous
    // publish consistently; time travel reaches the committed one
    assert(P.read(spark, table).as[(Long, String)].collect()
      .toSet == Set((2L, "b")))
    assert(P.readVersion(spark, table, 5L).as[(Long, String)].head()
      == ((9L, "torn")))
    // recover() completes the interrupted publish, idempotently
    assert(P.recover(table).contains("v_torncrash"))
    assert(P.read(spark, table).as[(Long, String)].head() == ((9L, "torn")))
    assert(P.recover(table).isEmpty)
    // vacuum after recovery keeps the recovered current version
    P.vacuum(table)
    assert(P.read(spark, table).as[(Long, String)].head() == ((9L, "torn")))
  }

  test("publish vacuum retention: keepLast bounds history, older commits fail loudly") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("publish_ret").toString
    val P = graft.etl.Publish
    (1 to 4).foreach(i => P.write(Seq((i.toLong, s"v$i")).toDF("id", "v"), table))
    // a crashed writer's orphan must go regardless of retention
    Seq((9L, "junk")).toDF("id", "v").write.parquet(s"$table/v_orphan")
    val removed = P.vacuum(table, keepLast = 2)
    // commits 1 and 2's versions + the orphan removed; 3 and 4 retained
    assert(removed.size == 3, removed.toString)
    assert(P.readVersion(spark, table, 3L).as[(Long, String)].head() == ((3L, "v3")))
    assert(P.readVersion(spark, table, 4L).as[(Long, String)].head() == ((4L, "v4")))
    val gone = intercept[IllegalStateException](P.readVersion(spark, table, 1L))
    assert(gone.getMessage.contains("vacuumed"), gone.getMessage)
    assert(P.read(spark, table).count() == 1)
    intercept[IllegalArgumentException](P.vacuum(table, keepLast = 0))
  }

  test("z-order interleave matches a reference Morton encoding") {
    import spark.implicits._
    def ref(a: Long, b: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (z, i) =>
        z | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      }
    val pairs = for (a <- 0L until 16L; b <- 0L until 16L) yield (a, b)
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        etl.ZOrder.interleave(col("a"), col("b"), 4).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    pairs.foreach { case (a, b) =>
      assert(got((a, b)) == ref(a, b, 4), s"($a,$b)")
    }
    // locality sanity: (0,0) and (1,1) are 3 apart; (0,0) and (15,15) far
    assert(ref(0, 0, 4) == 0 && ref(1, 1, 4) == 3 && ref(15, 15, 4) == 255)
  }

  test("z-order clusterWrite tightens per-file bounding boxes vs unordered layout") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val zdir = java.nio.file.Files.createTempDirectory("zord").toString
    val pdir = java.nio.file.Files.createTempDirectory("plain").toString
    etl.ZOrder.clusterWrite(orders, "o_custkey", "o_totalprice", zdir, numFiles = 8)
    orders.repartition(8).write.mode("overwrite").parquet(pdir)

    // per-file normalized bounding-box area, summed: the proxy for how
    // much a min/max-stats catalog could skip on a 2-dim predicate
    def areaSum(dir: String): Double = {
      val span = orders.agg(
        max("o_custkey").cast("double"), min("o_custkey").cast("double"),
        max("o_totalprice").cast("double"), min("o_totalprice").cast("double")).head()
      val (ckSpan, tpSpan) =
        (span.getDouble(0) - span.getDouble(1), span.getDouble(2) - span.getDouble(3))
      new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).map { f =>
          val s = spark.read.parquet(f.getAbsolutePath).agg(
            max("o_custkey").cast("double"), min("o_custkey").cast("double"),
            max("o_totalprice").cast("double"), min("o_totalprice").cast("double")).head()
          ((s.getDouble(0) - s.getDouble(1)) / ckSpan) *
            ((s.getDouble(2) - s.getDouble(3)) / tpSpan)
        }.sum
    }
    val (zArea, pArea) = (areaSum(zdir), areaSum(pdir))
    // unordered: every file spans ~the whole space (area ≈ 8×1);
    // z-ordered: each file covers a fraction of both dimensions
    assert(zArea < 0.5 * pArea, s"z=$zArea plain=$pArea")
    // clustering must not change content
    assert(spark.read.parquet(zdir).count() == orders.count())
    assert(spark.read.parquet(zdir).agg(sum("o_orderkey")).head().getLong(0) ==
      orders.agg(sum("o_orderkey")).head().getLong(0))
  }

  test("z-order clusterWrite: clear failure on unboundable input, nulls cluster at the low corner") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("zguard").toString
    // empty input: no min/max bounds to scale by -> clear require, not an NPE
    val empty = intercept[IllegalArgumentException] {
      etl.ZOrder.clusterWrite(Seq.empty[(Long, Long)].toDF("a", "b"),
        "a", "b", s"$dir/empty", numFiles = 2)
    }
    assert(empty.getMessage.contains("min/max bounds"), empty.getMessage)
    // all-null cluster column: same clear failure
    val allNull = intercept[IllegalArgumentException] {
      etl.ZOrder.clusterWrite(
        Seq((1L, 1L), (2L, 2L)).toDF("a", "b")
          .withColumn("a", lit(null).cast("long")),
        "a", "b", s"$dir/null", numFiles = 2)
    }
    assert(allNull.getMessage.contains("min/max bounds"), allNull.getMessage)
    // scattered nulls: placed at the dimension's low corner, all rows kept
    val mixed = Seq[(java.lang.Long, Long)]((null, 5L), (0L, 0L), (100L, 100L))
      .toDF("a", "b")
    etl.ZOrder.clusterWrite(mixed, "a", "b", s"$dir/mixed", numFiles = 1)
    val back = spark.read.parquet(s"$dir/mixed")
    assert(back.count() == 3)
    // the null-a row sorts with the low-a rows (z interleave of scaled 0)
    assert(back.where(col("a").isNull).count() == 1)
  }

  test("stats-catalog skipping scan prunes files yet returns the exact filter result") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val zdir = java.nio.file.Files.createTempDirectory("zskip").toString
    etl.ZOrder.clusterWrite(orders, "o_custkey", "o_totalprice", zdir, numFiles = 8)
    val table = spark.read.parquet(zdir)
    val stats = etl.StatsCatalog.collect(table, Seq("o_custkey"))
    assert(stats.count() == 8) // one catalog row per file

    // narrow range: must skip files AND match the plain filter exactly
    val (res, read, total) =
      etl.StatsCatalog.skippingScan(spark, stats, "o_custkey", 100L, 250L)
    assert(read < total, s"read $read of $total")
    val expect = orders.where(col("o_custkey").between(100, 250))
      .collect().map(_.getLong(0)).sorted
    assert(res.collect().map(_.getLong(0)).sorted.toSeq == expect.toSeq)

    // range pinned EXACTLY to one file's [min, max]: boundary rows kept
    val b = stats.orderBy("o_custkey_min").head()
    val (bmin, bmax) = (b.getLong(b.fieldIndex("o_custkey_min")),
      b.getLong(b.fieldIndex("o_custkey_max")))
    val (bres, bread, _) =
      etl.StatsCatalog.skippingScan(spark, stats, "o_custkey", bmin, bmax)
    assert(bread >= 1)
    assert(bres.count() ==
      orders.where(col("o_custkey").between(bmin, bmax)).count())

    // range beyond every file: all files pruned, empty result, schema kept
    val (zres, zread, ztotal) =
      etl.StatsCatalog.skippingScan(spark, stats, "o_custkey",
        Long.MaxValue - 1, Long.MaxValue)
    assert(zread == 0 && ztotal == 8 && zres.count() == 0)
    assert(zres.columns.contains("o_orderkey"))
  }

  test("seeded df.sample is reproducible (O4/R4)") {
    val a = docs.sample(0.3, seed = 11).count()
    val b = docs.sample(0.3, seed = 11).count()
    assert(a == b && a > 0 && a < docs.count())
  }

  test("registered predict_label UDF scores through the SQL surface (U2)") {
    import spark.implicits._
    val train = Seq(("starbucks", "coffee latte roast"), ("shell", "fuel petrol pump"),
      ("starbucks", "espresso coffee"), ("shell", "diesel petrol station"))
      .toDF("merchant", "narrative")
    val model = graft.ml.Trainer.train(train, "merchant", "narrative",
      graft.ml.Trainer.Params(epoch = 3, wordNgrams = 2, numFeatures = 1 << 12))
    model.registerUdf(spark)
    Seq("coffee roast please", "petrol fillup").toDF("t").createOrReplaceTempView("probe")
    val out = spark.sql("SELECT t, predict_label(t) AS pr FROM probe")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("coffee roast please") == "starbucks", out.toString)
    assert(out("petrol fillup") == "shell", out.toString)
    // per-row UDF path agrees with the vectorized transform path
    val viaTransform = model.predict(
      Seq("coffee roast please", "petrol fillup").toDF("t"), "t", "pr")
      .select("pr").collect().map(_.getString(0)).toSeq
    assert(viaTransform == Seq("starbucks", "shell"))
  }
}
