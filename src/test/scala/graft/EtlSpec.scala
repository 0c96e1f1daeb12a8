package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl._

/** Entry-point-A pipeline properties over the documents fixture:
  * split disjoint/complete, sample-size bounds, training-file format. */
class EtlSpec extends AnyFunSuite with SparkTestSession {

  lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  val cfg = Etl.Config(labelCol = "lang", textCol = "text", keyCol = "doc_id",
    sampleSize = 60, countThreshold = 30)

  test("contiguous id assignment equals the global rank of the key") {
    val out = Ids.assignContiguous(docs.select("doc_id"),
      md5(col("doc_id").cast("string")), numParts = 5)
      .withColumn("__k", md5(col("doc_id").cast("string")))
      .collect().map(r => (r.getLong(1), r.getString(2)))
    val n = docs.count()
    assert(out.map(_._1).sorted.toSeq == (0L until n), "ids not dense 0..n-1")
    // ascending uid must walk the key in ascending order — the global
    // rank property, achieved without any single-partition stage
    val byUid = out.sortBy(_._1).map(_._2)
    assert(byUid.toSeq == byUid.sorted.toSeq, "uid order != key order")
  }

  test("CDC merge: latest-wins upsert, delete, insert, passthrough; base never shuffles") {
    import spark.implicits._
    val base = Seq(
      (1L, "en", "one"), (2L, "en", "two"), (3L, "de", "drei"),
      (4L, "fr", "quatre")).toDF("doc_id", "lang", "text")
    val changes = Seq(
      // key 2: update then later delete — delete must win
      (2L, 1L, "u", "en", "two v2"),
      (2L, 2L, "d", "en", "two v2"),
      // key 3: delete then later update — update must win
      (3L, 1L, "d", "de", "drei"),
      (3L, 2L, "u", "de", "drei v2"),
      // key 9: pure insert (not in base)
      (9L, 1L, "u", "en", "nine")
    ).toDF("doc_id", "seq", "op", "lang", "text")
    val out = Merge.applyCdc(base, changes, "doc_id")
    val got = out.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      (1L, "en", "one"),        // untouched passthrough
      (3L, "de", "drei v2"),    // latest update wins over earlier delete
      (4L, "fr", "quatre"),     // untouched passthrough
      (9L, "en", "nine")))      // insert
    assert(out.schema.fieldNames.toSeq == base.schema.fieldNames.toSeq)
    // scale shape: the base side joins against a BROADCAST key set —
    // no exchange on the base branch of the anti join
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.toLowerCase.contains("leftanti"), plan)
  }

  test("contiguous ids compile and run at numParts = 4096") {
    // The offset lookup must be O(1) per row (element_at on one array
    // literal). A when-chain fold over numParts would emit a
    // 4096-branch expression tree here and die in janino codegen.
    val out = Ids.assignContiguous(docs.select("doc_id").limit(100),
      col("doc_id"), numParts = 4096)
    val ids = out.select("uid").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until ids.length), "ids not dense 0..n-1 at 4096 parts")
  }

  test("split is disjoint and complete over the sampled set") {
    val (train, test) = Etl.run(docs, cfg)
    val nTrain = train.count()
    val nTest = test.count()
    val ids = train.select("doc_id").union(test.select("doc_id")).distinct().count()
    assert(nTrain + nTest == ids, "train/test overlap or loss")
    assert(nTrain > 0 && nTest > 0)
    // roughly 90/10 per class
    assert(nTest.toDouble / (nTrain + nTest) > 0.05 &&
      nTest.toDouble / (nTrain + nTest) < 0.25)
  }

  test("deterministic sampling respects per-class rate cap") {
    val labeled = Etl.cleanAndLabel(docs, cfg)
    val sampled = Sampling.sampleDataDeterministic(labeled, "lang", "doc_id", 60, 30)
    val perClass = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = labeled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perClass.foreach { case (lang, n) =>
      // hash-bucket membership is binomial around rate*count
      val expected = math.min(60.0, totals(lang).toDouble)
      assert(n <= totals(lang), s"$lang oversampled beyond class size")
      assert(math.abs(n - expected) <= 4 * math.sqrt(expected) + 5,
        s"$lang: got $n, expected ~$expected of ${totals(lang)}")
    }
    // classes below threshold are dropped entirely
    assert(perClass.keySet == totals.filter(_._2 >= 30).keySet)
  }

  test("token-budget mixture: rates match the allocation arithmetic, unweighted domains drop") {
    import org.apache.spark.sql.functions._
    val d = docs.select(col("source"), col("doc_id"), col("text"))
    val tokens = size(graft.ml.Featurize.tokensCol(col("text")))
    val w = Map("src0" -> 0.5, "src1" -> 0.5)
    val rates = Sampling.mixtureRates(d, "source", tokens, w, budgetTokens = 200)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(rates.keySet == Set("src0", "src1"))
    rates.foreach { case (s, (nTok, rate)) =>
      val expect = math.min(1.0, 200.0 * 0.5 / nTok)
      assert(rate == expect, s"$s: $rate vs $expect")
    }
    // a budget larger than the corpus takes every weighted domain whole
    val full = Sampling.mixtureRates(d, "source", tokens, w, budgetTokens = 100000000L)
      .collect().map(_.getDouble(3))
    assert(full.forall(_ == 1.0))
    val sampled = Sampling.mixtureSample(d, "source", "doc_id", tokens, w, 100000000L)
    assert(sampled.count() == d.where(col("source").isin("src0", "src1")).count())
    // weights that don't sum to 1 are rejected loudly
    intercept[IllegalArgumentException] {
      Sampling.mixtureRates(d, "source", tokens, Map("src0" -> 0.5), 200)
    }
  }

  test("mixture from a weight FRAME: proportional normalization, cap, unweighted drop") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = docs.select(col("source"), col("text"))
    val tokens = size(graft.ml.Featurize.tokensCol(col("text")))
    // un-normalized computed weights (3:1) — the frame form normalizes
    val w = Seq(("src0", 0.6), ("src1", 0.2)).toDF("source", "weight")
    val rates = Sampling.mixtureRatesFrom(d, "source", tokens, w, "weight",
        budgetTokens = 400)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(rates.keySet == Set("src0", "src1")) // src2 had no weight row
    val wt = (math.round(0.6 * 1e12) + math.round(0.2 * 1e12)) / 1e12
    rates.foreach { case (s, (nTok, rate)) =>
      val share = (if (s == "src0") 0.6 else 0.2) / wt
      val expect = math.min(1.0, 400.0 * share / nTok)
      assert(rate == expect, s"$s: $rate vs $expect")
    }
    // budget above corpus size takes every weighted domain whole
    val full = Sampling.mixtureRatesFrom(d, "source", tokens, w, "weight",
      budgetTokens = 100000000L).collect().map(_.getDouble(3))
    assert(full.forall(_ == 1.0))
  }

  test("mixture weight frame validation: duplicates, negatives, zero totals all fail loudly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = docs.select(col("source"), col("text"))
    val tokens = size(graft.ml.Featurize.tokensCol(col("text")))
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    // duplicate domain rows would double-count the normalizer AND
    // duplicate output rows — loud, not silent
    val dup = intercept[Throwable] {
      Sampling.mixtureRatesFrom(d, "source", tokens,
        Seq(("src0", 0.6), ("src0", 0.2)).toDF("source", "weight"),
        "weight", budgetTokens = 400).collect()
    }
    assert(msgs(dup).contains("duplicate"), msgs(dup))
    // a negative weight is rejected (matching the Map form's require)
    val neg = intercept[Throwable] {
      Sampling.mixtureRatesFrom(d, "source", tokens,
        Seq(("src0", 0.6), ("src1", -0.2)).toDF("source", "weight"),
        "weight", budgetTokens = 400).collect()
    }
    assert(msgs(neg).contains("negative weight"), msgs(neg))
    // weights that all round to 0 micro-units -> division by zero rates
    val zero = intercept[Throwable] {
      Sampling.mixtureRatesFrom(d, "source", tokens,
        Seq(("src0", 1e-13), ("src1", 2e-13)).toDF("source", "weight"),
        "weight", budgetTokens = 400).collect()
    }
    assert(msgs(zero).contains("strictly positive"), msgs(zero))
  }

  test("weighted selection: clamped probabilities, incremental subset stability") {
    import org.apache.spark.sql.functions._
    val d = docs.select(col("doc_id"), (col("doc_id") % 10).cast("double")
      .divide(10.0).as("w"))
    // weight 0 keeps nothing; weight >= 1 (or any over-scale) keeps all
    assert(Sampling.weightedSample(d, lit(0.0), "doc_id").count() == 0)
    assert(Sampling.weightedSample(d, lit(1.0), "doc_id").count() == d.count())
    assert(Sampling.weightedSample(d, lit(7.5), "doc_id").count() == d.count())
    // keep rate tracks the weight: each decile keeps ~w of its rows
    val kept = Sampling.weightedSample(d, col("w"), "doc_id")
      .groupBy("w").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val per = d.groupBy("w").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(!kept.contains(0.0))
    per.filter(_._1 >= 0.5).foreach { case (w, n) =>
      val k = kept.getOrElse(w, 0L).toDouble
      assert(math.abs(k - w * n) <= 4 * math.sqrt(n) + 5, s"w=$w kept=$k of $n")
    }
    // determinism + incrementality: selection over a 2x corpus agrees
    // exactly with the original selection on the original keys
    val ids1 = Sampling.weightedSample(d, col("w"), "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val extended = d.unionAll(d.select((col("doc_id") + 500000).as("doc_id"),
      col("w")))
    val ids2 = Sampling.weightedSample(extended, col("w"), "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids2.filter(_ < 500000) == ids1)
  }

  test("corpus diff classifies added/removed/changed/same by content hash") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val old = Seq(1L -> "alpha", 2L -> "beta", 3L -> "gamma").toDF("doc_id", "text")
    val nxt = Seq(1L -> "alpha", 2L -> "beta v2", 4L -> "delta").toDF("doc_id", "text")
    val d = graft.etl.Merge.corpusDiff(old, nxt, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(1L -> "same", 2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("curriculum shards: contiguous score ranges, balanced quartiles, loud on empty") {
    import org.apache.spark.sql.functions._
    val d = docs.select(col("doc_id"), col("n_chars").cast("double").as("s"))
    val sharded = graft.etl.Sharding.curriculumShards(d, "s", "doc_id", 4)
    val rows = sharded.collect().map(r => (r.getDouble(1), r.getInt(2)))
    assert(rows.map(_._2).toSet == Set(0, 1, 2, 3))
    // contiguous ranges: every score in shard k is <= every score in shard k+1
    val maxPer = rows.groupBy(_._2).view.mapValues(_.map(_._1).max).toMap
    val minPer = rows.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    (0 to 2).foreach(k => assert(maxPer(k) <= minPer(k + 1),
      s"shard $k max ${maxPer(k)} > shard ${k + 1} min ${minPer(k + 1)}"))
    // roughly balanced: each quartile within 2x of N/4
    val n = rows.length
    rows.groupBy(_._2).foreach { case (k, g) =>
      assert(g.size > n / 8 && g.size < n / 2, s"shard $k size ${g.size} of $n")
    }
    // positions dense 1..size per shard
    val pos = sharded.groupBy("shard").agg(count(lit(1)).as("n"),
      max(col("pos")).as("mx"), min(col("pos")).as("mn")).collect()
    pos.foreach(r => assert(r.getLong(1) == r.getInt(2).toLong && r.getInt(3) == 1))
    intercept[IllegalArgumentException] {
      graft.etl.Sharding.curriculumShards(d.where(lit(false)), "s", "doc_id", 4)
    }
  }

  test("exact-N sample: exactly N distinct rows, reproducible, hash-ordered carve") {
    import org.apache.spark.sql.functions._
    val d = docs.select("doc_id", "lang")
    val a = Sampling.sampleExactN(d, "doc_id", 37)
      .select("doc_id").collect().map(_.getLong(0))
    assert(a.length == 37 && a.toSet.size == 37)
    val b = Sampling.sampleExactN(d, "doc_id", 37)
      .select("doc_id").collect().map(_.getLong(0))
    assert(a.toSet == b.toSet) // reproducible
    // growing N only extends the carve (prefix property of a total order)
    val big = Sampling.sampleExactN(d, "doc_id", 60)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a.toSet.subsetOf(big))
    intercept[IllegalArgumentException] { Sampling.sampleExactN(d, "doc_id", 0) }
  }

  test("shard shuffle: dense 1..n positions per shard, reproducible, order is key-derived") {
    import org.apache.spark.sql.functions._
    val d = docs.select("doc_id")
    val a = Sharding.shuffleShards(d, "doc_id", nShards = 4)
    assert(a.count() == d.count())
    // every shard's positions are exactly 1..|shard|
    a.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("mn"), max("pos").as("mx"))
      .collect().foreach { r =>
        assert(r.getInt(0) >= 0 && r.getInt(0) < 4)
        assert(r.getInt(2) == 1 && r.getInt(3).toLong == r.getLong(1), r.toString)
      }
    // byte-identical on re-run (pure function of the key set)
    val b = Sharding.shuffleShards(d, "doc_id", nShards = 4)
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    // the shuffled order is not the key order: some shard has an
    // inversion between doc_id order and pos order
    val inverted = a.as("x").join(a.as("y"),
      col("x.shard") === col("y.shard") &&
        col("x.doc_id") < col("y.doc_id") && col("x.pos") > col("y.pos"))
    assert(inverted.count() > 0)
  }

  test("epoch shuffle: membership epoch-invariant, orders pairwise distinct and deterministic") {
    import org.apache.spark.sql.functions._
    val d = docs.select("doc_id")
    def run(e: Int): Map[Long, (Int, Int)] =
      Sharding.shuffleShards(d, "doc_id", nShards = 4, epoch = e)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Int]("shard"), r.getAs[Int]("pos"))).toMap
    val epochs = Seq(0, 1, 2, 3).map(run)
    // shard membership never moves across epochs
    epochs.sliding(2).foreach { case Seq(a, b) =>
      assert(a.view.mapValues(_._1).toMap == b.view.mapValues(_._1).toMap)
    }
    // each epoch's order is its own permutation: every epoch pair
    // disagrees on at least one position
    for (i <- epochs.indices; j <- epochs.indices if i < j)
      assert(epochs(i).exists { case (k, (_, p)) => epochs(j)(k)._2 != p },
        s"epochs $i and $j produced the identical order")
    // deterministic per epoch
    assert(run(2) == epochs(2))
    // positions stay dense 1..|shard| under a salt
    Sharding.shuffleShards(d, "doc_id", nShards = 4, epoch = 5)
      .groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("mn"), max("pos").as("mx"))
      .collect().foreach { r =>
        assert(r.getInt(2) == 1 && r.getInt(3).toLong == r.getLong(1), r.toString)
      }
    intercept[IllegalArgumentException] {
      Sharding.shuffleShards(d, "doc_id", 4, epoch = -1)
    }
  }

  test("sharded export: one file per shard dir, rows in shuffled pos order") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("shard_export").toString
    val back = Sharding.writeSharded(docs.select("doc_id"), "doc_id", 4, out)
    assert(back.count() == docs.count())
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    (0 until 4).foreach { k =>
      val dir = new org.apache.hadoop.fs.Path(s"$out/shard=$k")
      val parts = fs.listStatus(dir).map(_.getPath.getName)
        .filter(_.startsWith("part"))
      assert(parts.length == 1, s"shard $k: ${parts.toSeq}")
      // on-disk row order IS the shuffled order: pos strictly ascends
      val pos = spark.read.parquet(s"$out/shard=$k").select("pos")
        .collect().map(_.getInt(0))
      assert(pos.sameElements(pos.sorted), s"shard $k not pos-ordered")
      assert(pos.head == 1 && pos.last == pos.length)
    }
  }

  test("JSONL sharded export: one line-ordered file per shard, parse round-trips") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("shard_jsonl").toString
    val src = docs.select(col("doc_id"), col("text"))
    val back = Sharding.writeShardedJsonl(src, "doc_id", 4, out)
    assert(back.count() == src.count())
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    (0 until 4).foreach { k =>
      val parts = fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/shard=$k"))
        .map(_.getPath.getName).filter(_.startsWith("part"))
      assert(parts.length == 1, s"shard $k: ${parts.toSeq}")
      // raw LINE order is the shuffled order — what a trainer streams
      val lines = scala.io.Source.fromFile(
        s"$out/shard=$k/${parts.head}").getLines().toArray
      val pos = lines.map { ln =>
        "\"pos\":(\\d+)".r.findFirstMatchIn(ln).get.group(1).toInt
      }
      assert(pos.sameElements(pos.sorted), s"shard $k lines not pos-ordered")
      assert(pos.head == 1 && pos.last == pos.length, s"shard $k pos not dense")
    }
    // parsed read-back equals the assignment frame exactly
    val expect = Sharding.shuffleShards(src, "doc_id", 4)
      .select("shard", "doc_id", "pos", "text").collect().map(_.toSeq).toSet
    val got = back.select("shard", "doc_id", "pos", "text")
      .collect().map(_.toSeq).toSet
    assert(got == expect)
    // epoch salt flows through: same membership, different order
    // (fresh dir — overwriting `out` would invalidate `back`'s files)
    val out2 = java.nio.file.Files.createTempDirectory("shard_jsonl2").toString
    val e2 = Sharding.writeShardedJsonl(src, "doc_id", 4, out2, epoch = 2)
    val m1 = back.select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val m2 = e2.select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(m1 == m2, "epoch changed shard membership")
    val o1 = back.where(col("shard") === 0).orderBy("pos")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val o2 = e2.where(col("shard") === 0).orderBy("pos")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(o1 != o2, "epoch 2 should reorder within-shard")
  }

  test("shard skew audit: a 90%-one-domain corpus still yields balanced shard bytes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // adversarial: 90% of documents from one domain, and that domain's
    // documents are ~15x longer — domain skew must NOT become shard
    // skew, because the shard key is the md5 of the UNIQUE doc key,
    // independent of domain and length
    val dom = (0 until 900).map(i =>
      (i.toLong, "src0", Seq.tabulate(60)(j => s"tok${i}_$j").mkString(" ")))
    val rest = (900 until 1000).map(i =>
      (i.toLong, s"src${i % 9 + 1}", s"short text $i"))
    val corpus = (dom ++ rest).toDF("doc_id", "source", "text")
    val out = java.nio.file.Files.createTempDirectory("shard_skew").toString
    val back = Sharding.writeSharded(corpus, "doc_id", 8, out)
    assert(back.count() == 1000)
    // row balance
    val counts = back.groupBy("shard").count()
      .collect().map(_.getLong(1)).sorted
    assert(counts.length == 8)
    val rowRatio = counts.max.toDouble / counts(counts.length / 2)
    assert(rowRatio <= 1.5, s"row skew $rowRatio: ${counts.mkString(",")}")
    // byte balance of the written shard files
    val bytes = (0 until 8).map { k =>
      val d = new java.io.File(s"$out/shard=$k")
      d.listFiles().filter(f => f.isFile && f.getName.startsWith("part"))
        .map(_.length()).sum
    }.sorted
    val byteRatio = bytes.max.toDouble / bytes(bytes.length / 2)
    assert(byteRatio <= 1.5, s"byte skew $byteRatio: ${bytes.mkString(",")}")
    // the dominant domain spreads across EVERY shard (no funnel)
    val domSpread = back.where(col("source") === "src0")
      .select("shard").distinct().count()
    assert(domSpread == 8, s"src0 reached only $domSpread shards")
  }

  test("seeded sampleBy variant is reproducible for a fixed seed") {
    val labeled = Etl.cleanAndLabel(docs, cfg)
    val a = Sampling.sampleData(labeled, "lang", 60, 30, seed = 7).count()
    val b = Sampling.sampleData(labeled, "lang", 60, 30, seed = 7).count()
    assert(a == b)
  }

  test("training file is a single flat file of __label__ lines") {
    val tmp = java.nio.file.Files.createTempDirectory("tf").toString
    val labeled = Etl.cleanAndLabel(docs, cfg)
    labeled.write.mode("overwrite").parquet(s"$tmp/labeled")
    val tf = new TrainingFile(s"$tmp/labeled", s"$tmp/out", "lang", "fasttext")
    val path = tf.generateTrainingFile(sampleRate = 0.5, minCount = 10)
    val lines = spark.read.text(path)
    assert(lines.count() > 0)
    assert(lines.filter(!col("value").startsWith("__label__")).count() == 0)
    val fixed = tf.generateFixedTrainingFile(5)
    val fixedLines = spark.read.text(fixed).count()
    assert(fixedLines == 5L * 5) // 5 langs × 5 rows
    assert(TrainingFile.listTrainingFiles(s"$tmp/out").size == 2)
    // each write renames its part file into final/ and removes its temp dir
    assert(new java.io.File(s"$tmp/out").list().toSeq == Seq("final"))
    // a repeated write to the same name replaces the file in place
    val rows = spark.read.parquet(s"$tmp/labeled").count()
    val all = tf.writeAllTo("all.txt")
    assert(tf.writeAllTo("all.txt") == all)
    assert(spark.read.text(all).count() == rows)
    assert(TrainingFile.listTrainingFiles(s"$tmp/out").size == 3)
    assert(new java.io.File(s"$tmp/out").list().toSeq == Seq("final"))
  }

  test("expectations: split routes exactly, nulls violate, enforce honors tolerance") {
    import spark.implicits._
    import graft.etl.Expectations._
    val df = Seq(
      (1L, "good row", 10),
      (2L, "", 5),              // fails nonempty
      (3L, null, 7),            // null predicate input => violation
      (4L, "also fine", -1),    // fails positive
      (5L, "fine", 3)).toDF("id", "txt", "score")
    val rules = Seq(
      Rule("nonempty", length(col("txt")) > 0),
      Rule("positive", col("score") > 0, tolerance = 0.25))
    val (passed, quarantined) = split(df, rules)
    assert(passed.select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 5L))
    val quar = quarantined.select(col("id"), col("violations"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(quar == Map(2L -> Set("nonempty"), 3L -> Set("nonempty"),
      4L -> Set("positive")), quar.toString)
    // passed side keeps the ORIGINAL schema (no flag columns leak)
    assert(passed.columns.toSeq == Seq("id", "txt", "score"))
    // audit: one row per rule, exact counts
    val a = audit(df, rules).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(a("nonempty") == ((2L, 0.4)), a.toString)
    assert(a("positive") == ((1L, 0.2)), a.toString)
    // enforce: positive (rate 0.2 <= tol 0.25) alone passes; nonempty
    // (0.4 > 0) fails and is NAMED
    enforce(df, Seq(rules(1)))
    val e = intercept[IllegalStateException](enforce(df, rules))
    assert(e.getMessage.contains("nonempty") &&
      !e.getMessage.contains("positive"), e.getMessage)
    // duplicate rule names and bad tolerances refuse loudly
    intercept[IllegalArgumentException](
      withFlags(df, Seq(rules.head, rules.head.copy(predicate = lit(true)))))
    intercept[IllegalArgumentException](Rule("x", lit(true), tolerance = 1.5))
    intercept[IllegalArgumentException](Rule("bad name", lit(true)))
    // an EMPTY frame trivially satisfies every expectation: audit
    // reports zeros (not nulls) and enforce passes instead of NPE-ing
    // — empty daily partitions are a realistic input
    val empty = df.where(lit(false))
    val z = audit(empty, rules).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(z == Map("nonempty" -> ((0L, 0.0)), "positive" -> ((0L, 0.0))),
      z.toString)
    enforce(empty, rules)
  }
}
