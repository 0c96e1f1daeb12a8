package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, TextStats}

/** The whole user story in one test: a raw corpus with planted exact
  * duplicates, near-duplicates and label signal goes through
  * normalize → exact dedup → near-dup apply → quality filter →
  * temperature sample → split → train → evaluate → export, using only
  * the library's public operators — the composition a reference user
  * switching to this engine would actually run. */
class E2ESpec extends AnyFunSuite with SparkTestSession {

  test("LLM corpus pipeline: normalize → dedup → filter → sample → train → export") {
    import spark.implicits._
    val raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n0 = raw.count()

    // plant: label signal on every doc, 5 exact copies, 5 mutated near-dups
    val sig = concat(lit("xsig"), col("lang"))
    val docs = raw.select(col("doc_id"), col("lang"),
      concat_ws(" ", col("text"), sig, sig, sig).as("text"))
    val exactCopies = docs.where(col("doc_id") < 5)
      .select((col("doc_id") + 600000).as("doc_id"), col("lang"), col("text"))
    val nearCopies = docs.where(col("doc_id") >= 5 && col("doc_id") < 10)
      .select((col("doc_id") + 700000).as("doc_id"), col("lang"),
        concat(col("text"), lit(" zzz zzz zzz")).as("text"))
    val corpus = docs.union(exactCopies).union(nearCopies)

    // 1. normalize (planted copies normalize identically to originals)
    val normalized = corpus.withColumn("text", TextStats.normalizeText(col("text")))

    // 2. exact dedup drops the 5 identical copies (min-id wins)
    val exact = Dedup.exactDedup(normalized, "text", "doc_id")
    assert(exact.count() == n0 + 5, "exact dedup should drop the 5 copies")
    assert(exact.where(col("doc_id") >= 600000 && col("doc_id") < 700000).count() == 0)

    // 3. near-dup pairs → components → apply drops the 5 mutated copies
    val pairs = Dedup.nearDupPairs(exact, "text", "doc_id", threshold = 0.5)
    val comps = Dedup.connectedComponents(pairs)
    val losers = comps.where(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    val deduped = exact.join(losers, Seq("doc_id"), "left_anti")
    assert(deduped.where(col("doc_id") >= 700000).count() == 0,
      "near-dup apply should drop the mutated copies")
    // the fixture also holds natural near-dups at the 0.5 threshold —
    // those go too; only the planted survivors are asserted exactly
    assert(deduped.count() <= n0 && deduped.count() > n0 - 60, deduped.count().toString)

    // 3b. exact span dedup (the C4/suffix-array move): a verbatim
    //     8-token block repeated across documents is cut from the
    //     later doc, the first occurrence kept, schema preserved
    val blk = "b1 b2 b3 b4 b5 b6 b7 b8"
    val withSpans = deduped.union(Seq(
      (800000L, "en", s"$blk alpha beta gamma delta"),
      (800001L, "en", s"$blk epsilon zeta eta theta"))
      .toDF("doc_id", "lang", "text").select("doc_id", "lang", "text"))
    val spanned = Dedup.spanDedup(withSpans, "text", "doc_id", blockTokens = 8)
      .where(col("doc_id") >= 800000L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(spanned(800000L) == s"$blk alpha beta gamma delta")
    assert(spanned(800001L) == "epsilon zeta eta theta")

    // 4. quality floor (planted signal guarantees >= 4 tokens)
    val filtered = deduped.where(TextStats.tokenCount(col("text")) >= 4)

    // 4b. Gopher rule audit: every row gets its per-rule booleans and
    //     the conjunction is exactly the AND of its components (audit
    //     form — a production run would hard-filter on pass_gopher)
    val flagged = TextStats.withGopherFlags(filtered, "text")
    assert(flagged.count() == filtered.count())
    assert(flagged.where(col("pass_gopher") =!=
      (col("rule_words") && col("rule_word_len") && col("rule_symbols") &&
        col("rule_alpha") && col("rule_stopwords"))).count() == 0)

    // 4c. DSIR selection: with the English slice as target, the
    //     planted lang-marker tokens (xsigen vs xsigfr/...) make
    //     English documents measurably more target-like
    val dsir = graft.ext.Selection.dsirWeights(filtered, "text", "doc_id",
        isTarget = col("lang") === "en")
      .join(filtered.select("doc_id", "lang"), Seq("doc_id"))
    val Array(enAvg, otherAvg) = dsir
      .groupBy((col("lang") === "en").as("isEn"))
      .agg(avg(col("weight")).as("w"))
      .orderBy(col("isEn").desc).collect().map(_.getDouble(1))
    assert(enAvg > otherAvg, s"en=$enAvg other=$otherAvg")

    // 4d. CCNet-style LM scoring: the bigram model trained on the
    //     English slice makes English docs (sharing the planted
    //     xsigen bigrams) cheaper to encode than the rest
    val lm = graft.ext.Selection.lmDocBits(filtered, "text", "doc_id",
        isTarget = col("lang") === "en")
      .join(filtered.select("doc_id", "lang"), Seq("doc_id"))
    val Array(enBits, otherBits) = lm.where(col("bits_per_token").isNotNull)
      .groupBy((col("lang") === "en").as("isEn"))
      .agg(avg(col("bits_per_token")).as("b"))
      .orderBy(col("isEn").desc).collect().map(_.getDouble(1))
    assert(enBits < otherBits, s"en=$enBits other=$otherBits")

    // 4e. token-budget mixture: cap the corpus to a 2k-token budget
    //     split across three sources (source joined back from the raw
    //     table — the planted copies are deduped away by this point);
    //     only weighted sources survive
    val mixture = graft.etl.Sampling.mixtureSample(
      filtered.join(raw.select("doc_id", "source"), Seq("doc_id")),
      "source", "doc_id", TextStats.tokenCount(col("text")),
      Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), budgetTokens = 2000L)
    assert(mixture.select("source").distinct().count() <= 3)

    // 5. temperature-weighted sample toward a 300-doc training mix
    val mixed = graft.etl.Sampling.sampleTemperature(
      filtered, "lang", "doc_id", target = 300)
    assert(mixed.count() > 0 && mixed.count() <= filtered.count())

    // 5b. pack the mix into 64-token training sequences (salted
    //     partitions, no global order); the last sequence per
    //     partition starts past every earlier budget boundary
    val packed = TextStats.packSequences(mixed, "text", "doc_id",
      budget = 64, parts = 4)
    assert(packed.count() == mixed.count())
    packed.groupBy("part")
      .agg(sum(col("n_tokens")).as("total"),
        max(col("seq_id") % (1L << 40)).as("lastSeq"))
      .collect().foreach { r =>
        assert(r.getAs[Long]("total") > r.getAs[Long]("lastSeq") * 64L,
          r.toString)
      }

    // 6. clean/label/split with the reference pipeline
    val cfg = graft.etl.Etl.Config(labelCol = "lang", textCol = "text",
      keyCol = "doc_id", sampleSize = 5000, countThreshold = 5)
    val labeled = graft.etl.Etl.cleanAndLabel(mixed, cfg)
    val withPct = graft.etl.Split.addClassPercentileDeterministic(
      labeled, "lang", "doc_id")
    val (train, test) = graft.etl.Split.split(withPct, 0.9)

    // 7. train + evaluate: the planted signal must be recovered
    val model = graft.ml.Trainer.train(train, "lang", "text_clean",
      graft.ml.Trainer.Params(epoch = 3, wordNgrams = 1, numFeatures = 1 << 13))
    val scored = model.predict(test, "text_clean", "pr_lang")
    val acc = scored.where(col("pr_lang") === col("lang")).count().toDouble /
      math.max(scored.count(), 1L)
    assert(acc >= 0.9, f"end-to-end accuracy $acc%.3f < 0.9")

    // 8. deterministic shard/shuffle assignment, then export the
    //    training file and read it back intact
    val sharded = graft.etl.Sharding.shuffleShards(train, "doc_id", nShards = 4)
    assert(sharded.count() == train.count())
    assert(sharded.select("shard").distinct().count() <= 4)
    val out = java.nio.file.Files.createTempDirectory("e2e_tf").toString
    train.select(col("lang"), col("fasttext").as("line"))
      .write.mode("overwrite").parquet(s"$out/data.parquet")
    val tf = new graft.etl.TrainingFile(s"$out/data.parquet", s"$out/txt", "lang", "line")
    val path = tf.writeAllTo("train.txt")
    assert(spark.read.text(path).count() == train.count())
  }

  /** The corpus OPERATIONS story: how a published corpus lives across
    * refreshes — atomic publish, CDC merge refresh, z-order clustered
    * layout with stats-catalog skipping, BPE vocabulary from the
    * current version, PQ retrieval over its embeddings. */
  test("corpus lifecycle: publish → CDC refresh → clustered layout → skipping scan → vocab + retrieval") {
    import graft.etl.{Merge, Publish, StatsCatalog, ZOrder}
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "text")
    val n0 = docs.count()
    val tableDir = java.nio.file.Files.createTempDirectory("corpus_v").toString

    // v1: atomic publish — readers see a complete version or nothing
    Publish.write(docs, tableDir)

    // CDC refresh: updates (id%7), deletes (id%13), inserts (+1e6 keys)
    val changes =
      docs.where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), lit(2L).as("seq"), lit("u").as("op"),
          col("lang"), concat(col("text"), lit(" v2")).as("text"))
      .unionByName(docs.where(col("doc_id") % 13 === 0)
        .select(col("doc_id"), lit(3L).as("seq"), lit("d").as("op"),
          col("lang"), col("text")))
      .unionByName(docs.where(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), lit(1L).as("seq"),
          lit("u").as("op"), col("lang"), col("text")))
    val v2 = Merge.applyCdc(Publish.read(spark, tableDir), changes, "doc_id")
    Publish.write(v2, tableDir)
    val current = Publish.read(spark, tableDir)
    val nDeleted = docs.where(col("doc_id") % 13 === 0).count()
    val nInserted = docs.where(col("doc_id") % 29 === 0).count()
    assert(current.count() == n0 - nDeleted + nInserted)
    assert(Publish.versions(tableDir).length == 2) // v1 still time-travelable

    // clustered layout + stats catalog: skip on the DENSE dimension.
    // (doc_id is deliberately pathological here — bimodal with 1e6+
    // outliers from the inserts — so its min-max buckets collapse and
    // its boxes stay wide: exactly why you cluster on columns whose
    // distribution you checked, e.g. with Skew.profile.)
    val zdir = java.nio.file.Files.createTempDirectory("corpus_z").toString
    ZOrder.clusterWrite(current.withColumn("len", length(col("text"))),
      "doc_id", "len", zdir, numFiles = 4)
    val table = spark.read.parquet(zdir)
    val stats = StatsCatalog.collect(table, Seq("len"))
    val hi = table.selectExpr("CAST(percentile(len, 0.1) AS BIGINT)")
      .head().getLong(0)
    val (res, read, total) =
      StatsCatalog.skippingScan(spark, stats, "len", 0L, hi)
    assert(read < total, s"read $read/$total")
    assert(res.count() ==
      current.where(length(col("text")).between(0, hi)).count())

    // tokenizer vocabulary from the live version
    val vocab = graft.ext.TextStats.bpeTrain(current, "text", merges = 2)
    assert(vocab.length == 2 && vocab.forall(_._3 >= 1))

    // retrieval over the corpus embeddings: PQ index finds a planted copy
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val books = graft.ext.Similarity.pqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 4, ksub = 8, iters = 1)
    val planted = emb.where(col("vec_id") === 7)
      .select((col("vec_id") + 800000L).as("vec_id"), col("embedding"), col("label"))
    val hits = graft.ext.Similarity.pqTopK(emb.where(col("vec_id") === 7),
      emb.unionByName(planted), "vec_id", "embedding", 5, books)
      .collect().map(_.getLong(1)).toSet
    assert(hits.contains(800007L), hits.toString)

    // the served-index form: IVF cells prune, ADC scores — an exact
    // copy lands in the query's own cell with the query's own codes,
    // so it survives both prunings
    val cents = graft.ext.Similarity.kmeansCentroids(emb, "vec_id",
      "embedding", 8, iters = 1)
    val ivfpqHits = graft.ext.Similarity.ivfPqTopK(
      emb.where(col("vec_id") === 7), emb.unionByName(planted),
      "vec_id", "embedding", 5, cents, nprobe = 2, books = books)
      .collect().map(_.getLong(1)).toSet
    assert(ivfpqHits.contains(800007L), ivfpqHits.toString)

    // SemDeDup before serving: the planted copy lands in its
    // original's cluster and is dropped; the corpus itself survives
    val kept = graft.ext.Dedup.semanticDedup(emb.unionByName(planted),
      "vec_id", "embedding", cents, threshold = 0.99)
    assert(kept.count() == emb.count())
    assert(kept.where(col("vec_id") === 800007L).count() == 0)

    // sparse retrieval over the live text version: a document with
    // DISTINCTIVE terms (max idf) must come back as its own top hit.
    // (The fixture's word-soup docs share one tiny vocabulary, so
    // among THEM rank 1 is legitimately decided by tf/length — BM25's
    // discriminative power lives in rare terms, which is what a real
    // contamination/retrieval probe carries.)
    val needle = Seq((5000001L, "en", "zanzibar quokka vermilion obelisk"))
      .toDF("doc_id", "lang", "text")
    val served = current.select("doc_id", "lang", "text").unionByName(needle)
    val top1 = graft.ext.Retrieval.bm25TopK(needle, served,
        "doc_id", "text", k = 3)
      .where(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1 == Map(5000001L -> 5000001L), top1.toString)

    // two-stage refine over the same index: the ADC shortlist is
    // re-scored with EXACT cosine, so the planted copy comes back at
    // rank 1 with cosine exactly 1.0 — the production serving shape
    val refined = graft.ext.Similarity.rerankTopK(
      emb.where(col("vec_id") === 7), emb.unionByName(planted),
      "vec_id", "embedding", 5,
      graft.ext.Similarity.ivfPqTopK(emb.where(col("vec_id") === 7),
        emb.unionByName(planted), "vec_id", "embedding", 50,
        cents, nprobe = 2, books = books))
      .where(col("rank") === 1).collect()
    assert(refined.length == 1 && refined(0).getLong(1) == 800007L &&
      refined(0).getDouble(2) == 1.0, refined.mkString(","))

    // the expectations operational loop on the live version:
    // quarantine via a real sink → fix → re-ingest → audit zero
    {
      import graft.etl.Expectations.{Rule, audit, split}
      val rules = Seq(Rule("max_len", length(col("text")) <= 400))
      val (ok, bad) = split(current, rules)
      val qdir = java.nio.file.Files.createTempDirectory("e2e_quar").toString
      bad.write.mode("overwrite").parquet(qdir)
      val fixed = spark.read.parquet(qdir).drop("violations")
        .withColumn("text", substring(col("text"), 1, 400))
      val replayed = ok.unionByName(fixed)
      assert(replayed.count() == current.count())
      val after = audit(replayed, rules).collect()
      assert(after.forall(_.getLong(1) == 0L), after.mkString(","))
    }
  }
}
