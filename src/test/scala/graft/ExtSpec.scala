package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ext._

/** LLM-pipeline extension operators: dedup finds planted duplicates,
  * IVF recall vs brute-force truth, multimodal batch decode. */
class ExtSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("exact dedup keeps smallest id among planted duplicates") {
    val dup = docs.limit(5).select((col("doc_id") + 10000).as("doc_id"), col("text"))
    val withDups = docs.select("doc_id", "text").union(dup)
    val deduped = Dedup.exactDedup(withDups, "text", "doc_id")
    assert(deduped.count() == docs.count())
    assert(deduped.where(col("doc_id") >= 10000).count() == 0)
  }

  test("canonical pick keeps the highest-weight member, smallest id on ties") {
    import spark.implicits._
    val g = Seq(
      ("g1", 1L, 0.5), ("g1", 2L, 0.9), ("g1", 3L, 0.9), // tie at 0.9 -> id 2
      ("g2", 7L, 0.1),                                   // singleton
      ("g3", 9L, 0.3), ("g3", 4L, 0.2))                  // 9 wins on weight
      .toDF("grp", "id", "w")
    val got = Dedup.canonicalPick(g, "id", "grp", "w")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("g1" -> 2L, "g2" -> 7L, "g3" -> 9L))
  }

  test("length-bucketed batches: similar lengths share batches, padding is exact, overflow is loud") {
    import spark.implicits._
    def doc(n: Int) = (1 to n).map(_ => "t").mkString(" ")
    val d = Seq(1L -> doc(3), 2L -> doc(4), 3L -> doc(5),   // bucket 0 (w=8)
      4L -> doc(9), 5L -> doc(10))                          // bucket 1
      .toDF("doc_id", "text")
    val b = TextStats.batchByLength(d, "text", "doc_id",
        bucketWidth = 8, batchSize = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    // bucket 0, (n_tokens, id) order: 3,4 -> batch idx 0; 5 -> idx 1
    val m = 1L << 40
    assert(b(1L) == ((0L, 0L)) && b(2L) == ((0L, 0L)))
    assert(b(3L) == ((0L, 1L)))
    assert(b(4L) == ((1L, m)) && b(5L) == ((1L, m)))
    // overflow raises rather than aliasing into the next bucket
    val boom = intercept[Throwable] {
      TextStats.batchByLength(d, "text", "doc_id",
        bucketWidth = 8, batchSize = 1, maxBatchesPerBucket = 2).collect()
    }
    assert(allMessages(boom).contains("maxBatchesPerBucket"), allMessages(boom))
  }

  test("minhash LSH surfaces a planted near-duplicate pair") {
    // plant: doc 9001 = doc 0's text with one token changed
    val base = docs.where(col("doc_id") === 0).select("text").head().getString(0)
    val tokens = base.split(" ")
    val mutated = (tokens.take(tokens.length - 1) :+ "zzz").mkString(" ")
    val planted = docs.select("doc_id", "text")
      .union(Seq((9001L, mutated)).toDF("doc_id", "text"))
    val pairs = Dedup.nearDupPairs(planted, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 9001L)), s"pairs=$pairs")
    // the candidates-only API surfaces at least the verified pairs
    val cands = Dedup.lshCandidatePairs(planted, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.subsetOf(cands), s"missing candidates: ${pairs -- cands}")
  }

  test("ad-hoc jaccard column matches set arithmetic") {
    import spark.implicits._
    val df = Seq((Seq("a", "b", "c", "a"), Seq("b", "c", "d"))).toDF("x", "y")
    // inter {b,c} = 2, union {a,b,c,d} = 4
    val j = df.select(Dedup.jaccard(col("x"), col("y"))).head().getDouble(0)
    assert(j == 0.5, j.toString)
    // the HOF let-binding form must reference each non-cheap
    // subexpression exactly once — no per-reference re-evaluation
    // alias: the auto-generated column name embeds the pretty-printed
    // expression, which would double-count the pattern below
    val analyzed = df.select(Dedup.jaccard(col("x"), col("y")).as("j"))
      .queryExecution.analyzed.toString
    assert("array_intersect".r.findAllIn(analyzed).size == 1, analyzed)
    assert("array_distinct".r.findAllIn(analyzed).size == 2, analyzed)
    // empty ∩ empty: union 0 -> defined 0.0, not null/NaN
    val z = Seq((Seq.empty[String], Seq.empty[String])).toDF("x", "y")
      .select(Dedup.jaccard(col("x"), col("y"))).head().getDouble(0)
    assert(z == 0.0)
  }

  test("near-dup operators release their shingle caches") {
    val sc = spark.sparkContext
    val planted = docs.limit(50).select("doc_id", "text")
    val before = sc.getPersistentRDDs.keySet.toSet
    Dedup.nearDupPairs(planted, "text", "doc_id", threshold = 0.5).count()
    val leakedP = sc.getPersistentRDDs.keySet.toSet -- before
    // at most the eagerly-checkpointed result survives — the shingle
    // cache itself must be gone the moment the operator returns
    assert(leakedP.size <= 1, s"nearDupPairs leaked caches: $leakedP")
    val before2 = sc.getPersistentRDDs.keySet.toSet
    Dedup.nearDupIncremental(planted.where(col("doc_id") < 5), planted,
      "text", "doc_id", threshold = 0.5).count()
    val leakedI = sc.getPersistentRDDs.keySet.toSet -- before2
    assert(leakedI.size <= 1, s"nearDupIncremental leaked caches: $leakedI")
  }

  test("array-form minhash signature and band keys match the frame form") {
    // the ad-hoc column form must agree with the scalable
    // explode+partial-agg form it documents itself against
    val sample = docs.where(col("doc_id") < 50).select("doc_id", "text")
    val arrForm = sample.select(col("doc_id"),
        Dedup.minhashSignature(Dedup.shingles(col("text")), 4).as("sig"))
      .select(col("doc_id"),
        element_at(col("sig"), 1).as("m0"), element_at(col("sig"), 2).as("m1"),
        element_at(col("sig"), 3).as("m2"), element_at(col("sig"), 4).as("m3"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).toMap
    val frameForm = Dedup.minhashSignatures(sample, "text", "doc_id", 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).toMap
    assert(arrForm == frameForm)
    // band keys from the array signature match the column-wise keys
    val viaArray = sample.select(col("doc_id"),
        Dedup.bandKeys(Dedup.minhashSignature(Dedup.shingles(col("text")), 4),
          bands = 2, rowsPerBand = 2).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val viaCols = Dedup.minhashSignatures(sample, "text", "doc_id", 4)
      .select(col("doc_id"), Dedup.bandKeysFromColumns(4, 2).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(viaArray == viaCols)
  }

  test("simhash of a near-duplicate is within small hamming distance") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy cat today"),
      (3L, "completely different words appear in this sentence entirely"))
      .toDF("id", "text")
    val sh = df.select(col("id"),
      Dedup.simhash16(graft.ml.Featurize.tokensCol(col("text"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)),
      s"near-dup hamming ${ham(sh(1L), sh(2L))} !< distinct ${ham(sh(1L), sh(3L))}")
    // the column-level distance agrees with the local computation
    import spark.implicits._
    val pairHam = Seq((sh(1L), sh(2L))).toDF("a", "b")
      .select(Dedup.hamming16(col("a"), col("b")).cast("int")).head().getInt(0)
    assert(pairHam == ham(sh(1L), sh(2L)))
  }

  test("IVF top-k achieves reasonable recall against brute force") {
    val queries = emb.where(col("vec_id") < 10)
    val brute = Similarity.bruteTopK(queries, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 8)
    val ivf = Similarity.ivfTopKWith(queries, emb, "vec_id", "embedding", 5,
      cents, nprobe = 4)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall=$recall (|brute|=${brute.size}, |ivf|=${ivf.size})")
    // the stored-index builder assigns every vector a valid cell
    val indexed = Similarity.assignCells(emb, "embedding", cents)
    assert(indexed.where(col("cell") < 0 || col("cell") >= 8).count() == 0)
    assert(indexed.select("cell").distinct().count() > 1)
  }

  test("PQ codes are valid and ADC scores match local recomputation") {
    val books = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 4, ksub = 8, iters = 1)
    assert(books.length == 4 && books.forall(_.length == 8) &&
      books.forall(_.forall(_.length == 16)))
    val encoded = Similarity.pqEncode(
      emb.select(col("vec_id"), col("embedding")), "embedding", books)
    val codeCols = (0 until 4).map(i => s"code_$i")
    // every code is a valid sub-centroid id, and codes discriminate
    codeCols.foreach { c =>
      assert(encoded.where(col(c) < 0 || col(c) >= 8).count() == 0, c)
      assert(encoded.select(c).distinct().count() > 1, c)
    }
    // ADC exactness of the plumbing: recompute a query row's expected
    // approximate cosine locally from the collected codes + codebooks
    val codes = encoded.select(col("vec_id") +: codeCols.map(col): _*)
      .collect().map(r => r.getLong(0) -> (0 until 4).map(i => r.getInt(i + 1))).toMap
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val out = Similarity.pqTopK(emb.where(col("vec_id") === 0), emb,
      "vec_id", "embedding", 3, books).collect()
    assert(out.length == 3)
    out.foreach { r =>
      val (qid, nid, got) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val q = vecs(qid)
      val qn = math.sqrt(q.map(x => x * x).sum)
      val adot = (0 until 4).map { s =>
        val c = books(s)(codes(nid)(s))
        c.indices.map(t => q(s * 16 + t) * c(t)).sum
      }.sum
      val cxn = math.sqrt((0 until 4).map { s =>
        val c = books(s)(codes(nid)(s)); c.map(x => x * x).sum
      }.sum)
      val expect = if (qn * cxn > 0)
        BigDecimal(adot / (qn * cxn)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      else 0.0
      assert(math.abs(got - expect) < 1e-9, s"($qid,$nid): got $got expect $expect")
    }
    // compression sanity vs exact truth: the fixture vectors are
    // near-random, the worst case for a coarse 4×8 quantizer, so
    // absolute recall is inherently low — assert a clear margin over
    // the ~1% random-pick baseline (5 of 499), not a high bar
    val queries = emb.where(col("vec_id") < 10)
    val brute = Similarity.bruteTopK(queries, emb, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(queries, emb, "vec_id", "embedding", 5, books)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect pq).size.toDouble / brute.size
    assert(recall >= 0.03, s"recall=$recall (random baseline ≈ 0.01)")
    // the guarantee that matters for dedup-style retrieval: an exact
    // copy quantizes to the query's own codes → maximal ADC score
    val planted = emb.where(col("vec_id") === 0)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"),
        col("label"))
    val found = Similarity.pqTopK(emb.where(col("vec_id") === 0),
      emb.unionByName(planted), "vec_id", "embedding", 5, books)
      .collect().map(_.getLong(1)).toSet
    assert(found.contains(900000L), s"planted copy not in top-5: $found")
  }

  test("rerank of a brute shortlist is exactly bruteTopK; rerank lifts PQ recall") {
    val queries = emb.where(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    // identity: exact shortlist + exact re-rank = exact top-k, bit for
    // bit (same fold order, rounding, tie-breaks)
    val brute5 = rows(Similarity.bruteTopK(queries, emb, "vec_id", "embedding", 5))
    val viaRerank = rows(Similarity.rerankTopK(queries, emb, "vec_id", "embedding", 5,
      Similarity.bruteTopK(queries, emb, "vec_id", "embedding", 20)))
    assert(viaRerank == brute5)
    // the production composition: a coarse quantizer proposes, exact
    // cosine decides — recall@5 must LIFT beyond the quantized path's
    val books = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 4, ksub = 8, iters = 1)
    val bruteSet = brute5.map(r => (r._1, r._2)).toSet
    val pqAlone = Similarity.pqTopK(queries, emb, "vec_id", "embedding", 5, books)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val shortl = Similarity.pqTopK(queries, emb, "vec_id", "embedding", 100, books)
    val refined = Similarity.rerankTopK(queries, emb, "vec_id", "embedding", 5, shortl)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rPq = (bruteSet intersect pqAlone).size.toDouble / bruteSet.size
    val rRef = (bruteSet intersect refined).size.toDouble / bruteSet.size
    assert(rRef > rPq, s"refined recall $rRef !> pq-alone recall $rPq")
    // re-ranked scores are EXACT cosines: every (q,n) pair the refined
    // result shares with brute truth carries the identical score
    val bruteScores = brute5.map(r => (r._1, r._2) -> r._3).toMap
    rows(Similarity.rerankTopK(queries, emb, "vec_id", "embedding", 5, shortl))
      .foreach { case (q, nb, c, _) =>
        bruteScores.get((q, nb)).foreach(exp => assert(c == exp, s"($q,$nb)"))
      }
  }

  test("SQ8 codes are valid, near-exact on planted copies, fine on constant dims") {
    import spark.implicits._
    val (mins, steps) = Similarity.sqBounds(emb, "embedding", 64)
    assert(mins.length == 64 && steps.length == 64)
    assert(steps.forall(_ >= 0.0))
    val codes = Similarity.sqEncode(emb, "embedding", mins, steps)
      .select(explode(col("sq_code"))).collect().map(_.getInt(0))
    assert(codes.forall(c => c >= 0 && c <= 255))
    // a planted exact copy must come back at rank 1: quantization noise
    // is identical for identical vectors, so its cosine is the max
    val planted = emb.union(emb.where(col("vec_id") === 3)
      .select((col("vec_id") + 70000).as("vec_id"), col("embedding"),
        col("label")))
    val (m2, s2) = Similarity.sqBounds(planted, "embedding", 64)
    val got = Similarity.sqTopK(planted.where(col("vec_id") === 3),
        planted, "vec_id", "embedding", 1, m2, s2).collect()
    assert(got.head.getAs[Long]("neighbor_id") == 70003L, got.mkString)
    assert(got.head.getAs[Double]("cosine") > 0.999)
    // SQ top-1 tracks brute-force top-1 closely (8-bit noise floor)
    val q = emb.where(col("vec_id") < 10)
    val brute = Similarity.bruteTopK(q, emb, "vec_id", "embedding", 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val sq = Similarity.sqTopK(q, emb, "vec_id", "embedding", 1, mins, steps)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    sq.foreach { case (qid, c) =>
      assert(math.abs(c - brute(qid)) < 0.05, s"query $qid: sq=$c brute=${brute(qid)}")
    }
    // constant dimension -> step 0, code 0, dequant returns min exactly
    val const = Seq((1L, Array(1.0f, 5.0f)), (2L, Array(2.0f, 5.0f)),
      (3L, Array(3.0f, 5.0f))).toDF("vec_id", "embedding")
    val (cm, cs) = Similarity.sqBounds(const, "embedding", 2)
    assert(cs(1) == 0.0 && cm(1) == 5.0)
    val cCodes = Similarity.sqEncode(const, "embedding", cm, cs)
      .select(col("sq_code")(1)).collect().map(_.getInt(0))
    assert(cCodes.forall(_ == 0))
    assert(Similarity.sqTopK(const.where(col("vec_id") === 1), const,
      "vec_id", "embedding", 2, cm, cs).count() == 2)
  }

  test("IVFPQ equals PQ when probing all cells; pruning only narrows candidates") {
    val books = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 4, ksub = 8, iters = 1)
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      8, iters = 1)
    val queries = emb.where(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // nprobe = nCells: the cell equi-join covers the whole corpus, so
    // scoring/tie-breaking must reproduce pqTopK exactly
    val full = rows(Similarity.ivfPqTopK(queries, emb, "vec_id",
      "embedding", 5, cents, nprobe = 8, books = books))
    val pq = rows(Similarity.pqTopK(queries, emb, "vec_id", "embedding",
      5, books))
    assert(full == pq, s"diff: ${(full diff pq) ++ (pq diff full)}")
    // nprobe < nCells: every survivor's (query, neighbor, cosine)
    // must exist in the unpruned result set (pruning can only drop)
    val pruned = Similarity.ivfPqTopK(queries, emb, "vec_id",
      "embedding", 5, cents, nprobe = 2, books = books)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fullScores = full.map { case (q, n, c, _) => (q, n, c) }
    // rebuild the unpruned candidate scores without the top-k cut for
    // the containment check: k = corpus size keeps every candidate
    val allScores = rows(Similarity.ivfPqTopK(queries, emb, "vec_id",
      "embedding", Int.MaxValue, cents, nprobe = 8, books = books))
      .map { case (q, n, c, _) => (q, n, c) }
    assert(pruned.subsetOf(allScores), s"pruned produced novel scores")
    assert(pruned.nonEmpty && fullScores.nonEmpty)
    // recall floor vs exact brute-force truth: at full probing IVFPQ
    // carries PQ's own recall (a clear margin over the ~1% random
    // baseline on the adversarially random fixture)
    val brute = Similarity.bruteTopK(queries, emb, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpqPairs = full.map { case (q, n, _, _) => (q, n) }
    val recall = (brute intersect ivfpqPairs).size.toDouble / brute.size
    assert(recall >= 0.03, s"recall=$recall (random baseline ≈ 0.01)")
    // the dedup-retrieval guarantee survives the HARSHEST pruning: an
    // exact copy lands in the query's own cell with the query's own
    // codes (max ADC score), so nprobe = 1 still surfaces it
    val planted = emb.where(col("vec_id") === 0)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"),
        col("label"))
    val foundPlanted = Similarity.ivfPqTopK(emb.where(col("vec_id") === 0),
      emb.unionByName(planted), "vec_id", "embedding", 5, cents,
      nprobe = 1, books = books)
      .collect().map(_.getLong(1)).toSet
    assert(foundPlanted.contains(900000L),
      s"planted copy not in IVFPQ top-5: $foundPlanted")
  }

  test("contamination flags probe-shingle carriers and nothing else") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over dogs"),      // carries probe shingle
      (2L, "entirely different words appear here now"), // clean
      (3L, "quick brown fox quick brown fox again"),    // carries it twice
      (4L, "the quick red fox jumps over dogs")         // 1-token mutation: clean
    ).toDF("doc_id", "text")
    val probes = Seq((100L, "quick brown fox sightings")).toDF("doc_id", "text")
    val got = Dedup.contamination(corpus, probes, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // only the 3-gram "quick brown fox" is shared; occurrence counts
    assert(got == Map(1L -> 1L, 3L -> 2L), got.toString)
  }

  test("BPE training adopts most-frequent pairs in order with greedy merging") {
    import spark.implicits._
    val J = TextStats.BpeJoiner
    val corpus = Seq(
      "new york city", "new york times", "new york",
      "san francisco bay", "san francisco").toDF("text")
    // round 1: (new, york) x3; round 2: (san, francisco) x2;
    // round 3: all remaining pairs are x1 — the (n desc, l, r) total
    // order adopts (new▁york, city) first
    val got = TextStats.bpeTrain(corpus, "text", merges = 3)
    assert(got == Seq(
      ("new", "york", 3L),
      ("san", "francisco", 2L),
      (s"new${J}york", "city", 1L)), got)
    // greedy left-to-right non-overlap: "a a a" counts (a,a) twice but
    // merges only the first occurrence, leaving (a▁a, a) for round 2
    val runs = Seq("a a a").toDF("text")
    assert(TextStats.bpeTrain(runs, "text", merges = 2) == Seq(
      ("a", "a", 2L), (s"a${J}a", "a", 1L)))
    // regex metacharacters in tokens must be treated literally
    val meta = Seq("c++ rocks", "c++ rocks").toDF("text")
    assert(TextStats.bpeTrain(meta, "text", merges = 1) ==
      Seq(("c++", "rocks", 2L)))
    // apply replays the adopted merges in order on unseen text
    val symbols = TextStats.bpeApply(
      Seq("new york city limits").toDF("text"), "text",
      got.map(m => (m._1, m._2)))
      .select("bpe_symbols").head().getSeq[String](0)
    assert(symbols == Seq(s"new${J}york${J}city", "limits"), symbols)
  }

  test("bpeApplyLarge replays merges bit-identically to the regexp chain; training crosses the checkpoint cut") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val words = Seq("aa", "bb", "cc", "dd", "ee", "c++", "x.y")
    val corpus = (1 to 60)
      .map(i => (i.toLong,
        (0 until 12).map(_ => words(rng.nextInt(words.size))).mkString(" ")))
      .toDF("doc_id", "text")
    // 20 merges with checkpointEvery=4 crosses the lineage cut 5 times
    // mid-training; identical adoption to an uncut run proves the cut
    // is invisible to the algorithm
    val cut = TextStats.bpeTrain(corpus, "text", merges = 20,
      checkpointEvery = 4)
    val uncut = TextStats.bpeTrain(corpus, "text", merges = 20,
      checkpointEvery = 1000)
    assert(cut == uncut, s"cut=$cut uncut=$uncut")
    val vocab = cut.map(m => (m._1, m._2))
    // control-char edges: Spark's trim strips only U+0020, so a leading
    // U+0001 or a trailing U+001F stays inside its token and the first
    // merge must not fire across it
    val (l0, r0) = vocab.head
    val input = corpus.union(Seq(
      (61L, s"\u0001$l0 $r0"), (62L, s"$l0 $r0\u001f"),
      (63L, s"\u0001$l0 $r0\t")).toDF("doc_id", "text"))
    val chain = BpeChain(input, "text", vocab)
      .select("doc_id", "bpe_symbols").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val large = TextStats.bpeApply(input, "text", vocab)
      .select("doc_id", "bpe_symbols").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(chain == large,
      chain.keys.find(k => chain(k) != large(k))
        .map(k => s"doc $k: chain=${chain(k)} large=${large(k)}").getOrElse(""))
  }

  test("BPE vocabulary trained on a deterministic sample matches the full-corpus vocabulary") {
    import spark.implicits._
    // heavy-tailed pair distribution with DISTINCT texts (the sample
    // is a content-hash membership test, so duplicate texts would all
    // land in one bucket together)
    val corpus = ((1 to 80).map(i => s"new york city t$i") ++
      (1 to 40).map(i => s"san francisco bay u$i") ++
      (1 to 10).map(i => s"n$i f$i")).toDF("text")
    val full = TextStats.bpeTrain(corpus, "text", merges = 3)
      .map(m => (m._1, m._2))
    val sampled = TextStats.bpeTrain(corpus, "text", merges = 3,
        sampleFraction = 0.5)
      .map(m => (m._1, m._2))
    // a uniform half keeps the Zipf head intact: same adopted pairs
    assert(sampled.toSet.intersect(full.toSet).size >= 2,
      s"full=$full sampled=$sampled")
    intercept[IllegalArgumentException] {
      TextStats.bpeTrain(corpus, "text", merges = 1, sampleFraction = 0.0)
    }
  }

  test("contamination excludeSelf reports only non-probe documents") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps"),   // probe
      (2L, "a quick brown fox appears"),   // shares shingle with probe
      (3L, "nothing in common here at all"))
      .toDF("doc_id", "text")
    val probes = corpus.where(col("doc_id") === 1L)
    val withSelf = Dedup.contamination(corpus, probes, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(withSelf.contains(1L) && withSelf.contains(2L), withSelf.toString)
    val without = Dedup.contamination(corpus, probes, "text", "doc_id",
        excludeSelf = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(without == Map(2L -> withSelf(2L)), without.toString)
  }

  test("connected components merge chains of pairs transitively") {
    import spark.implicits._
    // 1-2-3 chained, 4-5 separate, 6 absent from any pair
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L),
      comp.toString)
  }

  test("connected components of an empty pair list is empty (no NPE)") {
    import spark.implicits._
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(pairs).count() == 0)
  }

  test("connected components converge on a long chain (pointer jumping)") {
    import spark.implicits._
    // 0-1-2-...-40: diameter 40, must finish within maxIter=20 rounds
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs, maxIter = 20)
      .collect().map(r => r.getLong(1)).toSet
    assert(comp == Set(0L), comp.toString)
  }

  test("pointer jumping meets the logarithmic round bound") {
    import spark.implicits._
    // chain of 32 edges (diameter 32): label distance doubles per
    // round (seed covers distance 1, round k covers 2^k), so labels
    // settle in ceil(log2 32) = 5 rounds + 1 fixpoint-confirming
    // round — the O(log diameter) guarantee, asserted, not assumed
    val pairs = (0L until 32L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(pairs)
    assert(labels.agg(max(col("component"))).head().getLong(0) == 0L)
    assert(rounds <= 6, s"rounds=$rounds exceeds ceil(log2(32))+1")
  }

  test("reliable checkpoint mode produces identical components") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reliable = Dedup.connectedComponents(pairs, reliable = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable == local, s"reliable=$reliable local=$local")
    // the reliable run actually wrote checkpoint data
    val wrote = new java.io.File(dir).listFiles()
    assert(wrote != null && wrote.nonEmpty)
  }

  test("incremental near-dup probes the corpus without re-pairing it") {
    import spark.implicits._
    // corpus holds an internal duplicate pair (777001, 777002) that an
    // increment run must NOT re-emit; the increment near-dups doc 0
    val boilerplate = "identical corpus internal duplicate text body here"
    val corpus = docs.select("doc_id", "text")
      .union(Seq((777001L, boilerplate), (777002L, boilerplate)).toDF("doc_id", "text"))
    val base = docs.where(col("doc_id") === 0).select("text").head().getString(0)
    val inc = Seq((900001L, base + " zzz zzz zzz")).toDF("doc_id", "text")
    val pairs = Dedup.nearDupIncremental(inc, corpus, "text", "doc_id",
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((900001L, 0L)), s"pairs=$pairs")
    assert(!pairs.exists(p => p._1 >= 777000L && p._1 < 778000L),
      s"corpus-internal pair re-emitted: $pairs")
  }

  test("reliable near-dup pairs write to the checkpoint dir and match local") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ndckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val base = docs.where(col("doc_id") === 0).select("text").head().getString(0)
    val corpus = docs.select("doc_id", "text")
      .union(Seq((910001L, base + " qqq qqq")).toDF("doc_id", "text"))
    def run(rel: Boolean) =
      Dedup.nearDupPairs(corpus, "text", "doc_id", threshold = 0.5,
          reliable = rel)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = run(rel = false)
    val reliable = run(rel = true)
    assert(reliable == local && reliable.contains((0L, 910001L)),
      s"reliable=$reliable local=$local")
    // the reliable run actually wrote pairs to checkpoint storage
    val wrote = new java.io.File(dir).listFiles()
    assert(wrote != null && wrote.nonEmpty)
  }

  test("decompression-bomb payloads are never pixel-decoded") {
    // a REAL bomb: a valid tiny PNG whose IHDR is patched to declare
    // 30000x30000 (900 MPix ≈ 3.6 GB of INT_RGB). Full ImageIO.read
    // would allocate that up front and die with OutOfMemoryError —
    // the header-budget guard must report the true header dims and
    // take the byte-derived fallback instead.
    def tinyPng(): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val bomb = tinyPng()
    // IHDR layout: length@8, "IHDR"@12, width@16, height@20, then 5
    // more data bytes, then CRC32 over type+data @29
    val bb = java.nio.ByteBuffer.wrap(bomb)
    bb.putInt(16, 30000).putInt(20, 30000)
    val crc = new java.util.zip.CRC32()
    crc.update(bomb, 12, 4 + 13)
    bb.putInt(29, crc.getValue.toInt)
    val (w, h, feats) = Multimodal.Codec.decode(bomb, 4)
    assert((w, h) == ((30000, 30000)), s"($w,$h)")
    // fallback features are byte-derived, deterministic, finite
    assert(feats.length == 4 && feats.forall(f => !f.isNaN))
    // resize must also refuse: falls back to byte truncation
    assert(Multimodal.Codec.resize(bomb, 8, 8).length == 8)
    // a small in-budget PNG still pixel-decodes for real
    val (sw, sh, _) = Multimodal.Codec.decode(tinyPng(), 4)
    assert((sw, sh) == ((2, 2)))
  }

  test("dHash: PNG round trip equals the pixel formula; block upscale is hash-invariant; non-images hash to None") {
    val F = Multimodal.ImageFixture
    (0L to 5L).foreach { seed =>
      val lums = F.pixels(seed, perturbed = false)
      // the REAL javax.imageio decode path reproduces the formula hash
      assert(Multimodal.Codec.dHash64(F.png(lums)) ==
        Some(F.expectedDHash(lums)), s"seed=$seed")
      // integer block replication (each pixel -> 4x4) averages back to
      // the exact original grid: the dHash must be IDENTICAL
      val big = new java.awt.image.BufferedImage(
        F.GridW * 4, F.GridH * 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until F.GridH * 4; x <- 0 until F.GridW * 4) {
        val v = lums(y / 4)(x / 4)
        big.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(big, "png", bos)
      assert(Multimodal.Codec.dHash64(bos.toByteArray) ==
        Some(F.expectedDHash(lums)), s"upscaled seed=$seed")
      ()
    }
    // the planted perturbation moves at most bits {0, 27, 28}
    (0L to 9L).foreach { seed =>
      val a = F.expectedDHash(F.pixels(seed, perturbed = false))
      val b = F.expectedDHash(F.pixels(seed, perturbed = true))
      val moved = a ^ b
      assert((moved & ~((1L << 0) | (1L << 27) | (1L << 28))) == 0L,
        s"seed=$seed moved=${java.lang.Long.toBinaryString(moved)}")
      ()
    }
    // non-image payloads and bombs hash to None, never a fake hash
    assert(Multimodal.Codec.dHash64("not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.Codec.dHash64(
      Multimodal.PngHeader.prefix(30000, 30000)).isEmpty)
  }

  test("audio energy hash: WAV round trip equals the sample formula; non-audio and short clips hash to None") {
    val F = Multimodal.AudioFixture
    val H = Multimodal.AudioHash
    (0L to 5L).foreach { seed =>
      val pcm = F.samples(seed, perturbed = false)
      // the REAL javax.sound decode path reproduces the formula hash
      assert(H.energyHash64(F.wav(pcm)) == Some(F.expectedHash(pcm)),
        s"seed=$seed")
      ()
    }
    // the planted perturbation (window 10) moves at most bits {9, 10}
    (0L to 9L).foreach { seed =>
      val a = F.expectedHash(F.samples(seed, perturbed = false))
      val b = F.expectedHash(F.samples(seed, perturbed = true))
      val moved = a ^ b
      assert((moved & ~((1L << 9) | (1L << 10))) == 0L,
        s"seed=$seed moved=${java.lang.Long.toBinaryString(moved)}")
      ()
    }
    // non-audio payloads hash to None, never a fake hash
    assert(H.energyHash64("not audio".getBytes("UTF-8")).isEmpty)
    // a clip with fewer samples than windows cannot be fingerprinted
    assert(H.energyHash64(F.wav(Array.fill[Short](40)(100))).isEmpty)
  }

  test("audio near-dups end to end: perturbed WAV caught, distant and non-audio payloads kept apart") {
    import spark.implicits._
    val F = Multimodal.AudioFixture
    val base = Seq(
      (1L, 7L, false), (2L, 7L, true),  // near-dup pair (same seed, one perturbed)
      (3L, 8L, false), (4L, 9L, false)) // distant organics
      .toDF("id", "seed", "pert")
    val wavs = F.withWavPayloads(base, "seed", "pert").select("id", "payload")
    val text = Seq((5L, "definitely not audio".getBytes("UTF-8")))
      .toDF("id", "payload")
    val pairs = Dedup.audioNearDups(wavs.unionAll(text), "id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)), pairs.mkString(","))
  }

  test("hash near-dups: pigeonhole recall, hamming filter, loud bounds, null exclusion") {
    import spark.implicits._
    // hamming(1,2)=2 bits apart in band 0; hamming(1,3)=1 (band 0);
    // 4 and 5 differ from everything by ~32 bits; 6 is null (undecodable)
    val rows = Seq(
      (1L, java.lang.Long.valueOf(0x00000000000000FFL)),
      (2L, java.lang.Long.valueOf(0x00000000000000FCL)),
      (3L, java.lang.Long.valueOf(0x00000000000000FEL)),
      (4L, java.lang.Long.valueOf(0x5555555555555555L)),
      (5L, java.lang.Long.valueOf(0xAAAAAAAAAAAAAAAAL)),
      (6L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "h")
    val pairs = Dedup.hashNearDups(rows, "id", "h", maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs == Map((1L, 2L) -> 2, (1L, 3L) -> 1, (2L, 3L) -> 1), pairs)
    // a hash pair crossing the sign bit still verifies exactly
    val signPair = Dedup.hashNearDups(Seq(
        (1L, java.lang.Long.valueOf(Long.MinValue)),
        (2L, java.lang.Long.valueOf(Long.MinValue | 1L)))
        .toDF("id", "h"), "id", "h", maxHamming = 3, bands = 4)
      .collect()
    assert(signPair.length == 1 && signPair(0).getInt(2) == 1)
    // maxHamming past the pigeonhole guarantee is rejected, not silent
    intercept[IllegalArgumentException] {
      Dedup.hashNearDups(rows, "id", "h", maxHamming = 4, bands = 4)
    }
    intercept[IllegalArgumentException] {
      Dedup.hashNearDups(rows, "id", "h", maxHamming = 3, bands = 5)
    }
    ()
  }

  test("image near-dups end to end: perturbed PNG caught, distant and non-image payloads kept apart") {
    import spark.implicits._
    val F = Multimodal.ImageFixture
    val base = Seq(
      (1L, 7L, false), (2L, 7L, true),  // near-dup pair (same seed, one perturbed)
      (3L, 8L, false), (4L, 9L, false)) // distant organics
      .toDF("id", "seed", "pert")
    val imgs = F.withPayloads(base, "seed", "pert").select("id", "payload")
    val text = Seq((5L, "not an image at all".getBytes("UTF-8")))
      .toDF("id", "payload")
    val pairs = Dedup.imageNearDups(imgs.unionAll(text), "id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)), pairs.mkString(","))
  }

  test("unigram train: planted boilerplate becomes a piece, coverage and determinism hold") {
    import spark.implicits._
    val T = TextStats
    // "the" dominates the corpus; "qx" appears but rarely
    val corpus = (1L to 40L).map(i => (i, "the the the qx zz"))
      .toDF("doc_id", "text")
    val vocab = T.unigramTrain(corpus, "text",
      vocabSize = 12, iterations = 3, maxPieceLen = 4)
    val pieces = vocab.map(_._1).toSet
    // the dominant marker-prefixed word survives pruning as one piece
    assert(pieces.contains(T.UnigramMarker + "the"), pieces)
    // every single code point kept (coverage), target size respected
    val singles = corpus.collect().flatMap(_.getString(1).split("\\s+"))
      .flatMap(w => (T.UnigramMarker + w).toCharArray).map(_.toString).toSet
    assert(singles.subsetOf(pieces))
    assert(vocab.size <= math.max(12, singles.size))
    // training is bit-deterministic
    val again = T.unigramTrain(corpus, "text",
      vocabSize = 12, iterations = 3, maxPieceLen = 4)
    assert(vocab == again)
    // the trained table actually serves: dominant word = 1 symbol,
    // decode identity on text with characters unseen in training
    val served = T.unigramApply(
      Seq((1L, "the qx zz"), (2L, "völlig unseen")).toDF("doc_id", "text"),
      "text", vocab)
      .select(col("doc_id"), col("unigram_symbols"),
        T.unigramDecode(col("unigram_symbols")).as("d"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[String](1), r.getString(2))).toMap
    assert(served(1L)._1.head == T.UnigramMarker + "the")
    assert(served(1L)._2 == "the qx zz")
    assert(served(2L)._2 == "völlig unseen")
    // bad parameters fail loudly
    intercept[IllegalArgumentException] {
      T.unigramTrain(corpus, "text", vocabSize = 0)
    }
    ()
  }

  test("unigram soft-EM: expectations train the planted piece, Kudo pruning, hard parity") {
    import spark.implicits._
    val T = TextStats
    val corpus = (1L to 40L).map(i => (i, "the the the qx zz"))
      .toDF("doc_id", "text")
    val soft = T.unigramTrain(corpus, "text",
      vocabSize = 12, iterations = 3, maxPieceLen = 4, mode = "soft")
    val hard = T.unigramTrain(corpus, "text",
      vocabSize = 12, iterations = 3, maxPieceLen = 4)
    // parity on the planted corpus: both EM variants learn the
    // dominant word (its Kudo likelihood drop dwarfs every
    // competitor's), keep every single (coverage), and respect the
    // size target. Exact inventories legitimately differ: soft
    // expectations give posterior mass to off-Viterbi sub-pieces
    // ("▁th", "the") that hard counts at zero, so soft fills the
    // size budget where hard stops early.
    val softP = soft.map(_._1).toSet
    val hardP = hard.map(_._1).toSet
    assert(softP.contains(T.UnigramMarker + "the") &&
      hardP.contains(T.UnigramMarker + "the"))
    assert(hardP.filter(p => p.codePointCount(0, p.length) == 1)
      .subsetOf(softP), "soft mode dropped a coverage single")
    assert(soft.size <= math.max(12,
      softP.count(p => p.codePointCount(0, p.length) == 1)))
    // soft mode is deterministic under replay (micro-rounded
    // expectations aggregate as exact longs)
    val again = T.unigramTrain(corpus, "text",
      vocabSize = 12, iterations = 3, maxPieceLen = 4, mode = "soft")
    assert(soft == again)
    // decode identity survives soft training
    val served = T.unigramApply(
      Seq((1L, "the qx völlig")).toDF("doc_id", "text"), "text", soft)
      .select(T.unigramDecode(col("unigram_symbols")).as("d"))
      .head().getString(0)
    assert(served == "the qx völlig")
    // the forward-backward DP itself: expectations are posterior mass
    // (sum over ALL segmentations), so a piece off the Viterbi path
    // still gets weight — plant a two-way-ambiguous word
    val table = new java.util.HashMap[String, java.lang.Long]()
    val m = T.UnigramMarker
    Seq(m -> -1.0, "a" -> -1.0, "b" -> -1.0,
      s"${m}a" -> -1.5, "ab" -> -1.5).foreach { case (p, lp) =>
      table.put(p, math.round(lp * 1e6)); ()
    }
    val (exp, z) = T.forwardBackwardPieces("ab", table, 2, -20000000L)
    val em = exp.toMap
    // paths: [m,a,b] (-3.0), [ma,b] (-2.5), [m,ab] (-2.5); Z = lse
    val want = math.log(math.exp(-3.0) + 2 * math.exp(-2.5))
    assert(math.abs(z - want) < 1e-9, s"z=$z want=$want")
    val pBest = math.exp(-2.5 - z)
    assert(math.abs(em(s"${m}a") - pBest) < 1e-9)
    assert(math.abs(em("ab") - pBest) < 1e-9)
    assert(math.abs(em("b") - (pBest + math.exp(-3.0 - z))) < 1e-9)
    intercept[IllegalArgumentException] {
      T.unigramTrain(corpus, "text", vocabSize = 12, mode = "fuzzy")
    }
    ()
  }

  test("video frame sampling: container round trip, stride seek, garbage exclusion") {
    import spark.implicits._
    val V = Multimodal.VideoFixture
    val vids = Seq((1L, 7L, false)).toDF("id", "seed", "pert")
    val payloads = V.withPayloads(vids, "seed", "pert").select("id", "payload")
    val frames = Multimodal.videoFrameDHashes(payloads, "payload", stride = 2)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    // 6 frames at stride 2 → exactly frames 0, 2, 4 decoded
    assert(frames.keySet == Set(0, 2, 4), frames.keySet)
    // each sampled frame's hash equals the pixel formula's prediction
    (0 to 4 by 2).foreach { f =>
      val want = Multimodal.ImageFixture.expectedDHash(
        Multimodal.ImageFixture.pixels(V.frameSeed(7L, f, false), false))
      assert(frames(f) == want, s"frame $f")
    }
    // non-video and truncated payloads emit no rows
    val junk = Seq(
      (2L, "not a video".getBytes("UTF-8")),
      (3L, V.video(7L, false).take(10)))
      .toDF("id", "payload")
    assert(Multimodal.videoFrameDHashes(junk, "payload").count() == 0)
  }

  test("video container: arbitrary frame sizes round-trip; stride/maxFrames budgets hold") {
    val V = Multimodal.VideoContainer
    val rnd = new scala.util.Random(7)
    // frames of wildly different sizes, incl. empty
    val frames = Seq(0, 1, 5, 1024, 3, 77).map { len =>
      val a = new Array[Byte](len); rnd.nextBytes(a); a
    }
    val packed = V.pack(frames)
    // stride 1 returns every frame byte-exact
    val all = V.sampledFrames(packed, stride = 1, maxFrames = 64)
    assert(all.map(_._1) == (0 until 6))
    all.foreach { case (i, bytes) =>
      assert(bytes.sameElements(frames(i)), s"frame $i bytes differ")
    }
    // stride 4 decodes only frames 0 and 4 — seek, not decode
    assert(V.sampledFrames(packed, 4, 64).map(_._1) == Seq(0, 4))
    // a frame count over budget is excluded wholesale (bomb guard)
    assert(V.sampledFrames(packed, 1, maxFrames = 5).isEmpty)
    // every truncation point yields Nil, never a partial parse
    (0 until packed.length by 7).foreach { cut =>
      assert(V.sampledFrames(packed.take(cut), 1, 64).isEmpty ||
        cut >= packed.length, s"truncation at $cut parsed")
    }
    // truncation landing inside a SKIPPED frame must also yield Nil:
    // ByteArrayInputStream.skip returns 0 at EOF instead of raising,
    // so the stride>1 path once spun forever here (r16 regression)
    (0 until packed.length by 3).foreach { cut =>
      Seq(2, 3, 4).foreach { stride =>
        assert(V.sampledFrames(packed.take(cut), stride, 64).isEmpty,
          s"stride-$stride truncation at $cut parsed")
      }
    }
    // a corrupted length field (negative) is rejected, not allocated
    val evil = packed.clone()
    evil(8) = 0xFF.toByte // first frame length -> huge/negative
    assert(V.sampledFrames(evil, 1, 64).isEmpty)
  }

  test("video near-dups: temporal vote catches a re-encode with one replaced scene") {
    import spark.implicits._
    val V = Multimodal.VideoFixture
    val base = Seq(
      (1L, 7L, false), (2L, 7L, true),  // re-encode: frames 0,2 bumped, frame 4 replaced
      (3L, 8L, false), (4L, 9L, false)) // unrelated videos
      .toDF("id", "seed", "pert")
    val vids = V.withPayloads(base, "seed", "pert").select("id", "payload")
    val pairs = Dedup.videoNearDups(vids, "id", "payload",
        stride = 2, minMatches = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 2 of 3 sampled frames survive the scene swap → caught at
    // matched_frames = 2; a minMatches = 3 rule would miss it
    assert(pairs.toSeq == Seq((1L, 2L, 2L)), pairs.mkString(","))
    assert(Dedup.videoNearDups(vids, "id", "payload",
      stride = 2, minMatches = 3).count() == 0)
  }

  test("two-sided hash matches: exact-once emission, null exclusion, loud bounds") {
    import spark.implicits._
    def jl(x: Long) = java.lang.Long.valueOf(x)
    val ref = Seq(
      (10L, jl(0x00000000000000FFL)),
      (11L, jl(0x5555555555555555L)),
      (12L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "h")
    val arr = Seq(
      (1L, jl(0x00000000000000FFL)), // identical: ALL 4 bands agree
      (2L, jl(0x00000000000000FCL)), // hamming 2 vs ref 10
      (3L, jl(0xAAAAAAAAAAAAAAAAL)), // ~32 bits from everything
      (4L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "h")
    val m = Dedup.hashMatches(arr, ref, "id", "h")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // the identical pair is emitted exactly ONCE (first-agreeing-band
    // rule) even though all four band probes collide
    assert(m.sorted.toSeq == Seq((1L, 10L, 0), (2L, 10L, 2)), m.mkString(","))
    intercept[IllegalArgumentException] {
      Dedup.hashMatches(arr, ref, "id", "h", maxHamming = 4, bands = 4)
    }
    ()
  }

  test("stored hash index: serve == from-scratch, CDC update, layout marker enforced") {
    import spark.implicits._
    def jl(x: Long) = java.lang.Long.valueOf(x)
    val dir = java.nio.file.Files.createTempDirectory("graft_hidx")
      .toString + "/idx"
    val ref = Seq((10L, 0x00000000000000FFL), (11L, 0x5555555555555555L),
      (12L, Long.MinValue), (13L, -1L)).toDF("id", "h")
    Dedup.writeHashIndex(ref, "id", "h", dir, bands = 4, nPrefix = 8)
    // the pfx repartition means every prefix dir holds exactly ONE
    // part file — the build writes dirs, not tasks×dirs, files
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("pfx="))
      .foreach { d =>
        val parts = d.listFiles().count(_.getName.endsWith(".parquet"))
        assert(parts == 1, s"${d.getName}: $parts part files, want 1")
      }
    val arr = Seq((1L, 0x00000000000000FEL), (2L, Long.MinValue | 2L),
      (3L, 0x0F0F0F0F0F0F0F0FL)).toDF("id", "h")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val served = key(Dedup.hashMatchesIndexed(dir, arr, "id", "h"))
    assert(served == key(Dedup.hashMatches(arr, ref, "id", "h")))
    assert(served.contains((1L, 10L, 1)) && served.contains((2L, 12L, 1)))
    // the pigeonhole bound is checked against the STORED band count
    intercept[IllegalArgumentException] {
      Dedup.hashMatchesIndexed(dir, arr, "id", "h", maxHamming = 4)
    }
    // CDC: delete 11, move 10 one more bit, insert 14 near arrival 3
    val changes = Seq(
      (11L, null.asInstanceOf[java.lang.Long], 1L, "d"),
      (10L, jl(0x00000000000000FDL), 1L, "u"),
      (14L, jl(0x0F0F0F0F0F0F0F0EL), 1L, "u"))
      .toDF("id", "h", "seq", "op")
    val touched = Dedup.updateHashIndex(dir, changes, "id", "h")
    assert(touched.nonEmpty)
    val post = graft.etl.Merge.applyCdc(ref, changes, "id")
    val served2 = key(Dedup.hashMatchesIndexed(dir, arr, "id", "h"))
    assert(served2 == key(Dedup.hashMatches(arr, post, "id", "h")))
    assert(served2.contains((3L, 14L, 1)),
      s"inserted hash not served: $served2")
    // the pigeonhole boundary is tight: hamming 4 with 4 bands is
    // findable only when a band happens to agree — hamming exactly
    // bands-1 is ALWAYS found (here: 3 bits spread over 3 bands)
    val spread = Seq((20L, 0L)).toDF("id", "h")
    val probe3 = Seq((21L, (1L << 0) | (1L << 16) | (1L << 32)))
      .toDF("id", "h")
    val found = Dedup.hashMatches(probe3, spread, "id", "h",
      maxHamming = 3, bands = 4).collect()
    assert(found.length == 1 && found(0).getInt(2) == 3)
    // a layout without its marker refuses to serve (no silent
    // banding guess)
    val marker = new java.io.File(dir, "_graft_hash_layout")
    assert(marker.delete())
    intercept[IllegalArgumentException] {
      Dedup.hashMatchesIndexed(dir, arr, "id", "h")
    }
    ()
  }

  test("pdf extraction: fixture round trip, escapes, hex, TJ gaps, recovery, rejection") {
    import spark.implicits._
    val P = Pdf
    // two-page fixture round-trips arbitrary text incl. escapes + unicode
    val tricky = "paren (x) back\\slash völlig 日本語 end"
    val doc = P.PdfFixture.pdf(Seq(Seq(tricky, "line two"), Seq("p2")))
    val got = P.extractText(doc).get.replaceAll("\\s+", " ").trim
    assert(got == s"$tricky line two p2", got)
    // uncompressed streams decode on the same path
    val raw = P.PdfFixture.pdf(Seq(Seq("no deflate")), compress = false)
    assert(P.extractText(raw).get.trim == "no deflate")
    // TJ kerning: ≤ -180 reads as a word gap, small tweaks do not;
    // hex strings decode; escapes incl. octal
    val content = "BT /F1 12 Tf 72 720 Td " +
      "[(Tom) -250 (Jerry) -20 (Co)] TJ " +
      "<546F6D32> Tj (a\\(b\\)c\\\\d\\055e) Tj ET"
    val fancy = P.PdfFixture.pdf(Seq(Seq("ignored")),
      rawContent = Some(content))
    val fancyText = P.extractText(fancy).get.replaceAll("\\s+", " ").trim
    assert(fancyText == "Tom JerryCoTom2a(b)c\\d-e", fancyText)
    // the word "stream" in page TEXT must not confuse the scanner
    val evil = P.PdfFixture.pdf(Seq(Seq("a stream of text endstream ok")),
      compress = false)
    assert(P.extractText(evil).get.trim == "a stream of text endstream ok")
    // recovery: truncating the xref/trailer loses nothing — the
    // content streams are intact and still extract
    val cut = doc.take(doc.length - 120)
    assert(P.extractText(cut).get.contains("line two"))
    // non-PDF payloads are rejected, not parsed
    assert(P.extractText("plain text".getBytes("UTF-8")).isEmpty)
    assert(P.extractText(null).isEmpty)
    // frame function: ok flag + null text for junk
    val df = Seq((1L, doc), (2L, "junk".getBytes("UTF-8")))
      .toDF("id", "payload")
    val out = P.withPdfText(df, "payload")
      .select("id", "text_pdf", "text_pdf_ok")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)).isDefined, r.getBoolean(2)))).toMap
    assert(out(1L) == ((true, true)) && out(2L) == ((false, false)))
    ()
  }

  test("pdf CID extraction: ObjStm unpacking + ToUnicode CMap mapping") {
    val P = Pdf
    val text = "ABBA sings ünïcode 日本 and 😀 survives"
    val expected = P.PdfFixture.cidExpected(text)
    assert(expected == "αffffα sings ünïcode 日本 and 😀 survives")
    // packed form: the font/page dicts live ONLY inside the
    // compressed object stream — the raw bytes never show the
    // association, so a correct answer proves ObjStm unpacking
    val packed = P.PdfFixture.cidPdf(text)
    assert(!new String(packed, "ISO-8859-1").contains("/ToUnicode"),
      "fixture leak: /ToUnicode visible without unpacking the ObjStm")
    assert(P.extractText(packed).get.trim == expected)
    // flat form (dicts top-level) maps identically
    val flat = P.PdfFixture.cidPdf(text, inObjStm = false)
    assert(P.extractText(flat).get.trim == expected)
    // plain fixtures are untouched by the CID machinery (no
    // ToUnicode → byte path): exact same output as before
    val plain = P.PdfFixture.pdf(Seq(Seq("plain Aa Bb page")))
    assert(P.extractText(plain).get.trim == "plain Aa Bb page")
    ()
  }

  test("pdf CMap parsing: bfchar overrides, offset + array bfranges, identity fallback") {
    val cm = Pdf.parseCMap(
      ("""begincmap
        |2 beginbfchar
        |<0041> <2603>
        |<0042> <00660066>
        |endbfchar
        |2 beginbfrange
        |<0061> <007A> <0141>
        |<0030> <0032> [ <0058> <0059005A> <005A> ]
        |endbfrange
        |endcmap""".stripMargin).getBytes("ISO-8859-1"))
    assert(cm.map(0x41) == "☃")         // bfchar
    assert(cm.map(0x42) == "ff")             // multi-unit bfchar
    assert(cm.map(0x61) == "Ł")         // range start
    assert(cm.map(0x7A) == "Ś")         // range offset on last unit
    assert(cm.map(0x30) == "X")              // array form
    assert(cm.map(0x31) == "YZ")             // multi-unit array entry
    assert(cm.map(0x4242) == 0x4242.toChar.toString) // unmapped → identity
    // odd trailing byte maps as a 1-byte code instead of dropping
    assert(cm.mapBytes(Array[Byte](0x00, 0x41, 0x42)) == "☃ff")
    ()
  }

  test("decode seam: a custom FrameHasher feeds the dedup layer unchanged") {
    import spark.implicits._
    // a stand-in for a production codec (MP4 via JNI, GPU decode, …):
    // payloads are raw "frame streams" of 8-byte little-endian hashes,
    // one per frame — no container, no PNG, nothing GVID-shaped
    object RawLongHasher extends Multimodal.FrameHasher {
      override def frameHashes(payload: Array[Byte],
                               stride: Int): Seq[(Int, Long)] = {
        if (payload == null || payload.length % 8 != 0) return Nil
        val bb = java.nio.ByteBuffer.wrap(payload)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until payload.length / 8)
          .filter(_ % stride == 0).map(f => (f, bb.getLong(f * 8)))
      }
    }
    def pack(hs: Long*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(hs.length * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      hs.foreach(bb.putLong); bb.array()
    }
    val corpus = Seq(
      (1L, pack(0x00000000000000FFL, 0x1234567812345678L)),
      (2L, pack(0x00000000000000FDL, 0x1234567812345679L)), // ham 1+1
      (3L, pack(-1L, 0x0F0F0F0F0F0F0F0FL)),                 // unrelated
      (4L, Array[Byte](1, 2, 3)))                           // undecodable
      .toDF("id", "payload")
    val frames = Multimodal.frameHashesWith(corpus, "payload",
      RawLongHasher, stride = 1)
    assert(frames.where($"id" === 4L).count() == 0,
      "undecodable payloads must contribute no rows")
    // the very same vote the GVID path uses, fed from the custom seam
    val pairs = Dedup.videoHashMatches(
        frames.where($"id" === 2L),
        frames.where($"id" =!= 2L),
        "id", minMatches = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((2L, 1L, 2L)), pairs.mkString(","))
    // and the GVID default is itself just an instance of the seam
    val V = Multimodal.VideoFixture
    val gvid = Seq((7L, V.video(7L, perturbed = false))).toDF("id", "payload")
    val viaSeam = Multimodal.frameHashesWith(gvid, "payload",
      Multimodal.GvidDHash(), stride = 2).collect()
    val viaDefault = Multimodal.videoFrameDHashes(gvid, "payload").collect()
    assert(viaSeam.map(_.toSeq).toSeq == viaDefault.map(_.toSeq).toSeq)
    ()
  }

  test("video offset vote: catches frame drift the aligned vote misses; stride guard raises") {
    import spark.implicits._
    val V = Multimodal.VideoFixture
    val corpus = Seq(
      (1L, V.video(7L, perturbed = false)),
      (2L, V.videoDrifted(7L)), // intro-bumper insert: all frames shift
      (3L, V.video(8L, perturbed = false)))
      .toDF("id", "payload")
    val aligned = Dedup.videoNearDups(corpus, "id", "payload",
      stride = 1, minMatches = 2)
    assert(aligned.count() == 0, "aligned vote should miss the drifted pair")
    val offset = Dedup.videoNearDups(corpus, "id", "payload",
        stride = 1, minMatches = 2, align = "offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(offset.toSeq == Seq((1L, 2L, V.FrameCount - 1L)),
      s"offset vote: ${offset.mkString(",")}")
    // two-sided serving path agrees
    val refFrames = Multimodal.videoFrameDHashes(
      corpus.where($"id" === 1L || $"id" === 3L), "payload", stride = 1)
    val arrFrames = Multimodal.videoFrameDHashes(
      corpus.where($"id" === 2L).select(lit(99L).as("id"), $"payload"),
      "payload", stride = 1)
    val m = Dedup.videoHashMatches(arrFrames, refFrames, "id",
        minMatches = 2, align = "offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(m.toSeq == Seq((99L, 1L, V.FrameCount - 1L)), m.mkString(","))
    // drift tolerance requires dense frames: offset + stride>1 raises
    intercept[IllegalArgumentException] {
      Dedup.videoNearDups(corpus, "id", "payload", stride = 2,
        align = "offset")
    }
    ()
  }

  test("video time vote: keyframe timestamps catch drift with no stride constraint; non-key frames never hash") {
    import spark.implicits._
    val V = Multimodal.VideoFixture
    val corpus = Seq(
      (1L, V.timedVideo(7L)),
      (2L, V.timedVideoDrifted(7L)), // +500ms shift, intro keyframe
      (3L, V.timedVideo(8L)))
      .toDF("id", "payload")
    // only KEYFRAMES decode: 3 per original (f 0/2/4), intro + 3 for
    // the drifted — the non-key frames are valid PNGs on purpose, so
    // extra rows here would mean they were wrongly decoded
    val kh = Multimodal.videoKeyframeDHashes(corpus, "payload")
      .localCheckpoint()
    val counts = kh.groupBy("id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 3L, 2L -> 4L, 3L -> 3L), counts.toString)
    // the time vote finds the drifted pair — at the DEFAULT stride
    // (the whole point: keyframe sampling is content marks)
    val got = Dedup.videoNearDups(corpus, "id", "payload", align = "time")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 3L)), got.mkString(","))
    // timestamp EQUALITY over the same hashes finds nothing
    val eq = Dedup.videoHashMatches(
      kh.where($"id" === 2L), kh.where($"id" =!= 2L),
      "id", "dhash", "ts_ms", 3, 4, 2, "aligned")
    assert(eq.count() == 0, "every surviving timestamp moved +500ms")
    // GVID payloads are not GVKF: the keyframe hasher rejects them
    assert(Multimodal.videoKeyframeDHashes(
      Seq((9L, V.video(7L, perturbed = false))).toDF("id", "payload"),
      "payload").count() == 0)
    // truncation inside a skipped NON-key frame emits no rows (the
    // skip-returns-0 guard): the last timed frame (f=5) is non-key
    val full = V.timedVideo(7L)
    assert(Multimodal.VideoContainer.keyFrames(
      full.take(full.length - 5), 64).isEmpty)
    ()
  }

  test("pdf xref stream: the 1.5 lookup path resolves type-2 members == recovery scan") {
    val P = Pdf
    val text = "ABBA via xref stream"
    val p = P.PdfFixture.cidPdf(text, xrefStream = true)
    val raw = new String(p, "ISO-8859-1")
    assert(!raw.contains("trailer"),
      "xref-stream fixture must not carry a classic trailer to fall back on")
    val entries = P.xrefStreamEntries(p)
    assert(entries.size == 9, entries.toString)
    assert(entries(0).tpe == 0)
    assert((1 to 4).forall(i => entries(i) == P.XrefEntry(2, 7, i - 1)),
      "packed dicts must be type-2 entries at their ObjStm member index")
    assert(Seq(5, 6, 7, 8).forall(i => entries(i).tpe == 1))
    val via = P.xrefResolvedMembers(p)
    assert(via.keySet == Set(1, 2, 3, 4), via.keySet.toString)
    assert(via == P.recoveryMembers(p),
      "xref-stream lookup and recovery scan disagree on the members")
    assert(via(3).contains("/ToUnicode 6 0 R"))
    // extraction itself is unchanged by the xref form
    assert(P.extractText(p).get.trim == P.PdfFixture.cidExpected(text))
    // classic-table files have no xref stream to find
    assert(P.xrefStreamEntries(P.PdfFixture.cidPdf(text)).isEmpty)
    assert(P.xrefStreamEntries(P.PdfFixture.pdf(Seq(Seq("x")))).isEmpty)
    // xrefStream without an ObjStm is refused loudly
    intercept[IllegalArgumentException] {
      P.PdfFixture.cidPdf(text, inObjStm = false, xrefStream = true)
    }
    ()
  }

  test("pdf xref breadth: /Extends chains walk; freed stale ObjStms never resolve") {
    val P = Pdf
    val text = "ABBA via chained object streams"
    val p = P.PdfFixture.cidPdf(text, xrefStream = true,
      extendsChain = true)
    val entries = P.xrefStreamEntries(p)
    assert(entries.size == 11, entries.toString)
    // the stale superseded ObjStm is in the BYTES (its header is
    // plain text; its member dict is inside the Flate body) but FREE
    // in the xref
    assert(entries(10).tpe == 0)
    assert(new String(p, "ISO-8859-1").contains("10 0 obj"),
      "fixture lost its stale ObjStm — the free-entry gate is vacuous")
    val via = P.xrefResolvedMembers(p)
    assert(via.keySet == Set(1, 2, 3, 4), via.keySet.toString)
    // entries 1-2 point at the EXTENSION stream; the dicts live in
    // the base — only the /Extends walk can have resolved them
    assert(entries(1) == P.XrefEntry(2, 7, 0) && via(1).contains("/Catalog"))
    assert(entries(2) == P.XrefEntry(2, 7, 1) && via(2).contains("/Pages"))
    // free-entry discipline: the LIVE page dict wins, never the
    // freed stream's superseded copy
    assert(via(4).contains("/Contents 5 0 R") &&
      !via(4).contains("/Contents 99 0 R"))
    // extraction is unchanged by the chain shape
    assert(P.extractText(p).get.trim == P.PdfFixture.cidExpected(text))
    intercept[IllegalArgumentException] {
      P.PdfFixture.cidPdf(text, extendsChain = true) // needs xrefStream
    }
    ()
  }

  test("pdf binary-stream typing is structured: /ImageB in a ProcSet stays text") {
    def doc(dict: String, body: String) =
      (s"%PDF-1.4\n1 0 obj\n<< /Length ${body.length}$dict >>\nstream\n" +
        body + "\nendstream\nendobj\n").getBytes("ISO-8859-1")
    // a content dict that merely MENTIONS /ImageB (ProcSet array)
    // must still reach the text interpreter — the old substring rule
    // classified it binary and dropped the page text
    val got = Pdf.extractText(
      doc(" /ProcSet [/PDF /ImageB]", "BT (visible words) Tj ET"))
    assert(got.exists(_.contains("visible words")), got.toString)
    // a REAL binary type is still excluded, spacing-insensitively
    val xref = Pdf.extractText(
      doc(" /Type/XRef", "BT (phantom) Tj ET"))
    assert(xref.exists(!_.contains("phantom")), xref.toString)
    val img = Pdf.extractText(
      doc(" /Subtype /Image /Width 4", "BT (phantom) Tj ET"))
    assert(img.exists(!_.contains("phantom")), img.toString)
    ()
  }

  test("pdf filter breadth: array /Filter form, ASCIIHexDecode, unknown filters skipped") {
    val P = Pdf
    val arr = P.PdfFixture.pdf(Seq(Seq("array form line")),
      filterStyle = "array")
    assert(new String(arr, "ISO-8859-1").contains("/Filter [/FlateDecode]"))
    assert(P.extractText(arr).get.contains("array form line"))
    val hexp = P.PdfFixture.pdf(Seq(Seq("hex body line")),
      filterStyle = "asciihex")
    assert(new String(hexp, "ISO-8859-1").contains("/ASCIIHexDecode"))
    assert(P.extractText(hexp).get.contains("hex body line"))
    // an unknown filter's bytes are compressed binary the interpreter
    // must not scan: the stream is skipped, not garbled
    val base = P.PdfFixture.pdf(Seq(Seq("x")), compress = false)
    val unknown = new String(base, "ISO-8859-1")
      .replace(">>\nstream", " /Filter /DCTDecode >>\nstream")
      .getBytes("ISO-8859-1")
    assert(P.extractText(unknown).get.trim == "",
      "unknown-filter stream bodies must be skipped")
    ()
  }

  test("hash index CDC re-apply is idempotent: the streaming-replay contract") {
    import spark.implicits._
    val hashes = Seq((1L, 11L), (2L, 1L << 40), (3L, (1L << 33) + 7L))
      .toDF("doc_id", "dhash")
    val dir = java.nio.file.Files.createTempDirectory("graft_hidem").toString
    Dedup.writeHashIndex(hashes, "doc_id", "dhash", dir, nPrefix = 16)
    val changes = Seq(
      (2L, Some(99L), 1L, "u"),
      (3L, None, 1L, "d"),
      (9L, Some(123456L), 1L, "i"))
      .toDF("doc_id", "dhash", "seq", "op")
    Dedup.updateHashIndex(dir, changes, "doc_id", "dhash")
    def snapshot() = spark.read.parquet(dir).collect()
      .map(_.toSeq.toString).sorted.toSeq
    val once = snapshot()
    Dedup.updateHashIndex(dir, changes, "doc_id", "dhash")
    assert(snapshot() == once, "CDC re-apply changed the hash index")
    ()
  }

  test("band index CDC re-apply is idempotent: the streaming-replay contract") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "aa bb cc dd ee ff gg"),
      (2L, "hh ii jj kk ll mm nn"),
      (3L, "oo pp qq rr ss tt uu")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bidem").toString
    Dedup.writeBandIndex(corpus, "text", "doc_id", dir)
    val changes = Seq(
      (2L, "vv ww xx yy zz ab cd", 1L, "u"),
      (3L, "", 1L, "d"),
      (9L, "ef gh ij kl mn op qr", 1L, "i"))
      .toDF("doc_id", "text", "seq", "op")
    Dedup.updateBandIndex(dir, changes, "text", "doc_id")
    def snapshot() = spark.read.parquet(dir).collect()
      .map(_.toSeq.toString).sorted.toSeq
    val once = snapshot()
    // a crashed foreachBatch replays the SAME batch onto the already-
    // updated layout: upserts rewrite identically, deletes of absent
    // ids are no-ops — the maintained index must not move
    Dedup.updateBandIndex(dir, changes, "text", "doc_id")
    assert(snapshot() == once, "CDC re-apply changed the index")
    ()
  }

  test("band index layout marker: constants persist; maintenance reads them back") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "aa bb cc dd ee ff gg"),
      (2L, "hh ii jj kk ll mm nn")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_blay").toString
    Dedup.writeBandIndex(corpus, "text", "doc_id", dir, prefixChars = 2)
    // the marker IS the layout: serve/update can never band a probe
    // differently than the rows on disk
    assert(Dedup.bandIndexLayout(dir, spark) == ((4, 2, 2)))
    // update against the prefixChars=2 layout must rewrite 2-char
    // dirs (the old caller-trusted default of 1 would have corrupted
    // the layout silently — the ADVICE class this marker closes)
    val changes = Seq((5L, "vv ww xx yy zz ab cd", 1L, "i"))
      .toDF("doc_id", "text", "seq", "op")
    val touched = Dedup.updateBandIndex(dir, changes, "text", "doc_id")
    assert(touched.nonEmpty && touched.forall(_.length == 2), touched.toSeq)
    val ex = intercept[IllegalArgumentException] {
      Dedup.bandIndexLayout(
        java.nio.file.Files.createTempDirectory("graft_nolay").toString, spark)
    }
    assert(ex.getMessage.contains("_graft_band_layout"))
  }

  test("string partition reads pin StringType where inference would yield INT") {
    // An all-numeric-parseable set of hex prefix dirs is the silent-
    // corruption case: partition-type inference yields INT, '07'
    // loses its leading zero, and any union with string-typed builder
    // rows coerces to '7' — missing the real dir. The pinned reads
    // must preserve the dir names verbatim.
    val dir = java.nio.file.Files.createTempDirectory("graft_strpin").toString
    Seq((1L, "07"), (2L, "12"), (3L, "07"))
      .toDF("id", "pfx")
      .write.mode("overwrite").partitionBy("pfx").parquet(dir)
    // the hazard is real: inference turns these dirs into INTs
    assert(spark.read.parquet(dir).schema("pfx").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val all = PartitionedIndex.read(spark, dir, Dedup.BandIndex)
    assert(all.schema("pfx").dataType == org.apache.spark.sql.types.StringType)
    assert(all.select("pfx").distinct().collect().map(_.getString(0)).sorted
      .toSeq == Seq("07", "12"))
    val pruned = PartitionedIndex.read(spark, dir, Dedup.BandIndex,
      Set("07"))
    assert(pruned.select("pfx").collect().map(_.getString(0)).toSeq ==
      Seq("07", "07"))
    // a wanted value with no dir on disk: an empty frame, still pinned
    // (never an inference-typed full-layout read)
    val absent = PartitionedIndex.read(spark, dir, Dedup.BandIndex,
      Set("ff"))
    assert(absent.count() == 0)
    assert(absent.schema("pfx").dataType == org.apache.spark.sql.types.StringType)
  }

  test("updateBandIndex locate scan survives an all-numeric prefix layout") {
    import org.apache.hadoop.fs.Path
    val corpus = Seq(
      (1L, "aa bb cc dd ee ff gg"),
      (2L, "hh ii jj kk ll mm nn"),
      (3L, "oo pp qq rr ss tt uu")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bnum").toString
    Dedup.writeBandIndex(corpus, "text", "doc_id", dir, prefixChars = 2)
    // Plant the hazard deterministically: rename every populated pfx
    // dir to a leading-zero numeric name, the exact shape partition
    // inference reads back as INT (dropping the zero). Before the
    // pinned-schema locate scan, the union with string builder rows
    // rendered '0k' as 'k', the touched set missed the real dir, and
    // a deleted id's rows stayed live — silently.
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pfxDirs = fs.listStatus(new Path(dir))
      .filter(_.getPath.getName.startsWith("pfx=")).map(_.getPath)
    assert(pfxDirs.length <= 9, s"fixture grew: ${pfxDirs.length} dirs")
    pfxDirs.zipWithIndex.foreach { case (p, i) =>
      assert(fs.rename(p, new Path(dir, s"pfx=0${i + 1}")))
    }
    assert(spark.read.parquet(dir).schema("pfx").dataType ==
      org.apache.spark.sql.types.IntegerType) // inference really trips here
    val del = Seq((2L, "", 1L, "d")).toDF("doc_id", "text", "seq", "op")
    Dedup.updateBandIndex(dir, del, "text", "doc_id")
    val after = PartitionedIndex.read(spark, dir, Dedup.BandIndex)
    assert(after.where(col("doc_id") === 2L).count() == 0,
      "deleted id survived: the locate scan missed its all-numeric home dir")
    assert(after.where(col("doc_id") === 1L).count() > 0)
  }

  test("time vote: dual half-offset grids rescue boundary-straddling jitter") {
    import spark.implicits._
    // Two matching keyframes whose true delta (~500 ms) jitters to
    // 499 and 501 — grid 0 (floor(d/100)) splits them into buckets 4
    // and 5 (vote 1 each, below minMatches=2); the half-offset grid
    // puts both at floor((d+50)/100) = 5. Hashes are band-disjoint
    // complements so nothing else pairs.
    val hA = 0x0F0F0F0F0F0F0F0FL
    val hB = ~hA
    val arr = Seq((1L, 0, hA), (1L, 1000, hB)).toDF("id", "ts_ms", "dhash")
    val ref = Seq((2L, 499, hA), (2L, 1501, hB)).toDF("id", "ts_ms", "dhash")
    val got = Dedup.videoHashMatches(arr, ref, "id", frameCol = "ts_ms",
        align = "time", minMatches = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 2L)), got.toSeq)
    // zero-jitter deltas are unaffected: both grids agree
    val ref0 = Seq((2L, 500, hA), (2L, 1500, hB)).toDF("id", "ts_ms", "dhash")
    val got0 = Dedup.videoHashMatches(arr, ref0, "id", frameCol = "ts_ms",
        align = "time", minMatches = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got0.toSeq == Seq((1L, 2L, 2L)), got0.toSeq)
    // the divide-by-zero knob is loud now, like every other knob here
    val ex = intercept[IllegalArgumentException] {
      Dedup.videoHashMatches(arr, ref, "id", frameCol = "ts_ms",
        align = "time", minMatches = 2, timeQuantMs = 0)
    }
    assert(ex.getMessage.contains("timeQuantMs"))
  }

  test("video offset vote: degenerate band bucket raises BEFORE the quadratic join") {
    import spark.implicits._
    // Adversarial corpus: 4 videos × 10 frames, every frame the SAME
    // hash (black leader / title card) — each (band, value) bucket
    // holds all 40 rows per side, so offset-mode candidates are
    // 40×40 per band where a natural corpus has ~1×1.
    val frames = (for (v <- 1L to 4L; f <- 0 until 10)
      yield (v, f, 0x5A5A5A5A5A5A5A5AL)).toDF("id", "frame_idx", "dhash")
    val ex = intercept[IllegalArgumentException] {
      Dedup.videoHashMatches(frames, frames, "id", minMatches = 2,
        align = "offset", maxBandBucket = 100L)
    }
    assert(ex.getMessage.contains("degenerate band value") &&
      ex.getMessage.contains("1600"), ex.getMessage)
    // the aligned vote never checks: the frame-index join key splits
    // every bucket, so the same corpus passes at the same cap
    Dedup.videoHashMatches(frames, frames, "id", minMatches = 2,
      maxBandBucket = 100L).count()
    // raising the cap DELIBERATELY lets the offset join run
    val ok = Dedup.videoHashMatches(frames, frames, "id", minMatches = 2,
      align = "offset", maxBandBucket = 100000L)
    assert(ok.count() > 0)
    ()
  }

  test("swapPrefixDirs: installs fresh dirs, drops emptied ones, cleans tmp only at the end") {
    val root = java.nio.file.Files.createTempDirectory("graft_swap")
    val idx = new java.io.File(root.toFile, "idx")
    val tmp = new java.io.File(root.toFile, "idx.upd-test")
    def put(dir: java.io.File, name: String, body: String): Unit = {
      val d = new java.io.File(dir, name); assert(d.mkdirs())
      val w = new java.io.FileWriter(new java.io.File(d, "part-0"))
      try w.write(body) finally w.close()
    }
    put(idx, "pfx=0", "old0")   // replaced by fresh
    put(idx, "pfx=1", "old1")   // emptied by deletes: no fresh dir
    put(idx, "pfx=9", "keep9")  // untouched: not in the dir list
    put(tmp, "pfx=0", "new0")
    put(tmp, "pfx=2", "new2")   // brand-new prefix, no live dir
    PartitionedIndex.swapPrefixDirs(spark, idx.toString, tmp.toString,
      Seq("pfx=0", "pfx=1", "pfx=2"))
    def body(name: String): String = {
      val src = scala.io.Source.fromFile(
        new java.io.File(new java.io.File(idx, name), "part-0"))
      try src.mkString finally src.close()
    }
    assert(body("pfx=0") == "new0")
    assert(!new java.io.File(idx, "pfx=1").exists(),
      "a prefix emptied by deletes must stay deleted")
    assert(body("pfx=2") == "new2")
    assert(body("pfx=9") == "keep9")
    assert(!tmp.exists(), "tmp dir must be deleted after a full swap")
    ()
  }

  test("swapPrefixDirs: a rename that returns false raises and keeps the aside copy") {
    val root = java.nio.file.Files.createTempDirectory("graft_swapfail")
    val idx = new java.io.File(root.toFile, "idx")
    val tmp = new java.io.File(root.toFile, "idx.upd-test")
    def put(dir: java.io.File, name: String, body: String): Unit = {
      val d = new java.io.File(dir, name); assert(d.mkdirs())
      val w = new java.io.FileWriter(new java.io.File(d, "part-0"))
      try w.write(body) finally w.close()
    }
    def body(dir: java.io.File, name: String): String = {
      val src = scala.io.Source.fromFile(
        new java.io.File(new java.io.File(dir, name), "part-0"))
      try src.mkString finally src.close()
    }
    put(idx, "pfx=0", "old0")
    put(idx, "pfx=1", "old1")
    put(tmp, "pfx=0", "new0")
    put(tmp, "pfx=1", "new1")
    // the install-rename of pfx=1 reports failure without throwing,
    // the way object-store and HDFS clients do
    spark.sparkContext.hadoopConfiguration.set("fs.renamefail.impl",
      classOf[RenameFailFileSystem].getName)
    RenameFailFileSystem.failDest = Some(new java.io.File(idx, "pfx=1").getPath)
    val ex = try intercept[java.io.IOException] {
      PartitionedIndex.swapPrefixDirs(spark, s"renamefail://$idx",
        s"renamefail://$tmp", Seq("pfx=0", "pfx=1"))
    } finally RenameFailFileSystem.failDest = None
    assert(ex.getMessage.contains("pfx=1"), ex.getMessage)
    // tmp survives with the displaced old rows and the uninstalled fresh dir
    assert(body(tmp, "aside-pfx=1") == "old1")
    assert(body(tmp, "pfx=1") == "new1")
    assert(!new java.io.File(idx, "pfx=1").exists())
    // renaming the aside copy back restores the layout
    assert(new java.io.File(tmp, "aside-pfx=1")
      .renameTo(new java.io.File(idx, "pfx=1")))
    assert(body(idx, "pfx=0") == "new0")
    assert(body(idx, "pfx=1") == "old1")
  }

  test("concurrent index builds: a failure surfaces only after every build has finished") {
    import scala.concurrent.{ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val first = new IllegalStateException("build 0 failed")
    val later = new IllegalStateException("build 1 failed")
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      val builds = Seq(
        Future { throw first },
        Future { Thread.sleep(500); slowDone.set(true); throw later },
        Future { 42 })
      val ex = intercept[IllegalStateException](
        graft.ops.ExtQueries.awaitAll(builds))
      assert(slowDone.get(), "error surfaced while a build was still running")
      assert(ex eq first)
      assert(ex.getSuppressed.toSeq == Seq(later))
    } finally pool.shutdown()
  }

  test("memoized signatures and image hashes equal their fresh recomputation") {
    import org.apache.spark.sql.DataFrame
    val dir = "/root/testdata/sf0.001"
    graft.ops.Artifacts.clear()
    graft.SparkEntry.queries("q_stream_all_indexed")(spark, dir).count()
    def sameMultiset(a: DataFrame, b: DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val documents = spark.read.parquet(s"$dir/documents.parquet")
    val sigs = graft.ops.Artifacts.only[DataFrame]("doc_signatures")
    assert(sigs.isDefined)
    assert(sameMultiset(sigs.get, Dedup.minhashSignatures(
      documents.select("doc_id", "text"), "text", "doc_id", 4)))
    val hashes = graft.ops.Artifacts.only[DataFrame]("base_image_hashes")
    assert(hashes.isDefined)
    assert(sameMultiset(hashes.get, Multimodal.imageDHashes(
      Multimodal.ImageFixture.withPayloads(
        documents.select(col("doc_id"),
          col("doc_id").as("__seed"), lit(false).as("__pert")),
        "__seed", "__pert").select("doc_id", "payload"), "payload")
      .select("doc_id", "dhash")))
    val cents = graft.ops.Artifacts.only[Array[Array[Double]]]("ivf_cents")
    assert(cents.isDefined)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    assert(cents.get.map(_.toSeq).toSeq == Similarity.kmeansCentroids(
      emb, "vec_id", "embedding", 16, iters = 1).map(_.toSeq).toSeq)
    // the PQ and residual codebooks the PQ index builders consume
    Seq("q_sim_pq", "q_sim_ivfpq_residual")
      .foreach(q => graft.SparkEntry.queries(q)(spark, dir))
    type Books = Array[Array[Array[Double]]]
    def deep(b: Books) = b.map(_.map(_.toSeq).toSeq).toSeq
    val books = graft.ops.Artifacts.only[Books]("pq_books")
    assert(books.isDefined)
    assert(deep(books.get) == deep(Similarity.pqCodebooks(emb, "vec_id",
      "embedding", dim = 64, m = 4, ksub = 8, iters = 1)))
    val rbooks = graft.ops.Artifacts.only[Books]("rpq_books")
    assert(rbooks.isDefined)
    assert(deep(rbooks.get) == deep(Similarity.pqResidualBooks(emb, "vec_id",
      "embedding", cents.get, m = 4, ksub = 8, iters = 1)))
  }

  test("scratch-dir wipe deletes symlinks without following them") {
    val fixture = java.nio.file.Files.createTempDirectory("graft_fix")
    val precious = fixture.resolve("part-0000.parquet")
    java.nio.file.Files.write(precious, "data".getBytes)
    val scratch = graft.ops.ExtQueries.scratchDir("lnktest", fixture.toString)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(scratch))
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(scratch, "events.parquet"), fixture)
    // second call wipes the scratch dir; recursing THROUGH the link
    // would delete the fixture's contents
    graft.ops.ExtQueries.scratchDir("lnktest", fixture.toString)
    assert(java.nio.file.Files.exists(precious),
      "wipe followed the symlink and deleted the fixture")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(scratch, "events.parquet")))
  }

  test("bucket cap bounds the candidate join on degenerate corpora") {
    import spark.implicits._
    // 40 copies of one boilerplate doc: every copy lands in the same
    // LSH buckets, so the uncapped candidate join goes quadratic
    // (40·39/2 pairs from one bucket family)
    val boiler = spark.range(40)
      .select((col("id") + 500000).as("doc_id"),
        lit("same boilerplate text repeated verbatim on every single page").as("text"))
    val corpus = docs.select("doc_id", "text").union(boiler)
    val full = Dedup.nearDupPairs(corpus, "text", "doc_id", threshold = 0.5)
      .where(col("id_a") >= 500000).count()
    assert(full == 40L * 39 / 2, s"full=$full")
    // capped: the degenerate buckets are dropped entirely — the
    // documented recall trade — and the pipeline stays linear
    val capped = Dedup.nearDupPairs(corpus, "text", "doc_id", threshold = 0.5,
      maxBucket = 10)
    assert(capped.where(col("id_a") >= 500000).count() == 0)
  }

  test("embedding near-dup of an identical planted vector is found") {
    val v = emb.where(col("vec_id") === 0).select("embedding").head()
      .getSeq[Float](0).toArray
    val planted = emb.select("vec_id", "embedding")
      .union(Seq((8888L, v)).toDF("vec_id", "embedding"))
    val pairs = Dedup.embeddingNearDups(planted, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 8888L)), s"pairs=$pairs")
  }

  test("simhash frame form equals the column form (incl. empty docs)") {
    import spark.implicits._
    val withEmpty = docs.select("doc_id", "text")
      .union(Seq((99991L, ""), (99992L, "   ")).toDF("doc_id", "text"))
    val colForm = withEmpty.select(col("doc_id"),
        Dedup.simhash16(graft.ml.Featurize.tokensCol(col("text"))).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val frameForm = Dedup.simhashSignatures(withEmpty, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(frameForm == colForm)
    assert(frameForm(99991L) == 0L)
  }

  test("widening sign-bucket planes bounds candidate cost (Σ occupancy²)") {
    // the self-join candidate count is Σ bucket-occupancy²; doubling the
    // planes from 8 to 16 must collapse it even on a SKEWED corpus
    // (every vector duplicated 3×, so true-dup buckets stay occupied)
    val skewed = (0 until 3).map(r =>
      emb.select((col("vec_id") + r * 100000).as("vec_id"), col("embedding")))
      .reduce(_ union _)
    def sumSq(nBits: Int): Long = skewed
      .select(Similarity.signBucketNative(spark, col("embedding"), nBits, 64)
        .as("b"))
      .groupBy("b").count()
      .agg(sum(col("count") * col("count"))).head().getLong(0)
    val s8 = sumSq(8)
    val s16 = sumSq(16)
    val n = skewed.count()
    // floor: true triplicates always share a bucket — n/3 groups of 3
    // contribute 9 each = 3n to Σocc² at ANY width; what widening must
    // collapse is the excess from unrelated vectors colliding
    val floor = 3 * n
    assert(s16 - floor < (s8 - floor) / 4,
      s"sumSq8=$s8 sumSq16=$s16 floor=$floor")
    assert(s16 <= 3 * floor, s"sumSq16=$s16 floor=$floor")
  }

  test("pii scrub masks email, card PAN and phone; repetition ratio counts dups") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.org now"),
      (2L, "card 4111111111111111 charged"),
      (3L, "call +44 7911 123456 today"),
      (4L, "a b a b a b")).toDF("id", "text")
    val scrubbed = df.select(col("id"), TextStats.scrubPii(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(scrubbed(1L) == "mail <email> now", scrubbed(1L))
    assert(scrubbed(2L) == "card <pan> charged", scrubbed(2L))
    assert(scrubbed(3L) == "call <phone> today", scrubbed(3L))
    val rep = df.select(col("id"),
        graft.ml.Featurize.ngramsCol(graft.ml.Featurize.tokensCol(col("text")), 2).as("__g"))
      .select(col("id"), TextStats.repetitionRatio(col("__g")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // "a b a b a b": 5 bigrams, 2 distinct ("a b", "b a") -> 3/5
    assert(rep(4L) == 0.6, rep.toString)
  }

  test("multimodal batch decode produces fixed-shape features") {
    val media = Multimodal.withPayload(docs.limit(20).select("doc_id", "text"), "text")
      .select(col("doc_id").as("id"), col("payload")).as[Multimodal.MediaRow]
    val feats = Multimodal.decodeFeatures(media, dim = 8).collect()
    assert(feats.length == 20)
    assert(feats.forall(_.features.length == 8))
    assert(feats.forall(f => f.width >= 16 && f.height >= 16))
    // deterministic: same payload -> same features
    val again = Multimodal.decodeFeatures(media, dim = 8).collect()
    assert(feats.sortBy(_.id).zip(again.sortBy(_.id))
      .forall { case (a, b) => a.features.sameElements(b.features) })
  }

  test("real WAV audio decodes to true format, duration and sine RMS; non-audio falls back") {
    import spark.implicits._
    // genuine 16-bit mono PCM WAV written by javax.sound: a 440 Hz
    // sine at amplitude 0.5, 8000 Hz, half a second
    def wav(seconds: Double, rate: Float = 8000f,
            amp: Double = 0.5): Array[Byte] = {
      val n = (seconds * rate).toInt
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val s = (math.sin(2 * math.Pi * 440 * i / rate) * amp * 32767).toInt
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val rows = Seq(
      Multimodal.AudioRow(1L, wav(0.5)),
      Multimodal.AudioRow(2L, "definitely not audio bytes".getBytes("UTF-8")))
    val out = Multimodal.decodeAudioFeatures(rows.toDS())
      .collect().map(f => f.id -> f).toMap
    val a = out(1L)
    assert(a.decoded && a.channels == 1 && a.sampleRate == 8000f)
    assert(a.nFrames == 4000 && math.abs(a.durationSec - 0.5f) < 1e-6)
    // sine RMS = amp/sqrt(2) ≈ 0.3536
    assert(math.abs(a.rms - 0.5 / math.sqrt(2)) < 0.01, a.toString)
    val b = out(2L)
    assert(!b.decoded && b.sampleRate == 0f && b.rms > 0f)
    // frame budget: a header declaring 4000 frames capped at 100 reads
    // only 100 frames of PCM but still reports the DECLARED length
    val capped = Multimodal.AudioCodec.decode(3L, wav(0.5), maxFrames = 100)
    assert(capped.decoded && capped.nFrames == 4000)
    // crafted AU header declaring 2^26 channels (frame size ~128 MiB,
    // over the 64 MiB byte cap): must route to the fallback instead of
    // allocating a single giant frame buffer (OutOfMemoryError would
    // escape the Exception catch)
    val au = java.nio.ByteBuffer.allocate(32)
    au.putInt(0x2e736e64) // ".snd"
    au.putInt(24)         // data offset
    au.putInt(8)          // data size
    au.putInt(3)          // encoding: 16-bit linear PCM
    au.putInt(44100)      // sample rate
    au.putInt(1 << 26)    // channels -> frameSize = 2 * 2^26 bytes
    val bomb = Multimodal.AudioCodec.decode(4L, au.array())
    assert(!bomb.decoded, bomb.toString)
  }

  test("real encoded PNGs decode to true dimensions and pixel features") {
    import spark.implicits._
    // a genuine 10x6 PNG, solid red, written by ImageIO — the decode
    // path must recover the true dims AND pixel-derived features
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRow(1L, png(10, 6, 0xFF0000)),   // red
      Multimodal.MediaRow(2L, png(4, 8, 0x0000FF))).toDS() // blue
    val feats = Multimodal.decodeFeatures(media, dim = 8)
      .collect().map(f => f.id -> f).toMap
    assert((feats(1L).width, feats(1L).height) == ((10, 6)))
    assert((feats(2L).width, feats(2L).height) == ((4, 8)))
    // features 0..2 are mean R,G,B in 0..1: red image -> (1,0,0)
    assert(math.abs(feats(1L).features(0) - 1f) < 1e-3 &&
      feats(1L).features(1) < 1e-3 && feats(1L).features(2) < 1e-3,
      feats(1L).features.mkString(","))
    assert(feats(2L).features(0) < 1e-3 &&
      math.abs(feats(2L).features(2) - 1f) < 1e-3,
      feats(2L).features.mkString(","))
    // band luminances (slots 3..7) of a solid image are all equal
    val bands = feats(1L).features.drop(3)
    assert(bands.forall(b => math.abs(b - bands(0)) < 1e-3))
    // real resize: 10x6 red -> 3x3 PNG that still decodes red
    val small = Multimodal.Codec.resize(png(10, 6, 0xFF0000), 3, 3)
    val (rw, rh, rf) = Multimodal.Codec.decode(small, 3)
    assert((rw, rh) == ((3, 3)) && math.abs(rf(0) - 1f) < 1e-2)
  }

  test("PNG payloads decode to their true header dimensions") {
    import spark.implicits._
    // a real PNG signature + IHDR prefix (width 123, height 45) with
    // trailing junk; a non-PNG payload falls back to the fake dims
    val png = Multimodal.PngHeader.prefix(123, 45) ++ Array[Byte](1, 2, 3)
    val notPng = "just some text".getBytes("UTF-8")
    assert(Multimodal.PngHeader.dims(png).contains((123, 45)))
    assert(Multimodal.PngHeader.dims(notPng).isEmpty)
    val media = Seq(Multimodal.MediaRow(1L, png), Multimodal.MediaRow(2L, notPng))
      .toDS()
    val feats = Multimodal.decodeFeatures(media, dim = 4)
      .collect().map(f => f.id -> ((f.width, f.height))).toMap
    assert(feats(1L) == ((123, 45)), feats.toString)
    assert(feats(2L)._1 >= 16 && feats(2L)._2 >= 16, feats.toString)
  }

  test("langid picks the language whose markers dominate") {
    val df = Seq(
      (1L, "the cat is in the house and it is warm"),
      (2L, "le chat est dans la maison et il est chaud"),
      (3L, "der hund und die katze sind ein team"))
      .toDF("id", "text")
    val out = df.select(col("id"), TextStats.langIdCol(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en" && out(2L) == "fr" && out(3L) == "de", out.toString)
    // staged frame form returns the same predictions as the column form
    val staged = TextStats.withLangId(df, "text", "l")
      .select("id", "l")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(staged == out, staged.toString)
  }

  test("span dedup cuts repeated blocks, keeps first occurrence, empties full dups") {
    val df = Seq(
      (1L, "w1 w2 w3 w4 u1 u2 u3 u4"),   // first occurrence of block w1..w4
      (2L, "w1 w2 w3 w4 v1 v2 v3 v4"),   // repeats it -> block cut
      (3L, "w1 w2 w3 w4 u1 u2 u3 u4"),   // full dup of doc 1 -> emptied
      (4L, "x1 x2 x3 x4 x5"),            // unique incl. short tail -> untouched
      (5L, ""))                           // empty -> passes through
      .toDF("doc_id", "text")
    val deduped = Dedup.spanDedup(
      df.withColumn("lang", lit("en")), "text", "doc_id", blockTokens = 4)
    // schema-preserving: extra columns pass through, text rebuilt in place
    assert(deduped.columns.toSeq == Seq("doc_id", "text", "lang"))
    val out = deduped
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "w1 w2 w3 w4 u1 u2 u3 u4")
    assert(out(2L) == "v1 v2 v3 v4")
    assert(out(3L) == "")
    assert(out(4L) == "x1 x2 x3 x4 x5")
    assert(out(5L) == "")
    assert(out.size == 5)
  }

  // flatten a task-failure cause chain into one searchable string
  private def allMessages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")

  test("span dedup packed key: loud failure at the block-count boundary, never silent corruption") {
    // 5 blocks of 2 tokens; winner rule must hold right up to the cap
    val atCap = Seq(
      (0L, "a1 a2 b1 b2 c1 c2 d1 d2 s1 s2"),  // shared block s1 s2 at pos 4
      (1L, "s1 s2 z1 z2"))                    // same block at pos 0 -> cut
      .toDF("doc_id", "text")
    val ok = Dedup.spanDedup(atCap, "text", "doc_id",
        blockTokens = 2, maxBlocksPerDoc = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 0's pos 4 (= cap - 1) wins over doc 1's pos 0: 0*5+4 < 1*5+0
    assert(ok(0L) == "a1 a2 b1 b2 c1 c2 d1 d2 s1 s2")
    assert(ok(1L) == "z1 z2")
    // one block past the cap -> raise_error, not a wrong winner
    val past = intercept[Throwable] {
      Dedup.spanDedup(atCap, "text", "doc_id",
        blockTokens = 2, maxBlocksPerDoc = 4).collect()
    }
    assert(allMessages(past).contains("maxBlocksPerDoc"), allMessages(past))
    // negative id -> raise_error (would reverse the packed order)
    val neg = intercept[Throwable] {
      Dedup.spanDedup(Seq((-1L, "a b c")).toDF("doc_id", "text"),
        "text", "doc_id", blockTokens = 2).collect()
    }
    assert(allMessages(neg).contains("packed winner key"), allMessages(neg))
    // non-integral id column -> rejected up front (a string id would
    // cast to null and collapse all winners)
    val bad = intercept[IllegalArgumentException] {
      Dedup.spanDedup(Seq(("x", "a b c")).toDF("doc_id", "text"),
        "text", "doc_id", blockTokens = 2)
    }
    assert(bad.getMessage.contains("integral"), bad.getMessage)
  }

  test("line dedup: keep-first cuts later occurrences, boilerplate mode cuts all") {
    val df = Seq(
      (1L, "unique article body\nsubscribe now\nmore body"),
      (2L, "another page\nsubscribe now"),     // footer repeats -> cut here
      (3L, "subscribe now\nthird page"),       // and here (pos order: doc 1 first)
      (4L, "blank\n\n\nlines survive"),        // empty lines dropped uniformly
      (5L, ""))                                // no non-empty lines -> unchanged
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val first = Dedup.lineDedup(df, "text", "doc_id")
    assert(first.columns.toSeq == Seq("doc_id", "text", "lang"))
    val f = first.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(f(1L) == "unique article body\nsubscribe now\nmore body")
    assert(f(2L) == "another page")
    assert(f(3L) == "third page")
    assert(f(4L) == "blank\nlines survive")
    assert(f(5L) == "")
    // boilerplate mode: the shared footer vanishes EVERYWHERE
    val strip = Dedup.lineDedup(df, "text", "doc_id", keepFirst = false)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(strip(1L) == "unique article body\nmore body")
    assert(strip(2L) == "another page")
    assert(strip(3L) == "third page")
    // maxOccurrences = 2 tolerates a twice-repeated line
    val twice = Seq((1L, "a\nshared"), (2L, "b\nshared"), (3L, "c\nshared"))
      .toDF("doc_id", "text")
    val tol = Dedup.lineDedup(twice, "text", "doc_id",
        keepFirst = false, maxOccurrences = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tol == Map(1L -> "a\nshared", 2L -> "b\nshared", 3L -> "c\nshared"))
    // packed-key guards inherited from the spanDedup idiom: loud, never silent
    val past = intercept[Throwable] {
      Dedup.lineDedup(Seq((0L, "l1\nl2\nl3")).toDF("doc_id", "text"),
        "text", "doc_id", maxLinesPerDoc = 2).collect()
    }
    assert(allMessages(past).contains("maxLinesPerDoc"), allMessages(past))
    val bad = intercept[IllegalArgumentException] {
      Dedup.lineDedup(Seq(("x", "a")).toDF("doc_id", "text"), "text", "doc_id")
    }
    assert(bad.getMessage.contains("integral"), bad.getMessage)
  }

  test("paragraph dedup: blank-line units, single \\n stays inside, trim unifies") {
    val df = Seq(
      // single \n is NOT a paragraph break — doc 1 is ONE unit
      (1L, "line a\nline b"),
      // footer paragraph with stray spaces around it: trim must unify
      // its hash with doc 3's clean copy
      (2L, "body two\n\n  shared footer  "),
      (3L, "body three\n\nshared footer"),
      // 3+ newlines are one separator; leading blank lines drop
      (4L, "\n\n\nbody four\n\n\n\nbody four tail"))
      .toDF("doc_id", "text")
    val first = Dedup.paragraphDedup(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(first(1L) == "line a\nline b")
    assert(first(2L) == "body two\n\nshared footer") // first occurrence kept
    assert(first(3L) == "body three")                // later copy cut
    assert(first(4L) == "body four\n\nbody four tail")
    // boilerplate mode: the footer vanishes everywhere
    val strip = Dedup.paragraphDedup(df, "text", "doc_id", keepFirst = false)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(strip(2L) == "body two" && strip(3L) == "body three")
  }

  test("span dedup normalizes whitespace uniformly across touched and untouched rows") {
    val df = Seq(
      (1L, "  w1  w2\tw3 w4  u1 u2 u3 u4 "),  // messy, no dropped blocks
      (2L, "w1 w2 w3 w4 v1 v2 v3 v4"))        // repeats block w1..w4 -> cut
      .toDF("doc_id", "text")
    val out = Dedup.spanDedup(df, "text", "doc_id", blockTokens = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // the untouched doc is rebuilt from tokens too — one consistent
    // single-space contract (and the one the DuckDB oracle computes)
    assert(out(1L) == "w1 w2 w3 w4 u1 u2 u3 u4", out.toString)
    assert(out(2L) == "v1 v2 v3 v4", out.toString)
  }

  test("substring dedup: exact Lee-et-al semantics — unaligned removal, maximal extension, cross-doc scope") {
    val df = Seq(
      (1L, "p1 p2 s1 s2 s3 s4 s5 q1 q2"), // first occurrence of the s-run: winner, intact
      (2L, "z1 s1 s2 s3 s4 s5 z2 z3"),    // UNALIGNED repeat (offset 1 vs 2) -> s-run cut, z's kept
      (3L, "a1 s1 s2 a2"),                // shares only 2 tokens < minTokens -> untouched
      (4L, "r1 r2 r3 x1 r1 r2 r3"),       // WITHIN-doc repeat only -> out of scope, untouched
      (5L, ""),                           // empty -> passes through
      (6L, "t1  t2"),                     // unique, messy spacing -> normalized rebuild
      (7L, "s1 s2 s3"))                   // exactly minTokens, all shared -> emptied
      .toDF("doc_id", "text")
    val deduped = Dedup.substringDedup(
      df.withColumn("lang", lit("en")), "text", "doc_id", minTokens = 3)
    // schema-preserving: extra columns pass through, text rebuilt in place
    assert(deduped.columns.toSeq == Seq("doc_id", "text", "lang"))
    val out = deduped.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "p1 p2 s1 s2 s3 s4 s5 q1 q2", out.toString) // winner keeps ALL
    // maximal extension is implicit: the whole 5-token shared run goes,
    // not just one 3-token window — and removal is position-exact
    assert(out(2L) == "z1 z2 z3", out.toString)
    assert(out(3L) == "a1 s1 s2 a2", out.toString)
    assert(out(4L) == "r1 r2 r3 x1 r1 r2 r3", out.toString)
    assert(out(5L) == "", out.toString)
    assert(out(6L) == "t1 t2", out.toString)
    assert(out(7L) == "", out.toString)
    assert(out.size == 7)
  }

  test("substring dedup per-doc scope: each document keeps its first occurrence, loses only self-repeats") {
    val df = Seq(
      (1L, "p1 p2 s1 s2 s3 s4 s5 q1 q2"),             // organic original
      (2L, "w1 s1 s2 s3 s4 s5 m1 s1 s2 s3 s4 s5 w2"), // embeds the run TWICE
      (3L, "z1 s1 s2 s3 s4 s5 z2"),                   // single copy -> kept whole
      (4L, "r1 r2 r3 x1 r1 r2 r3"))                   // self-repeat only, NOT cross-doc -> untouched
      .toDF("doc_id", "text")
    val perDoc = Dedup.substringDedup(df, "text", "doc_id",
        minTokens = 3, scope = "per-doc")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(perDoc(1L) == "p1 p2 s1 s2 s3 s4 s5 q1 q2", perDoc.toString)
    // doc 2 keeps its FIRST embedded copy; only the second is cut
    assert(perDoc(2L) == "w1 s1 s2 s3 s4 s5 m1 w2", perDoc.toString)
    // doc 3's single copy survives per-doc scope (global would cut it)
    assert(perDoc(3L) == "z1 s1 s2 s3 s4 s5 z2", perDoc.toString)
    assert(perDoc(4L) == "r1 r2 r3 x1 r1 r2 r3", perDoc.toString)
    val global = Dedup.substringDedup(df, "text", "doc_id", minTokens = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(global(2L) == "w1 m1 w2", global.toString)
    assert(global(3L) == "z1 z2", global.toString)
    // unknown scope rejected up front
    intercept[IllegalArgumentException] {
      Dedup.substringDedup(df, "text", "doc_id", minTokens = 3, scope = "doc")
    }
    ()
  }

  test("substring dedup packed key: loud failure, never silent corruption") {
    import spark.implicits._
    val neg = intercept[Throwable] {
      Dedup.substringDedup(Seq((-1L, "a b c")).toDF("doc_id", "text"),
        "text", "doc_id", minTokens = 2).collect()
    }
    assert(allMessages(neg).contains("packed winner key"), allMessages(neg))
    // a NULL id would skip both range guards and silently drop the row
    val nul = intercept[Throwable] {
      Dedup.substringDedup(
        Seq((java.lang.Long.valueOf(1L), "a b c d"),
            (null.asInstanceOf[java.lang.Long], "a b c d"))
          .toDF("doc_id", "text"),
        "text", "doc_id", minTokens = 2).collect()
    }
    assert(allMessages(nul).contains("null id"), allMessages(nul))
    val typ = intercept[IllegalArgumentException] {
      Dedup.substringDedup(Seq(("x", "a b c")).toDF("doc_id", "text"),
        "text", "doc_id", minTokens = 2)
    }
    assert(typ.getMessage.contains("integral"), typ.getMessage)
    // window position past the cap -> raise_error, not a wrong winner
    val past = intercept[Throwable] {
      Dedup.substringDedup(Seq(
          (0L, "a b c d e f"), (1L, "a b c d e f")).toDF("doc_id", "text"),
        "text", "doc_id", minTokens = 2, maxWindowsPerDoc = 3).collect()
    }
    assert(allMessages(past).contains("maxWindowsPerDoc"), allMessages(past))
  }

  test("unigram apply: Viterbi picks max-score paths, longest piece on ties, unk fallback; decode is identity") {
    val T = TextStats
    import spark.implicits._
    val vocab = Seq("▁" -> -1.0, "a" -> -2.0, "b" -> -2.0, "ab" -> -4.0,
      "▁the" -> -1.5, "t" -> -3.0, "h" -> -3.0, "e" -> -3.0)
    val df = Seq(
      (1L, "ab"),        // tie: ▁ a b == ▁ ab at -5.0 -> LONGER piece wins
      (2L, "the"),       // whole-word piece beats chars (-1.5 vs -10)
      (3L, "th9"),       // 9 not in vocab -> unk single-char fallback
      (4L, "  a \t b "), // messy whitespace normalizes
      (5L, ""))          // empty passes through empty
      .toDF("doc_id", "text")
    val out = T.unigramApply(df, "text", vocab, unkLogProb = -20.0)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](2)).toMap
    assert(out(1L) == Seq("▁", "ab"), out(1L).toString)
    assert(out(2L) == Seq("▁the"), out(2L).toString)
    assert(out(3L) == Seq("▁", "t", "h", "9"), out(3L).toString)
    assert(out(4L) == Seq("▁", "a", "▁", "b"), out(4L).toString)
    assert(out(5L) == Seq(), out(5L).toString)
    // decode identity: markers back to spaces == whitespace-normalized
    // text, for EVERY input including unknown unicode
    // a leading U+0001 and a trailing U+001F are not whitespace: they
    // stay inside their tokens, as in tokensCol
    val messy = Seq((1L, "café  9züm\tnaïve"), (2L, " ab the th9 "),
      (3L, "🎈 balloon"), (4L, "\u0001ab the\u001F"),
      (5L, " \u0001 ab\u001F "))
      .toDF("doc_id", "text")
    val dec = T.unigramApply(messy, "text", vocab)
      .select(col("doc_id"), T.unigramDecode(col("unigram_symbols")).as("d"),
        concat_ws(" ", graft.ml.Featurize.tokensCol(col("text"))).as("norm"))
      .collect()
    dec.foreach(r => assert(r.getString(1) == r.getString(2), r.toString))
    assert(dec.length == 5)
    // invalid vocabularies fail loudly up front
    intercept[IllegalArgumentException] { T.unigramApply(df, "text", Nil) }
    intercept[IllegalArgumentException] {
      T.unigramApply(df, "text", Seq("a" -> -1.0, "a" -> -2.0))
    }
    intercept[IllegalArgumentException] {
      T.unigramApply(df, "text", Seq("a b" -> -1.0))
    }
    intercept[IllegalArgumentException] {
      T.unigramApply(df, "text", Seq(("x" * 64) -> -1.0))
    }
    ()
  }

  test("ranked BPE apply equals the sequential replay at depth; invalid merge lists fail loudly") {
    val T = TextStats
    val corpus = docs.select("doc_id", "text")
    // a real trainer-produced vocabulary deep enough to chain products
    val vocab = T.bpeTrain(corpus, "text", merges = 96,
        mode = Tokenizer.ModeBytesPretok)
      .map(m => (m._1, m._2))
    assert(vocab.size == 96, vocab.size)
    val seq = T.bpeApply(corpus, "text", vocab, Tokenizer.ModeBytesPretok)
      .select("doc_id", "bpe_symbols").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val ranked = T.bpeApplyRankedBytesPretok(corpus, "text", vocab)
      .select("doc_id", "bpe_symbols").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(ranked == seq)
    // a merge consuming a product nothing earlier created -> loud
    val shuffled = intercept[IllegalArgumentException] {
      T.bpeApplyRankedBytesPretok(corpus, "text",
        Seq(("61", "62" + T.BpeJoiner + "63"), ("62", "63")))
    }
    assert(shuffled.getMessage.contains("no earlier merge produced"),
      shuffled.getMessage)
    // ambiguous product strings -> loud (ranked/replay equivalence breaks)
    val ambiguous = intercept[IllegalArgumentException] {
      T.bpeApplyRankedBytesPretok(corpus, "text",
        Seq(("61", "62"), ("62", "63"),
          ("61", "62" + T.BpeJoiner + "63"),
          ("61" + T.BpeJoiner + "62", "63")))
    }
    assert(ambiguous.getMessage.contains("ambiguous"), ambiguous.getMessage)
  }

  test("link graph: anchor hrefs extract both quote styles; edges canonicalize domains") {
    val pages = Seq((
      "HTTP://WWW.Src.COM:80/home",
      """<p><a class="k" href="https://A.com/x">1</a> text
        |<a href='http://www.b.org:80/y?utm_source=z'>2</a>
        |<img src="http://not-an-anchor.com/z"> <a name="no-href">3</a></p>"""
        .stripMargin))
      .toDF("url", "html")
    val edges = LinkGraph.domainEdges(pages, "url", "html")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(edges == Set(("src.com", "a.com"), ("src.com", "b.org")), edges)
  }

  test("link graph: PageRank redistributes dangling mass — ranks sum to 1, hand values match") {
    // a -> {b, c}, b -> a, c dangling. After one iteration:
    //   contrib(a)=1/3, contrib(b)=contrib(c)=1/6, dangling=1/3 -> 1/9 each
    //   rank = 0.15/3 + 0.85*(contrib + 1/9)
    val e = Seq(("a", "b"), ("a", "c"), ("b", "a")).toDF("src", "dst")
    val r1 = LinkGraph.domainAuthority(e, iterations = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    def exp(contrib: Double) = 0.15 / 3 + 0.85 * (contrib + 1.0 / 9)
    assert(math.abs(r1("a") - exp(1.0 / 3)) < 1e-9, r1.toString)
    assert(math.abs(r1("b") - exp(1.0 / 6)) < 1e-9, r1.toString)
    assert(math.abs(r1("c") - exp(1.0 / 6)) < 1e-9, r1.toString)
    assert(math.abs(r1.values.sum - 1.0) < 1e-9, r1.toString)
    // mass conservation holds through deeper iterations too
    val r5 = LinkGraph.domainAuthority(e, iterations = 5)
      .collect().map(_.getDouble(1)).sum
    assert(math.abs(r5 - 1.0) < 1e-9, r5.toString)
  }

  test("link graph: the edge persist is released before domainAuthority returns") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val e = Seq(("a", "b"), ("a", "c"), ("b", "a")).toDF("src", "dst")
    val iters = 4
    val ranks = LinkGraph.domainAuthority(e, iterations = iters)
    // New persistent RDDs are ONLY the per-iteration localCheckpoints
    // (≤ iters of them; ContextCleaner may already have dropped
    // superseded ones) — the edge cache must NOT be among them: before
    // the fix this set held iters + 1 entries with the edge frame
    // pinned by the returned plan, unreleasable by any caller.
    val fresh = sc.getPersistentRDDs.keySet.filterNot(before)
    assert(fresh.size <= iters, s"expected <= $iters new persistent RDDs " +
      s"(checkpoints only), got ${fresh.size} — an input persist leaked")
    // and the returned frame still collects after the edge unpersist
    assert(math.abs(ranks.collect().map(_.getDouble(1)).sum - 1.0) < 1e-9)
    fresh.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist()))
  }

  test("sequence packing: loud failure when a partition exceeds maxSeqsPerPart") {
    val docs3 = Seq((0L, "t"), (1L, "t"), (2L, "t")).toDF("doc_id", "text")
    // 3 one-token docs, budget 1, one partition: seq indices 0, 1, 2
    val ok = TextStats.packSequences(docs3.where(col("doc_id") < 2),
        "text", "doc_id", budget = 1, parts = 1, maxSeqsPerPart = 2)
      .collect().map(_.getAs[Long]("seq_id")).sorted
    assert(ok.toSeq == Seq(0L, 1L), ok.mkString(","))
    val past = intercept[Throwable] {
      TextStats.packSequences(docs3, "text", "doc_id",
        budget = 1, parts = 1, maxSeqsPerPart = 2).collect()
    }
    assert(allMessages(past).contains("maxSeqsPerPart"), allMessages(past))
    // parts * maxSeqsPerPart must fit in a long — rejected up front
    intercept[IllegalArgumentException] {
      TextStats.packSequences(docs3, "text", "doc_id",
        budget = 1, parts = 1 << 24, maxSeqsPerPart = 1L << 40)
    }
  }

  test("sequence packing fills each sequence to budget with one spill doc") {
    val packed = TextStats.packSequences(
      docs.select("doc_id", "text"), "text", "doc_id",
      budget = 200, parts = 4).collect()
    assert(packed.length == docs.count())
    // within (part, seq): total tokens < budget + the spilling doc's
    // own size — i.e. every doc except possibly the last STARTS inside
    // the budget (offset % budget < budget by construction; check the
    // defining invariant directly: offset / budget is the seq index)
    packed.foreach { r =>
      val off = r.getAs[Long]("offset"); val seq = r.getAs[Long]("seq_id")
      val part = r.getAs[Long]("part")
      assert(seq == part * (1L << 40) + off / 200, r.toString)
    }
    // offsets are dense per partition: sum of earlier docs' tokens
    val byPart = packed.groupBy(_.getAs[Long]("part"))
    byPart.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("doc_id"))
      var run = 0L
      sorted.foreach { r =>
        assert(r.getAs[Long]("offset") == run, r.toString)
        run += r.getAs[Long]("n_tokens")
      }
    }
    // parallelism: every salted partition actually packed something
    assert(byPart.size == 4)
  }

  test("chunking covers every token with stride overlap and exact tails") {
    val chunk = 16; val stride = 12
    val out = TextStats.chunkDocs(
      docs.select("doc_id", "text"), "text", "doc_id", chunk, stride)
    val toks = docs.select(col("doc_id"),
        graft.ml.Featurize.tokensCol(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    out.collect().groupBy(_.getLong(0)).foreach { case (id, rows) =>
      val t = toks(id)
      val starts = rows.map(_.getInt(1) * stride).sorted
      assert(starts.head == 0 && starts.last < t.length)
      assert(starts.toList == (0 until t.length by stride).toList, s"doc $id")
      rows.foreach { r =>
        val start = r.getInt(1) * stride
        val expect = t.slice(start, start + chunk)
        assert(r.getString(2) == expect.mkString(" "), s"doc $id chunk ${r.getInt(1)}")
        assert(r.getInt(3) == expect.length)
      }
    }
    // every non-empty doc is chunked
    assert(out.select("doc_id").distinct().count() ==
      toks.count(_._2.nonEmpty))
  }

  test("BM25 ranks self/copy first and matches a local recomputation") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "apple banana cherry"),
      (1L, "apple banana cherry"), // exact copy of the query
      (2L, "apple banana zebra zebra"),
      (3L, "zebra yak walrus xylophone"), // no query term
      (4L, "apple walnut walnut walnut")).toDF("doc_id", "text")
    val res = Retrieval.bm25TopK(corpus.where(col("doc_id") === 0), corpus,
      "doc_id", "text", k = 5).orderBy("rank").collect()
    // the query text itself (and its exact copy) take ranks 1-2 with
    // equal scores; the id breaks the tie
    assert(res(0).getLong(1) == 0L && res(1).getLong(1) == 1L, res.mkString)
    assert(res(0).getDouble(2) == res(1).getDouble(2))
    // a doc sharing no query term is not a candidate at all
    assert(!res.map(_.getLong(1)).contains(3L))
    // two shared terms outrank one
    val rankOf = res.map(r => r.getLong(1) -> r.getInt(3)).toMap
    assert(rankOf(2L) < rankOf(4L), rankOf.toString)
    // local recomputation of (query 0, doc 4): shared term "apple",
    // N=5, avgdl=18/5, df(apple)=4, tf=1, len=4
    val idf = math.log(1.0 + (5.0 - 4.0 + 0.5) / (4.0 + 0.5))
    val tfn = 1.0 * (1.2 + 1.0) /
      (1.0 + 1.2 * (1.0 - 0.75 + (0.75 * 4.0) / (18.0 / 5.0)))
    val expected = BigDecimal(idf * tfn)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(res.find(_.getLong(1) == 4L).get.getDouble(2) - expected)
      < 1e-9, s"score=${rankOf(4L)} expected=$expected")
  }

  test("tfIdfKeywords: smoothed idf, minDf pruning, rank cap, term tie-break") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "apple apple banana"),
      (1L, "apple cherry cherry"),
      (2L, "banana cherry date")).toDF("doc_id", "text")
    // minDf = 2 prunes "date" (df 1); N = 3
    val res = Retrieval.tfIdfKeywords(corpus, "doc_id", "text",
      k = 2, minDf = 2).collect()
    assert(!res.map(_.getString(1)).contains("date"))
    assert(res.groupBy(_.getLong(0)).values.forall(_.length <= 2))
    // doc 0: apple tf=2 df=2 score=2·(ln(4/3)+1); banana tf=1 df=2
    val d0 = res.filter(_.getLong(0) == 0L).sortBy(_.getInt(5))
    assert(d0.map(_.getString(1)).toSeq == Seq("apple", "banana"))
    val expected = BigDecimal(2.0 * (math.log(4.0 / 3.0) + 1.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(d0(0).getDouble(4) == expected, d0(0).toString)
    // doc 2: banana and cherry tie (tf=1, df=2) → term asc breaks it
    val d2 = res.filter(_.getLong(0) == 2L).sortBy(_.getInt(5))
    assert(d2.map(_.getString(1)).toSeq == Seq("banana", "cherry"))
    // guards
    intercept[IllegalArgumentException] {
      Retrieval.tfIdfKeywords(corpus, "doc_id", "text", k = 0)
    }
    intercept[IllegalArgumentException] {
      Retrieval.tfIdfKeywords(corpus, "doc_id", "text", k = 1, minDf = 0)
    }
  }

  test("gopher rule flags fire on the documented boundaries") {
    import spark.implicits._
    val fifty = (1 to 50).map(_ => "the").mkString(" ")
    val rows = Seq(
      (1L, fifty), // exactly 50 words of mean length 3: passes all
      (2L, "short doc"), // fails words + stopwords
      (3L, fifty + " ####################"), // 20 '#' → symbol ratio fails
      (4L, (1 to 50).map(_ => "1234").mkString(" "))) // no alpha, no stopwords
      .toDF("doc_id", "text")
    val f = TextStats.withGopherFlags(rows, "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(f(1L).getAs[Boolean]("pass_gopher"))
    assert(f(1L).getAs[Double]("mean_word_len") == 3.0) // inclusive bound
    assert(!f(2L).getAs[Boolean]("rule_words"))
    assert(!f(2L).getAs[Boolean]("pass_gopher"))
    assert(!f(3L).getAs[Boolean]("rule_symbols"))
    assert(f(3L).getAs[Boolean]("rule_alpha")) // 50/51 ≥ 0.8
    assert(!f(4L).getAs[Boolean]("rule_alpha"))
    assert(!f(4L).getAs[Boolean]("rule_stopwords"))
    assert(f(4L).getAs[Boolean]("rule_words")) // 50 words is in range
  }

  test("capPerKey: cap binds per key, score mode keeps best, under-cap passes whole") {
    import spark.implicits._
    val rows = Seq(
      ("a", 1L, 0.1), ("a", 2L, 0.9), ("a", 3L, 0.5),
      ("b", 7L, 0.2))
      .toDF("dom", "id", "score")
    val md5Kept = graft.etl.Sampling.capPerKey(rows, "dom", "id", 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(md5Kept.count(_._1 == "a") == 2)
    assert(md5Kept.count(_._1 == "b") == 1) // under cap: intact
    val best = graft.etl.Sampling.capPerKey(rows, "dom", "id", 2,
        scoreCol = Some("score"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(best == Set(("a", 2L), ("a", 3L), ("b", 7L))) // top scores kept
    intercept[IllegalArgumentException] {
      graft.etl.Sampling.capPerKey(rows, "dom", "id", 0)
    }
  }

  test("URL canonicalization: exact rule-by-rule expectations") {
    import spark.implicits._
    val rows = Seq(
      (1L, "HTTP://WWW.Site.COM:80/Path/X?utm_source=a&id=7&fbclid=z#frag"),
      (2L, "HTTPS://Host.org:443/a"),
      (3L, "http://h.com/p?a=1&utm_x=2&b=3"), // middle param out, rest intact
      (4L, "http://h.com/p?utm_x=2"),         // whole query gone, no dangling ?
      (5L, "http://h.com:8080/p"),            // non-default port KEPT
      (6L, "not a url"),
      (7L, "http://CaSe.com/KeepCase/PATH"))  // path case preserved
      .toDF("doc_id", "url")
    val got = rows.select(col("doc_id"),
        graft.ext.TextStats.normalizeUrl(col("url")).as("n"),
        graft.ext.TextStats.urlDomain(col("url")).as("d"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got(1L)._1 == "http://www.site.com/Path/X?id=7")
    assert(got(1L)._2 == "site.com") // www. dropped in the site key
    assert(got(2L)._1 == "https://host.org/a")
    assert(got(3L)._1 == "http://h.com/p?a=1&b=3")
    assert(got(4L)._1 == "http://h.com/p")
    assert(got(5L)._1 == "http://h.com:8080/p")
    assert(got(6L)._1 == "not a url" && got(6L)._2 == null)
    assert(got(7L)._1 == "http://case.com/KeepCase/PATH")
  }

  test("band index: serves == ad-hoc; CDC update fixes exactly the changed docs") {
    import spark.implicits._
    val corpus = docs.select("doc_id", "text").limit(50).cache()
    val idir = java.nio.file.Files.createTempDirectory("bandidx").toString + "/idx"
    graft.ext.Dedup.writeBandIndex(corpus, "text", "doc_id", idir)
    val arrivals = corpus.where(col("doc_id") < 5)
      .select((col("doc_id") + 90000).as("doc_id"), col("text"))
    def grab(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val adHoc = grab(graft.ext.Dedup.minhashMatches(
      arrivals, corpus, "doc_id", "text"))
    val served = grab(graft.ext.Dedup.minhashMatchesIndexed(
      idir, arrivals, "doc_id", "text"))
    assert(served == adHoc)
    assert((0 until 5).forall(i => served.contains((i + 90000L, i.toLong, 1.0))))
    // CDC: delete doc 0, insert a copy of doc 1 under a new id
    val changes = corpus.where(col("doc_id") === 0L)
      .select(col("doc_id"), col("text"), lit(1L).as("seq"), lit("d").as("op"))
      .unionByName(corpus.where(col("doc_id") === 1L)
        .select(lit(777L).as("doc_id"), col("text"),
          lit(1L).as("seq"), lit("u").as("op")))
    val touched = graft.ext.Dedup.updateBandIndex(
      idir, changes, "text", "doc_id")
    assert(touched.nonEmpty)
    val after = grab(graft.ext.Dedup.minhashMatchesIndexed(
      idir, arrivals, "doc_id", "text"))
    assert(!after.exists(_._2 == 0L))             // deleted doc gone
    assert(after.contains((90001L, 777L, 1.0)))   // insert now matches
    assert(after.contains((90001L, 1L, 1.0)))     // original still there
    intercept[IllegalArgumentException] {
      val plain = java.nio.file.Files.createTempDirectory("noidx").toString + "/p"
      corpus.write.parquet(plain)
      graft.ext.Dedup.minhashMatchesIndexed(plain, arrivals, "doc_id", "text")
    }
  }

  test("ivf layout marker: centroids persist bit-exactly; mismatched maintenance raises") {
    import spark.implicits._
    val rnd = new java.util.Random(7L)
    val rows = (0 until 60).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq))
    val emb = rows.toDF("vec_id", "embedding")
    val S = graft.ext.Similarity
    val cents = S.kmeansCentroids(emb, "vec_id", "embedding", 4, iters = 1)
    val idir = java.nio.file.Files.createTempDirectory("ivflay").toString + "/idx"
    S.writeIvfIndex(emb, "vec_id", "embedding", cents, idir)
    // the decimal round trip reproduces the exact doubles
    val back = S.ivfIndexCentroids(idir, spark)
    assert(back.length == cents.length &&
      back.indices.forall(i => java.util.Arrays.equals(back(i), cents(i))))
    // maintenance under DIFFERENT centroids is refused loudly — the
    // silent cell-corruption class the marker closes
    val drifted = cents.map(_.map(_ + 1e-9))
    val changes = Seq((0L, rows.head._2, 1L, "u"))
      .toDF("vec_id", "embedding", "seq", "op")
    val ex = intercept[IllegalArgumentException] {
      S.updateIvfIndex(idir, changes, "vec_id", "embedding", drifted)
    }
    assert(ex.getMessage.contains("_graft_ivf_layout"))
    // matching centroids still maintain
    assert(S.updateIvfIndex(idir, changes, "vec_id", "embedding", cents)
      .nonEmpty)
  }

  test("ivfadc: residual codes lift recall over raw-code ivfpq on clustered data") {
    import spark.implicits._
    // deterministic 8-center Gaussian mixture — the regime where the
    // coarse quantizer explains structure and residual codes only
    // have to describe local offsets
    val rnd = new java.util.Random(42L)
    val dim = 16
    val centers = Array.fill(8, dim)(rnd.nextGaussian())
    val rows = (0 until 300).map { i =>
      val c = centers(i % 8)
      (i.toLong,
        Array.tabulate(dim)(j => (c(j) + 0.2 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding").cache()
    val queries = emb.where(col("vec_id") % 29 === 1).cache()
    val S = graft.ext.Similarity
    val cents = S.kmeansCentroids(emb, "vec_id", "embedding", 8, iters = 2)
    val books = S.pqCodebooks(emb, "vec_id", "embedding", dim, m = 4,
      ksub = 8, iters = 2)
    val rbooks = S.pqResidualBooks(emb, "vec_id", "embedding", cents,
      m = 4, ksub = 8, iters = 2)
    val truth = S.bruteTopK(queries, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
    def recall(run: org.apache.spark.sql.DataFrame): Double =
      graft.ext.Retrieval.rankingMetrics(run, truth,
          "query_id", "neighbor_id", "rank", 5)
        .agg(avg(col("recall_at_5"))).head().getDouble(0)
    val raw = recall(S.ivfPqTopK(queries, emb, "vec_id", "embedding", 5,
      cents, 2, books))
    val res = recall(S.ivfPqResidualTopK(queries, emb, "vec_id", "embedding",
      5, cents, 2, rbooks))
    // measured on this seeded fixture: ivfadc 0.309 vs ivfpq 0.127 —
    // the residual encoding more than doubles recall at the identical
    // (cells, nprobe, m, ksub) budget; floors leave margin
    assert(res - raw >= 0.15, f"ivfadc=$res%.3f ivfpq=$raw%.3f")
    assert(res >= 0.3, f"ivfadc recall too low: $res%.3f")
    // structural: dense ranks 1..5 per query, never self
    val out = S.ivfPqResidualTopK(queries, emb, "vec_id", "embedding", 5,
      cents, 8, rbooks).collect()
    val byQ = out.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(3)).sorted.toSeq == (1 to 5))
      rs.foreach(r => assert(r.getLong(0) != r.getLong(1)))
    }
  }

  test("filterFunnel: cumulative stages, each filter bites exactly its victims") {
    import spark.implicits._
    val sent = "the quick brown fox and the lazy dog move with care."
    val good = Array.fill(5)(sent).mkString("\n")
    val rows = Seq(
      (1L, good),                        // passes all
      (2L, good),                        // exact copy of 1: dies at unique
      (3L, good.replace("move", "xx")),  // distinct survivor
      (4L, good + "\nthe contraband cargo sails down the misty river tonight."),
      (5L, "short doc"),                 // dies at gopher
      (6L, (1 to 20).map(_ => "the word and").mkString(" "))) // gopher ok, no sentences
      .toDF("doc_id", "text")
    val got = TextStats.filterFunnel(rows, "text", Seq("contraband"))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got("raw") == 6L)
    assert(got("gopher") == 5L)     // doc 5 out
    assert(got("c4") == 4L)         // doc 6 out (no terminal punctuation)
    assert(got("blocklist") == 3L)  // doc 4 out
    assert(got("unique") == 2L)     // docs {1,2} collapse, 3 distinct
  }

  test("HTML extraction: blocks stripped, entities decoded, words never glued") {
    import spark.implicits._
    val rows = Seq(
      (1L, "<p>alpha</p><p>beta</p>"),            // tags become spaces
      (2L, "<script>var a = 1 < 2;</script>keep"), // block content removed
      (3L, "<style>b { x } </style>kept &amp;lt; stays"), // no double decode
      (4L, "<!-- multi\nline -->visible"),
      (5L, "a &lt;tag&gt; &quot;q&quot; &#39;s&#39; &nbsp;end"),
      (6L, "plain text unchanged"),
      (7L, "<script src=x>leaks</p>"))             // unclosed: tag strips, body leaks
      .toDF("doc_id", "text")
    val got = graft.ext.TextStats.withHtmlText(rows, "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[String]("text_html") == "alpha beta")
    assert(got(2L).getAs[String]("text_html") == "keep")
    assert(got(3L).getAs[String]("text_html") == "kept &lt; stays")
    assert(got(4L).getAs[String]("text_html") == "visible")
    assert(got(5L).getAs[String]("text_html") == "a <tag> \"q\" 's' end")
    assert(got(6L).getAs[String]("text_html") == "plain text unchanged")
    assert(!got(6L).getAs[Boolean]("had_markup"))
    assert(got(7L).getAs[String]("text_html") == "leaks")
    assert(got(7L).getAs[Boolean]("had_markup"))
  }

  test("diverseSelect: farthest-point greedy picks spread, not proximity") {
    import spark.implicits._
    val cents = Array(Array(1.0, 0.0), Array(-1.0, 0.0))
    // cell 0: id2 nearly duplicates id1; id3 is the farthest direction;
    // id4 sits between. Greedy from min-id must pick 1, 3, 4 — a
    // volume cap (clusterBalance) would have kept the near-duplicate.
    val rows = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.99f, 0.01f)),
      (3L, Seq(0.6f, 0.8f)), (4L, Seq(0.8f, 0.6f)),
      (10L, Seq(-1.0f, 0.0f)), (11L, Seq(-0.6f, 0.8f)))
      .toDF("vec_id", "embedding")
    val got = graft.ext.Selection.diverseSelect(
        rows, "vec_id", "embedding", cents, picksPerCell = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got((0, 1)) == 1L) // pick 1 = min id
    assert(got((0, 2)) == 3L) // farthest from 1
    assert(got((0, 3)) == 4L) // 0.04 from 3 beats the near-dup's 5e-5
    assert(got((1, 1)) == 10L)
    assert(got((1, 2)) == 11L)
    assert(!got.contains((1, 3))) // cell exhausted: 2 picks only
    intercept[IllegalArgumentException] {
      graft.ext.Selection.diverseSelect(rows, "vec_id", "embedding",
        cents, picksPerCell = 5, candCap = 3)
    }
  }

  test("tokenizer fertility: exact hand-computed triple per group") {
    import spark.implicits._
    // "He He" = 48 65 20 48 65; merge (48,65) -> [48▁65, 20, 48▁65]
    // "你"    = E4 BD A0 (no merge applies) -> 3 base symbols
    val rows = Seq(("en", 1L, "He He"), ("zh", 2L, "你"))
      .toDF("lang", "doc_id", "text")
    val f = TextStats.tokenizerFertility(rows, "text", "lang",
        Seq(("48", "65")))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(f("en").getAs[Long]("total_words") == 2L)
    assert(f("en").getAs[Long]("total_symbols") == 3L)
    assert(f("en").getAs[Long]("total_bytes") == 5L)
    assert(f("en").getAs[Long]("base_symbols") == 1L)
    assert(f("en").getAs[Double]("fertility") == 1.5)
    assert(f("en").getAs[Double]("bytes_per_symbol") == 1.666667)
    assert(f("en").getAs[Double]("unmerged_frac") == 0.333333)
    assert(f("zh").getAs[Long]("total_symbols") == 3L)
    assert(f("zh").getAs[Double]("fertility") == 3.0)
    assert(f("zh").getAs[Double]("unmerged_frac") == 1.0) // zero coverage
  }

  test("blocklist flags: token-exact words, substring phrases, case-fold, per-occurrence") {
    import spark.implicits._
    val rows = Seq(
      (1L, "clean prose with nothing at all blocked"),
      (2L, "bad BAD bad"),                 // word ×3 across cases
      (3L, "a badge is not a bad word"),   // word must NOT match inside badge
      (4L, "foo bar then foo bar again"),  // phrase ×2
      (5L, "xfoo barx"))                   // phrase matches as substring
      .toDF("doc_id", "text")
    val f = TextStats.withBlocklistFlags(
        rows, "text", Seq("Bad ", "bad", "foo bar")) // trim+dedup entries
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(f(1L).getAs[Boolean]("pass_blocklist"))
    assert(f(2L).getAs[Int]("n_blocked_words") == 3)
    assert(!f(2L).getAs[Boolean]("pass_blocklist"))
    assert(f(3L).getAs[Int]("n_blocked_words") == 1) // only the bare token
    assert(f(4L).getAs[Int]("n_blocked_phrases") == 2)
    assert(f(5L).getAs[Int]("n_blocked_phrases") == 1)
    assert(!f(5L).getAs[Boolean]("pass_blocklist"))
    intercept[IllegalArgumentException] {
      TextStats.withBlocklistFlags(rows, "text", Seq("  ", ""))
    }
  }

  test("clusterBalance caps each cell, keeps best-by-score or deterministic md5 sample") {
    import spark.implicits._
    // two well-separated centroids on the x axis; 8 vectors per side
    val cents = Array(Array(1.0, 0.0), Array(-1.0, 0.0))
    val rows = (0 until 8).map(i => (i.toLong, Seq(1.0f, 0.01f * i), i * 1.0)) ++
      (0 until 8).map(i => ((100 + i).toLong, Seq(-1.0f, 0.01f * i), i * 1.0))
    val df = rows.toDF("vec_id", "embedding", "score")
    val bal = graft.ext.Selection.clusterBalance(
      df, "vec_id", "embedding", cents, perCellCap = 3)
    val byCell = bal.collect().groupBy(_.getInt(1))
    assert(byCell.keySet == Set(0, 1))
    byCell.values.foreach { cell =>
      assert(cell.length == 3)
      assert(cell.map(_.getInt(2)).sorted.toSeq == Seq(1, 2, 3)) // dense ranks
    }
    // deterministic: re-run keeps the identical ids
    val again = graft.ext.Selection.clusterBalance(
      df, "vec_id", "embedding", cents, perCellCap = 3)
    assert(bal.collect().map(_.getLong(0)).sorted.sameElements(
      again.collect().map(_.getLong(0)).sorted))
    // score mode keeps the TOP-scored rows of each cell
    val best = graft.ext.Selection.clusterBalance(
        df, "vec_id", "embedding", cents, perCellCap = 2,
        scoreCol = Some("score"))
      .collect().map(_.getLong(0)).toSet
    assert(best == Set(6L, 7L, 106L, 107L), best)
    intercept[IllegalArgumentException] {
      graft.ext.Selection.clusterBalance(df, "vec_id", "embedding", cents, 0)
    }
  }

  test("C4 rules: line retention and page disposal fire per-rule") {
    import spark.implicits._
    val good = "one two three four five six.\nseven eight nine ten eleven!" +
      "\nalpha beta gamma delta epsilon?"
    val rows = Seq(
      (1L, good), // 3 kept lines, 3 sentences → passes
      (2L, good + "\nfour words only here"), // no terminal punct → line drops, page passes
      (3L, good + "\nshort line."), // < 5 words → drops, page passes
      (4L, good + "\nenable Javascript to continue reading please."), // js line drops
      (5L, good + "\nlorem ipsum dolor sit amet."), // page fails
      (6L, good + "\nif (x) { return y; }"), // brace page fails
      (7L, "one two three four five six.\nseven eight nine ten eleven!"), // 2 sentences
      (8L, "no punctuation at all in this text")) // nothing kept
      .toDF("doc_id", "text")
    val f = TextStats.withC4Flags(rows, "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(f(1L).getAs[Boolean]("pass_c4") && f(1L).getAs[Int]("n_kept") == 3)
    for (id <- Seq(2L, 3L, 4L)) {
      assert(f(id).getAs[Int]("n_kept") == 3, s"doc $id kept wrong lines")
      assert(f(id).getAs[Boolean]("pass_c4"), s"doc $id should pass")
      assert(f(id).getAs[String]("text_c4") == good, s"doc $id rebuilt text")
    }
    assert(f(5L).getAs[Boolean]("has_lorem") && !f(5L).getAs[Boolean]("pass_c4"))
    // the lorem line itself survives the LINE rule (5 words, '.') —
    // disposal is the PAGE rule
    assert(f(5L).getAs[Int]("n_kept") == 4)
    assert(f(6L).getAs[Boolean]("has_brace") && !f(6L).getAs[Boolean]("pass_c4"))
    assert(f(7L).getAs[Int]("n_sentences") == 2 && !f(7L).getAs[Boolean]("pass_c4"))
    assert(f(8L).getAs[Int]("n_kept") == 0 &&
      f(8L).getAs[String]("text_c4") == "" && !f(8L).getAs[Boolean]("pass_c4"))
  }

  test("repetition flags: dup lines, dup-line chars and top-gram coverage computed exactly") {
    import spark.implicits._
    val varied = (1 to 40).map(i => s"tok$i").mkString(" ")
    val rows = Seq(
      // 4 lines, 2 distinct ("aa bb" ×3 + "cc dd ee"): dup_line_frac = 2/4,
      // dup chars = 2·5 / (3·5 + 8) = 10/23
      (1L, "aa bb\naa bb\naa bb\ncc dd ee"),
      // one line, no repeated grams
      (2L, varied),
      // "spam ham" 2-gram dominates: top2 = 10·8 / len(text)
      (3L, (1 to 10).map(_ => "spam ham").mkString(" ")))
      .toDF("doc_id", "text")
    val f = TextStats.withRepetitionFlags(rows, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(f(1L).getAs[Int]("n_lines") == 4)
    assert(f(1L).getAs[Double]("dup_line_frac") == 0.5)
    assert(math.abs(f(1L).getAs[Double]("dup_line_char_frac") - 10.0 / 23.0) < 1e-6)
    assert(!f(1L).getAs[Boolean]("rule_dup_lines"))
    assert(!f(1L).getAs[Boolean]("pass_repetition"))
    assert(f(2L).getAs[Double]("dup_line_frac") == 0.0)
    assert(f(2L).getAs[Boolean]("pass_repetition"))
    // doc 3: text len = 10·8 + 9 = 89; top 2-gram is "ham spam"(9) or
    // "spam ham"(10) → count 10, len 8 → 80/89
    val top2 = f(3L).getAs[Double]("top_2gram_char_frac")
    assert(math.abs(top2 - 80.0 / 89.0) < 1e-6)
    assert(!f(3L).getAs[Boolean]("rule_top2"))
    assert(!f(3L).getAs[Boolean]("pass_repetition"))
    // ties broken lexicographically: doc 3's top 3-gram among equal-count
    // candidates is the lexicographically smallest
    assert(f(3L).getAs[Double]("top_3gram_char_frac") > 0.0)
  }

  test("vocab coverage: top-k cut is deterministic and fractions are exact") {
    import spark.implicits._
    val d = Seq(
      ("en", "aa aa aa bb bb cc"),   // aa:3 bb:2 cc:1
      ("fr", "aa bb dd dd"))         // corpus: aa:4 bb:3 dd:2 cc:1
      .toDF("lang", "text")
    // vocab size 2 -> {aa, bb}
    val cov = TextStats.vocabCoverage(d, "text", "lang", 2).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(cov("en") == ((6L, 5L, math.rint(5.0 / 6.0 * 1e6) / 1e6)))
    assert(cov("fr") == ((4L, 2L, 0.5)))
    // ties at the cut resolve lexicographically: cc vs dd at same count
    val one = TextStats.vocabCoverage(d, "text", "lang", 3).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    // vocab {aa, bb, dd} (dd:2 beats cc:1)
    assert(one("fr") == 4L)
    assert(one("en") == 5L)
  }

  test("DSIR weights rank target-like raw documents above background") {
    import spark.implicits._
    val rows = Seq(
      (0L, "alpha beta gamma", true),
      (1L, "alpha beta gamma", true),
      (2L, "delta epsilon zeta", false),
      (3L, "alpha beta gamma", false), // target-like text in the raw slice
      (4L, "delta epsilon zeta", false))
      .toDF("doc_id", "text", "tgt")
    val w = Selection.dsirWeights(rows, "text", "doc_id", col("tgt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byId = w.map(r => r._1 -> r._3).toMap
    assert(byId(3L) > byId(4L), byId.toString)
    assert(byId(0L) == byId(3L)) // same text → same weight
    assert(w.forall(_._2 == 3L)) // n_tokens rides through
    // hand-check doc 3: three buckets, each lr = ln(3/262) − ln(4/271)
    val lr = math.log(3.0 / 262.0) - math.log(4.0 / 271.0)
    val expected = BigDecimal(3 * lr)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(byId(3L) - expected) < 1e-9,
      s"weight=${byId(3L)} expected=$expected")
  }

  test("BM25 against a materialized index equals the ad-hoc form") {
    val corpus = docs.select("doc_id", "text")
    val queries = corpus.where(col("doc_id") < 3)
    val adhoc = Retrieval.bm25TopK(queries, corpus, "doc_id", "text", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    // write the index like a production build would, read it back,
    // and serve the same query batch from parquet only
    val dir = java.nio.file.Files.createTempDirectory("bm25_idx").toString
    val built = Retrieval.buildBm25Index(corpus, "doc_id", "text")
    built.postings.write.mode("overwrite").parquet(s"$dir/postings")
    built.docLens.write.mode("overwrite").parquet(s"$dir/doclens")
    val stored = Retrieval.Bm25Index(
      spark.read.parquet(s"$dir/postings"),
      spark.read.parquet(s"$dir/doclens"))
    // query batch as a local relation (the realistic serving shape:
    // queries arrive from outside, not from the corpus files)
    import spark.implicits._
    val localQueries = queries.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      .toDF("doc_id", "text")
    val indexed = Retrieval.bm25TopKWith(stored, localQueries,
        "doc_id", "text", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(indexed == adhoc,
      s"diff: ${(indexed diff adhoc) ++ (adhoc diff indexed)}")
    // the served plan never touches the corpus: every file scan reads
    // the index parquet, not the documents fixture
    val plan = Retrieval.bm25TopKWith(stored, localQueries,
        "doc_id", "text", 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"), plan.take(400))
    assert(plan.contains("postings"), plan.take(400))
  }

  test("RRF fusion puts the both-lists item first; single-list items fold in") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "apple banana cherry", Array(1f, 0f, 0f)),
      (10L, "apple banana cherry", Array(1f, 0f, 0f)), // copy of 0: tops both lists
      (2L, "apple banana plum", Array(0f, 1f, 0f)),
      (3L, "quince yak walrus", Array(0.9f, 0.1f, 0f)) // dense-only candidate
    ).toDF("doc_id", "text", "embedding")
    val q = corpus.where(col("doc_id") === 0)
    val sparse = Retrieval.bm25TopK(q.select("doc_id", "text"),
      corpus.select("doc_id", "text"), "doc_id", "text", 3)
    val dense = Similarity.bruteTopK(
        q.select(col("doc_id").as("vec_id"), col("embedding")),
        corpus.select(col("doc_id").as("vec_id"), col("embedding")),
        "vec_id", "embedding", 3)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    // dense k=2 keeps the orthogonal doc 2 out of the dense list:
    // dense = {10 -> 1, 3 -> 2}; sparse = {0 -> 1, 10 -> 2, 2 -> 3}
    val fused = Retrieval.rrfFuse(sparse.select("query_id", "doc_id", "rank"),
      dense.where(col("rank") <= 2), 4).orderBy("rank").collect()
    // 10 carries sparse rank 2 (id tiebreak behind the self-hit) AND
    // dense rank 1 -> 1/62 + 1/61 beats the self-hit's sparse-only 1/61
    assert(fused(0).getLong(1) == 10L, fused.mkString(";"))
    assert(fused(1).getLong(1) == 0L, fused.mkString(";"))
    // dense-only doc 3 folds in with exactly its dense contribution
    val d3 = fused.find(_.getLong(1) == 3L).get
    val expect3 = BigDecimal(1.0 / 62.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(d3.getDouble(2) == expect3, s"$d3 vs $expect3")
  }

  test("rankingMetrics computes hand-checked recall/precision/RR/nDCG") {
    // q1: truth {1,2,3}; run ranks [1(hit), 9, 2(hit)] at k=3
    //   recall 2/3, precision 2/3, rr 1 (first hit at rank 1)
    //   dcg = 1/log2(2) + 1/log2(4) = 1.5; idcg(3 rel, k=3)
    //       = 1 + 1/log2(3) + 1/2 — ndcg = 1.5/idcg
    // q2: truth {5}; run has no hits — all zeros, n_rel 1
    // q3: in truth only (no results) — zeros
    // q9: in results only — must be ABSENT from output
    val results = Seq(
      (1L, 1L, 1), (1L, 9L, 2), (1L, 2L, 3), (1L, 3L, 4), // rank 4 > k
      (2L, 7L, 1), (2L, 8L, 2),
      (9L, 1L, 1)).toDF("query_id", "doc_id", "rank")
    val truth = Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 2L), // dup row
      (2L, 5L), (3L, 4L)).toDF("query_id", "doc_id")
    val m = Retrieval.rankingMetrics(results, truth,
        "query_id", "doc_id", "rank", k = 3)
      .orderBy("query_id").collect()
    assert(m.length == 3, m.mkString(";"))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val q1 = m(0)
    assert(q1.getLong(1) == 3 && q1.getLong(2) == 2) // n_rel, n_hit
    assert(q1.getDouble(3) == r6(2.0 / 3.0), q1.toString) // recall
    assert(q1.getDouble(4) == r6(2.0 / 3.0)) // precision
    assert(q1.getDouble(5) == 1.0) // rr
    val dcg = 1.0 / (math.log(2) / math.log(2)) + 1.0 / (math.log(4) / math.log(2))
    val idcg = 1.0 + 1.0 / (math.log(3) / math.log(2)) + 0.5
    assert(q1.getDouble(6) == r6(dcg / idcg), s"${q1.getDouble(6)} vs ${dcg / idcg}")
    val q2 = m(1)
    assert(q2.getLong(1) == 1 && q2.getLong(2) == 0 &&
      q2.getDouble(3) == 0.0 && q2.getDouble(5) == 0.0 && q2.getDouble(6) == 0.0)
    val q3 = m(2)
    assert(q3.getLong(0) == 3L && q3.getLong(2) == 0)
    // summary: mean of per-query columns, mrr = mean rr
    val s0 = Retrieval.rankingSummary(results, truth,
      "query_id", "doc_id", "rank", k = 3).head()
    assert(s0.getLong(0) == 3)
    assert(s0.getDouble(3) == r6((1.0 + 0.0 + 0.0) / 3.0)) // mrr
  }

  test("semantic dedup drops planted exact copies and keeps the rest") {
    val base = emb.select("vec_id", "embedding")
    val planted = base.union(base.where(col("vec_id") < 5)
      .select((col("vec_id") + 7000).as("vec_id"), col("embedding")))
    val cents = Similarity.kmeansCentroids(base, "vec_id", "embedding",
      8, iters = 1)
    val kept = Dedup.semanticDedup(planted, "vec_id", "embedding",
      cents, threshold = 0.99)
    val ids = kept.collect().map(_.getLong(0)).toSet
    assert(ids.size == base.count(), s"${ids.size}")
    assert((0 until 5).forall(i => ids.contains(i.toLong)))
    assert((0 until 5).forall(i => !ids.contains(i + 7000L)))
    // every kept row carries a valid cell id
    val cells = kept.collect().map(_.getInt(1)).toSet
    assert(cells.forall(c => c >= 0 && c < 8))
  }

  test("hard negatives exclude positives and preserve retrieval order") {
    val d = docs.select("doc_id", "text")
    val queries = d.where(col("doc_id") < 3)
    val pos = queries.select(col("doc_id").as("query_id"),
      col("doc_id").as("doc_id"))
    val negs = Retrieval.hardNegatives(queries, d, pos, "doc_id", "text",
      nNeg = 3, depth = 10).collect()
    // the positive (the query itself — BM25 rank 1) never leaks
    assert(negs.forall(r => r.getLong(0) != r.getLong(1)))
    // per query: exactly the retrieval order with positives skipped
    val full = Retrieval.bm25TopK(queries, d, "doc_id", "text", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      .groupBy(_._1)
    negs.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val expect = full(q).sortBy(_._3).map(_._2).filter(_ != q).take(3).toSeq
      val got = rows.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq
      assert(got == expect, s"q=$q: $got vs $expect")
      assert(rows.map(_.getInt(3)).sorted.toSeq == Seq(1, 2, 3))
    }
  }

  test("corpus datasheet: planted duplicates move dup_rate by exactly their share") {
    import graft.ops.ExtQueries
    val dir = "/root/testdata/sf0.001"
    val base = graft.SparkEntry.queries("q_corpus_datasheet")(spark, dir).head()
    assert(base.getLong(0) > 0 && base.getLong(1) > 0)
    val baseDup = base.getDouble(4)
    // duplicate-free fixture slice: dup_rate 0 means distinct hashes
    // equal docs; planting k copies of one text must raise it to
    // exactly k/(n+k) (computed on the same rounded contract)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val n = docs.count()
    val planted = docs.union(docs.limit(3)
      .withColumn("doc_id", col("doc_id") + 100000))
    val t = planted.select(
      size(graft.ml.Featurize.tokensCol(col("text"))).cast("long").as("tok"),
      md5(col("text")).as("h"))
    val got = t.agg(
      round(lit(1.0) - countDistinct(col("h")).cast("double")
        / count(lit(1)).cast("double"), 6)).head().getDouble(0)
    val expect = BigDecimal(1.0 - n.toDouble / (n + 3))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(got - expect) < 2e-6, s"$got vs $expect (base $baseDup)")
  }

  test("partitioned IVF layout serves the same answers as the in-memory probe path") {
    val e = emb.select("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", 8, iters = 1)
    val idir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    Similarity.writeIvfIndex(e, "vec_id", "embedding", cents, idir)
    val queries = e.where(col("vec_id") < 5)
    val fromDisk = Similarity.ivfPartitionedTopK(idir, queries,
        "vec_id", "embedding", 5, cents, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val inMem = Similarity.ivfTopKWith(queries, e,
        "vec_id", "embedding", 5, cents, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(fromDisk == inMem)
    // the probe union is a proper subset of the cells on this fixture
    val cells = Similarity.probeCellSet(queries, "embedding", cents, nprobe = 2)
    assert(cells.length < 8 && cells.nonEmpty, cells.mkString(","))
  }

  test("IVF CDC update: post-update index equals a full rebuild; emptied cells vanish") {
    val e = emb.select("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", 8, iters = 1)
    val idir = java.nio.file.Files.createTempDirectory("ivfupd").toString
    Similarity.writeIvfIndex(e, "vec_id", "embedding", cents, idir)
    // delete two ids, move one (reversed vector -> new cell), insert one
    val del = e.where(col("vec_id").isin(11L, 23L))
      .select(col("vec_id"), col("embedding"), lit(1L).as("seq"), lit("d").as("op"))
    val upd = e.where(col("vec_id") === 7L)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"),
        lit(1L).as("seq"), lit("u").as("op"))
    val ins = e.where(col("vec_id") === 3L)
      .select((col("vec_id") + 9000).as("vec_id"),
        reverse(col("embedding")).as("embedding"),
        lit(1L).as("seq"), lit("u").as("op"))
    val changes = del.unionByName(upd).unionByName(ins)
    val touched = Similarity.updateIvfIndex(idir, changes,
      "vec_id", "embedding", cents)
    assert(touched.nonEmpty)
    // full rebuild from the CDC-applied corpus must match row-for-row
    val applied = graft.etl.Merge.applyCdc(e, changes, "vec_id")
    val rdir = java.nio.file.Files.createTempDirectory("ivfrebuild").toString
    Similarity.writeIvfIndex(applied, "vec_id", "embedding", cents, rdir)
    def content(d: String) = spark.read.parquet(d)
      .select(col("vec_id"), col("cell"), md5(col("embedding").cast("string")))
      .collect().map(_.toSeq).toSet
    assert(content(idir) == content(rdir))
    // an emptied cell's directory is deleted outright: victims are the
    // CURRENT members of the smallest live cell
    val cur = spark.read.parquet(idir).select("vec_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    val (victimCell, victims) = cur.groupBy(_._2).view.mapValues(_.map(_._1))
      .toSeq.minBy(_._2.length)
    val delAll = applied.where(col("vec_id").isin(victims.toIndexedSeq: _*))
      .select(col("vec_id"), col("embedding"), lit(2L).as("seq"), lit("d").as("op"))
    Similarity.updateIvfIndex(idir, delAll, "vec_id", "embedding", cents)
    assert(!new java.io.File(s"$idir/cell=$victimCell").exists(),
      s"cell=$victimCell should have been emptied and removed")
  }

  test("matryoshka funnel: exact when shortlist covers corpus, planted copy at rank 1") {
    val e = emb.select("vec_id", "embedding")
    val queries = e.where(col("vec_id") < 5)
    val n = e.count().toInt
    // shortlist >= corpus degenerates to exact brute-force
    val exact = Similarity.bruteTopK(queries, e, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val full = Similarity.matryoshkaTopK(queries, e, "vec_id", "embedding",
        k = 5, dims = 16, shortlist = n)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(full == exact)
    // a planted exact copy shares the prefix too: it must survive any
    // shortlist and land at rank 1
    val planted = e.union(queries.select((col("vec_id") + 5000).as("vec_id"),
      col("embedding")))
    val top = Similarity.matryoshkaTopK(queries, planted, "vec_id",
        "embedding", k = 1, dims = 8, shortlist = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 5L).foreach(q => assert(top(q) == q + 5000, s"q=$q got ${top(q)}"))
    // funnel recall at dims=16/shortlist=20 stays high on the fixture
    val funnel = Similarity.matryoshkaTopK(queries, e, "vec_id", "embedding",
        k = 5, dims = 16, shortlist = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = exact.map { case ((q, _), nb) => (q, nb) }.toSet
    val recall = (funnel intersect truth).size.toDouble / truth.size
    assert(recall >= 0.5, s"funnel recall $recall")
  }

  test("LM doc bits: target-like text scores lower, backoff is exactly uniform") {
    // target corpus: every bigram is (a,b) or (b,a); "a b a b" is
    // in-distribution, "zz qq xx" has no seen contexts at all
    val rows = Seq(
      (0L, "a b a b a b", "en"), (1L, "b a b a b a", "en"),
      (2L, "a b a b", "en"), (3L, "zz qq xx yy", "de"),
      (4L, "solo", "de"), (5L, "", "de"))
    val df = rows.toDF("doc_id", "text", "lang")
    val out = Selection.lmDocBits(df, "text", "doc_id",
        isTarget = col("lang") === "en", hexChars = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
          r.getString(3))).toMap
    // in-distribution docs beat the unseen-context doc
    assert(out(0L)._2.get < out(3L)._2.get)
    assert(out(2L)._2.get < out(3L)._2.get)
    // doc 3's contexts (zz/qq/xx) hash to buckets 25/09/93 — none
    // collide with the seen contexts (a→0c, b→92) — so every bigram
    // backs off to exactly (0+1)/(0+256): bits = log2(256) = 8
    assert(out(3L)._2.get == 8.0, s"backoff bits = ${out(3L)._2}")
    assert(out(3L)._1 == 3)
    // <2 tokens: zero bigrams, null score, null bucket
    assert(out(4L)._1 == 0 && out(4L)._2.isEmpty && out(4L)._3 == null)
    assert(out(5L)._1 == 0 && out(5L)._2.isEmpty)
    // bucketing covers the scored docs: lowest scorer is head,
    // highest is tail
    val scored = out.toSeq.filter(_._2._2.isDefined)
      .sortBy(_._2._2.get)
    assert(scored.head._2._3 == "head" && scored.last._2._3 == "tail")
  }

  test("frozen LM model: incremental scoring equals batch scoring, refit equals composition") {
    val base = docs.select("doc_id", "text", "lang").where(col("doc_id") < 400)
    val delta = docs.select("doc_id", "text", "lang").where(col("doc_id") >= 400)
    // freeze model + thresholds on the BASE corpus (the production
    // pattern: fit once, apply to every incoming batch)
    val model = Selection.lmTrain(base, "text", col("lang") === "en")
    val baseScored = Selection.lmScore(base, "text", "doc_id", model)
    val th = Selection.lmThresholds(baseScored)
    assert(th.isDefined)
    // incremental: base and delta scored separately, unioned
    val inc = Selection.lmBucket(baseScored, th)
      .union(Selection.lmBucket(
        Selection.lmScore(delta, "text", "doc_id", model), th))
    // batch: the merged corpus scored in one pass with the SAME model
    val batch = Selection.lmBucket(
      Selection.lmScore(base.union(delta), "text", "doc_id", model), th)
    assert(inc.exceptAll(batch).isEmpty && batch.exceptAll(inc).isEmpty)
    // the refit convenience is exactly the composition of the parts
    val refit = Selection.lmDocBits(docs, "text", "doc_id",
      isTarget = col("lang") === "en")
    val m2 = Selection.lmTrain(docs, "text", col("lang") === "en")
    val s2 = Selection.lmScore(docs, "text", "doc_id", m2)
    val composed = Selection.lmBucket(s2, Selection.lmThresholds(s2))
    assert(refit.exceptAll(composed).isEmpty && composed.exceptAll(refit).isEmpty)
  }

  test("approx LM thresholds bucket the corpus like the exact path") {
    val scored = Selection.lmScore(docs.select("doc_id", "text", "lang"),
      "text", "doc_id",
      Selection.lmTrain(docs, "text", col("lang") === "en"))
    val exact = Selection.lmThresholds(scored)
    val approx = Selection.lmThresholds(scored, approxAccuracy = 10000)
    assert(exact.isDefined && approx.isDefined)
    // boundary doubles from the GK sketch sit within one data point of
    // the interpolated exact terciles; the ASSIGNMENTS are the contract
    val eb = Selection.lmBucket(scored, exact)
      .select("doc_id", "ppl_bucket").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ab = Selection.lmBucket(scored, approx)
      .select("doc_id", "ppl_bucket").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val agree = eb.keys.count(k => eb(k) == ab(k)).toDouble / eb.size
    assert(agree >= 0.98,
      f"approx tercile assignments diverge: agreement=$agree%.4f " +
        s"exact=$exact approx=$approx")
  }

  test("LSH semantic dedup drops exact copies at any bucket width") {
    val base = emb.select("vec_id", "embedding")
    val planted = base.union(base.where(col("vec_id") < 5)
      .select((col("vec_id") + 7000).as("vec_id"), col("embedding")))
    // exact copies share a bucket for EVERY nBits (identical
    // projections), so the collapse guarantee is width-independent
    Seq(4, 16).foreach { bits =>
      val kept = Dedup.semanticDedupLsh(planted, "vec_id", "embedding",
        threshold = 0.99, nBits = bits)
      val ids = kept.collect().map(_.getLong(0)).toSet
      assert(ids.size == base.count(), s"nBits=$bits ${ids.size}")
      assert((0 until 5).forall(i =>
        ids.contains(i.toLong) && !ids.contains(i + 7000L)), s"nBits=$bits")
    }
  }

  test("tokenizer artifact round-trips bit-exact and rejects torn files") {
    import spark.implicits._
    val corpus = Seq(
      "new york city", "new york times", "new york",
      "san francisco bay", "san francisco").toDF("text")
    val merges = TextStats.bpeTrain(corpus, "text", merges = 3)
    val dir = java.nio.file.Files.createTempDirectory("bpe_art")
    val path = s"$dir/merges.tsv"
    Tokenizer.saveMerges(merges, path)
    assert(Tokenizer.loadMerges(path) == merges)
    // a loaded artifact tokenizes identically to the in-memory list
    val unseen = Seq("new york city limits").toDF("text")
    val fromMem = TextStats.bpeApply(unseen, "text",
      merges.map(m => (m._1, m._2))).select("bpe_symbols").head().getSeq[String](0)
    val fromFile = TextStats.bpeApply(unseen, "text",
      Tokenizer.loadMerges(path).map(m => (m._1, m._2)))
      .select("bpe_symbols").head().getSeq[String](0)
    assert(fromMem == fromFile, s"$fromMem vs $fromFile")
    // overwrite is atomic-replace: saving a shorter list fully wins
    Tokenizer.saveMerges(merges.take(1), path)
    assert(Tokenizer.loadMerges(path) == merges.take(1))
    // torn artifact (header count != lines) fails loudly
    val torn = s"$dir/torn.tsv"
    java.nio.file.Files.write(java.nio.file.Paths.get(torn),
      java.util.List.of("graft-bpe\tv1\t5", "a\tb\t3"))
    val e1 = intercept[IllegalStateException](Tokenizer.loadMerges(torn))
    assert(e1.getMessage.contains("torn"), e1.getMessage)
    // foreign file and future version both refuse
    val foreign = s"$dir/foreign.tsv"
    java.nio.file.Files.write(java.nio.file.Paths.get(foreign),
      java.util.List.of("not\ta\tmerge"))
    assert(intercept[IllegalStateException](Tokenizer.loadMerges(foreign))
      .getMessage.contains("not a graft-bpe artifact"))
    val vnext = s"$dir/vnext.tsv"
    java.nio.file.Files.write(java.nio.file.Paths.get(vnext),
      java.util.List.of("graft-bpe\tv9\t0"))
    assert(intercept[IllegalStateException](Tokenizer.loadMerges(vnext))
      .getMessage.contains("unsupported"))

    // ---- v2: specials + deterministic vocab ids ----
    val art = Tokenizer.BpeArtifact(merges, Tokenizer.DefaultSpecials)
    val v2path = s"$dir/tokenizer.v2.tsv"
    Tokenizer.saveArtifact(art, v2path)
    assert(Tokenizer.loadArtifact(v2path) == art) // bit-exact round trip
    // a v1-era consumer reads the merge section of a v2 file unchanged
    assert(Tokenizer.loadMerges(v2path) == merges)
    // positional id contract: specials 0..3 in artifact order, then
    // merge products in training order; unk resolves to its slot
    val ids = art.vocabIds
    assert(ids("<s>") == 0 && ids("</s>") == 1 && ids("<pad>") == 2 &&
      ids("<unk>") == 3, ids.toString)
    val J = TextStats.BpeJoiner
    merges.zipWithIndex.foreach { case ((l, r, _), j) =>
      assert(ids(l + J + r) == 4 + j, s"merge $j")
    }
    assert(art.unkId.contains(3))
    assert(Tokenizer.BpeArtifact(merges, Nil).unkId.isEmpty)
    // a v1 artifact loads as specials-free
    assert(Tokenizer.loadArtifact(path) ==
      Tokenizer.BpeArtifact(merges.take(1), Nil))
    // torn v2 (header promises more specials than present) refuses
    val tornV2 = s"$dir/torn_v2.tsv"
    java.nio.file.Files.write(java.nio.file.Paths.get(tornV2),
      java.util.List.of("graft-bpe\tv2\t0\t2", "#special\tbos\t<s>"))
    assert(intercept[IllegalStateException](Tokenizer.loadArtifact(tornV2))
      .getMessage.contains("torn"))
    // a merge whose LEFT symbol is literally "#special" (possible
    // from a raw corpus token) must round-trip — the section boundary
    // is the header count, not a prefix scan that would absorb it
    val trap = Tokenizer.BpeArtifact(
      ("#special", "tag", 7L) +: merges, Tokenizer.DefaultSpecials)
    val trapPath = s"$dir/trap.tsv"
    Tokenizer.saveArtifact(trap, trapPath)
    assert(Tokenizer.loadArtifact(trapPath) == trap)

    // ---- v3: byte-mode artifact records its seeder ----
    val byteMerges = TextStats.bpeTrain(corpus, "text", merges = 4,
      mode = Tokenizer.ModeBytes)
    val bArt = Tokenizer.BpeArtifact(byteMerges, Tokenizer.DefaultSpecials,
      Tokenizer.ModeBytes)
    val v3path = s"$dir/tokenizer.v3.tsv"
    Tokenizer.saveArtifact(bArt, v3path)
    val loaded3 = Tokenizer.loadArtifact(v3path)
    assert(loaded3 == bArt && loaded3.mode == Tokenizer.ModeBytes)
    // words-mode artifacts still write the v2 header BYTE-FOR-BYTE
    // (existing readers unaffected); bytes-mode writes v3
    val head2 = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(v2path)).get(0)
    val head3 = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(v3path)).get(0)
    assert(head2.startsWith("graft-bpe\tv2\t"), head2)
    assert(head3 == s"graft-bpe\tv3\t${byteMerges.size}\t4\tbytes", head3)
    // v2 load resolves to words mode; unknown mode string refuses
    assert(Tokenizer.loadArtifact(v2path).mode == Tokenizer.ModeWords)
    intercept[IllegalArgumentException](
      Tokenizer.BpeArtifact(merges, Nil, "hexish"))
    // v1-era merge consumer reads the v3 merge section unchanged
    assert(Tokenizer.loadMerges(v3path) == byteMerges)
    // ambiguous artifacts refuse loudly
    intercept[IllegalArgumentException](Tokenizer.BpeArtifact(
      merges, Seq("bos" -> "<s>", "eos" -> "<s>"))) // dup literal
    intercept[IllegalArgumentException](Tokenizer.BpeArtifact(
      merges, Seq("bad role!" -> "<s>")))
    val (l0, r0, _) = merges.head
    intercept[IllegalArgumentException](Tokenizer.BpeArtifact(
      merges, Seq("bos" -> (l0 + J + r0))).vocabIds) // special == product

    // ---- v3: bytes-pretok mode records the boundary rule ----
    val preMerges = TextStats.bpeTrain(corpus, "text", merges = 4,
      mode = Tokenizer.ModeBytesPretok)
    val pArt = Tokenizer.BpeArtifact(preMerges, Tokenizer.DefaultSpecials,
      Tokenizer.ModeBytesPretok)
    val vPre = s"$dir/tokenizer.pretok.tsv"
    Tokenizer.saveArtifact(pArt, vPre)
    val loadedP = Tokenizer.loadArtifact(vPre)
    assert(loadedP == pArt && loadedP.mode == Tokenizer.ModeBytesPretok)
    val headP = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(vPre)).get(0)
    assert(headP ==
      s"graft-bpe\tv3\t${preMerges.size}\t4\tbytes-pretok", headP)

    // ---- v4: ranked serving artifact ----
    val rArt = Tokenizer.BpeArtifact(preMerges, Tokenizer.DefaultSpecials,
      Tokenizer.ModeBytesPretok, ranked = true)
    val v4path = s"$dir/tokenizer.v4.tsv"
    Tokenizer.saveArtifact(rArt, v4path)
    val loaded4 = Tokenizer.loadArtifact(v4path)
    assert(loaded4 == rArt && loaded4.ranked) // bit-exact round trip
    val head4 = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(v4path)).get(0)
    assert(head4 ==
      s"graft-bpe\tv4\t${preMerges.size}\t4\tbytes-pretok\tranked", head4)
    // the artifact-consuming ranked apply == the merge-list path,
    // with NO re-validation or replay at serving time
    val applied = TextStats.bpeApplyRankedBytesPretok(
        corpus, "text", loaded4, "bpe_symbols")
      .select("bpe_symbols").collect().map(_.getSeq[String](0)).toSeq
    val expected = TextStats.bpeApplyRankedBytesPretok(
        corpus, "text", preMerges.map(m => (m._1, m._2)))
      .select("bpe_symbols").collect().map(_.getSeq[String](0)).toSeq
    assert(applied == expected)
    // a reordered ranked artifact (rank column vs line order) refuses
    import scala.jdk.CollectionConverters._
    val lines4 = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(v4path)).asScala.toSeq
    val swapped = lines4.take(5) ++ Seq(lines4(6), lines4(5)) ++ lines4.drop(7)
    val reordered = s"$dir/reordered.v4.tsv"
    java.nio.file.Files.write(java.nio.file.Paths.get(reordered),
      swapped.asJava)
    assert(intercept[IllegalStateException](
      Tokenizer.loadArtifact(reordered)).getMessage.contains("reordered"))
    // saving a NON-trainer-ordered list as ranked fails at save time
    intercept[IllegalArgumentException] {
      Tokenizer.saveArtifact(Tokenizer.BpeArtifact(
        Seq(("61", "62" + J + "63", 1L), ("62", "63", 1L)), Nil,
        Tokenizer.ModeBytesPretok, ranked = true), s"$dir/bad.v4.tsv")
    }
    // the ranked apply rejects artifacts of any other mode
    intercept[IllegalArgumentException] {
      TextStats.bpeApplyRankedBytesPretok(corpus, "text", bArt, "s")
    }
    // v1-era merge consumer reads the v4 merge section unchanged
    assert(Tokenizer.loadMerges(v4path) == preMerges)
  }
}

/** A local filesystem under the `renamefail://` scheme whose `rename`
  * returns `false` (without throwing) when its destination is
  * `failDest` — the silent-failure mode of HDFS and object-store
  * clients, injected into the crash-safe prefix-dir swap. */
class RenameFailFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("renamefail:///")
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean =
    if (RenameFailFileSystem.failDest.contains(dst.toUri.getPath)) false
    else super.rename(src, dst)
}

object RenameFailFileSystem {
  @volatile var failDest: Option[String] = None
}
