package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ml.Featurize

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design:
  *   - signatures/fingerprints are narrow per-row expressions (no
  *     shuffle, codegen);
  *   - candidate generation is an equi-join on LSH band keys (shuffle
  *     on a short hash string — never an all-pairs cross join);
  *   - verification (exact Jaccard / cosine) runs only on candidates.
  *
  * All hash material is md5-based, so signatures are deterministic and
  * portable across engines (DuckDB oracles use the same construction).
  */
object Dedup {

  /** k-token shingles of the text. */
  def shingles(text: Column, k: Int = 3): Column =
    Featurize.ngramsCol(Featurize.tokensCol(text), k)

  /** Train/test contamination check — the decontamination primitive a
    * training pipeline runs before every release: corpus documents
    * sharing any k-token shingle with the (small) evaluation/probe set
    * are flagged with their shingle-overlap occurrence count. The
    * probe side reduces to DISTINCT shingle hashes and broadcasts;
    * the corpus side is one narrow shingle pass into a broadcast
    * semi-style inner join — the 100 TB corpus never shuffles, and
    * only (id, hash) pairs of MATCHING shingles reach the count. The
    * count is per-occurrence (a probe phrase appearing twice in a doc
    * counts twice); `array_distinct` the shingles upstream for
    * set semantics.
    *
    * `excludeSelf` drops corpus documents whose id appears in the
    * probe set before counting (a broadcast anti-join on the small
    * side) — when probes ⊆ corpus, every probe doc trivially flags
    * itself, and the useful answer is "what ELSE is contaminated". */
  def contamination(corpus: DataFrame, probes: DataFrame, textCol: String,
                    idCol: String, k: Int = 3,
                    excludeSelf: Boolean = false): DataFrame = {
    val base =
      if (excludeSelf)
        corpus.join(broadcast(probes.select(col(idCol)).distinct()),
          Seq(idCol), "left_anti")
      else corpus
    val probeHashes = probes
      .select(explode(shingles(col(textCol), k)).as("__sh"))
      .select(md5(col("__sh")).as("__h")).distinct()
    base
      .select(col(idCol), explode(shingles(col(textCol), k)).as("__sh"))
      .select(col(idCol), md5(col("__sh")).as("__h"))
      .join(broadcast(probeHashes), Seq("__h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** MinHash signature as a single array column: string-min over hex
    * segments is a valid order statistic, and one md5 yields four
    * independent 8-hex-char (32-bit) families. Fine for ad-hoc use; the
    * scalable path is [[minhashSignatures]], whose explode+aggregate
    * form hashes each shingle exactly once (nested-lambda
    * subexpressions defeat codegen CSE, so this column form can
    * re-evaluate the md5 pass per lane). */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column = {
    val blocks = (0 until (numHashes + 3) / 4).map { b =>
      if (b == 0) transform(shingleCol, x => md5(x))
      else transform(shingleCol, x => md5(concat(lit(s"$b|"), x)))
    }
    array((0 until numHashes).map { i =>
      array_min(transform(blocks(i / 4), h => substring(h, (i % 4) * 8 + 1, 8)))
    }: _*)
  }

  /** MinHash signatures, frame form: explode shingles → md5 once per
    * (doc, shingle) in one projection → per-doc min of hex segments as
    * columns m0..m{n-1}. Partial aggregation combines map-side, so the
    * shuffle carries one row per (doc × partition) — the formulation
    * that holds at 100 TB. Docs with no shingles are dropped. */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
                        numHashes: Int = 4): DataFrame = {
    // tokens staged as their own column: the n-gram expression
    // references its token input several times, and an attribute is
    // free to re-read while a tokenizer expression is not
    val exploded = df
      .select(col(idCol), Featurize.tokensCol(col(textCol)).as("__t"))
      .select(col(idCol), explode(Featurize.ngramsCol(col("__t"), 3)).as("__sh"))
    minhashFromExploded(exploded, idCol, "__sh", numHashes)
  }

  /** [[minhashSignatures]] over an already-exploded (id, shingle)
    * frame — lets pipelines that materialize shingles once (e.g.
    * [[nearDupPairs]]) reuse them instead of re-tokenizing.
    *
    * The min is taken over the NUMERIC value of each 8-hex-char
    * segment, not the string: `min(string)` has no fixed-size mutable
    * buffer, so Spark falls back to SortAggregate — a sort of the
    * exploded (doc × shingle) frame, the largest dataset in the whole
    * dedup pipeline, on BOTH sides of the shuffle. `min(long)` keeps
    * the aggregation hash-based and the explode pipeline sort-free;
    * fixed-length lowercase hex orders identically numerically and
    * lexicographically, and the final projection restores the exact
    * hex strings, so every downstream value (band keys, oracles) is
    * bit-identical. */
  def minhashFromExploded(exploded: DataFrame, idCol: String, shCol: String,
                          numHashes: Int): DataFrame = {
    val nBlocks = (numHashes + 3) / 4
    val hashed = exploded.select(
      col(idCol) +: (0 until nBlocks).map { b =>
        (if (b == 0) md5(col(shCol))
         else md5(concat(lit(s"$b|"), col(shCol)))).as(s"__h$b")
      }: _*)
    val aggs = (0 until numHashes).map { i =>
      min(conv(substring(col(s"__h${i / 4}"), (i % 4) * 8 + 1, 8), 16, 10)
        .cast("long")).as(s"__m$i")
    }
    hashed.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol) +: (0 until numHashes).map { i =>
        lpad(lower(hex(col(s"__m$i"))), 8, "0").as(s"m$i")
      }: _*)
  }

  /** Band keys over signature columns m0..m{n-1} of a
    * [[minhashSignatures]] frame. */
  def bandKeysFromColumns(numHashes: Int, bands: Int): Column = {
    val rows = numHashes / bands
    array((0 until bands).map { b =>
      md5(concat_ws("|", (0 until rows).map(r => col(s"m${b * rows + r}")): _*))
    }: _*)
  }

  /** LSH band keys: the signature chopped into `bands` groups of
    * `rowsPerBand`, each band hashed to one key. A pair agreeing on ANY
    * band becomes a candidate. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      md5(concat_ws("|",
        slice(sig, b * rowsPerBand + 1, rowsPerBand)))
    }: _*)

  /** Exact dedup: keep the smallest id per identical text, in the
    * hash-agg + semi-join shape. The winner set is `groupBy(md5(text))
    * .agg(min(id))` — its exchange carries (32-B hash, id) computed
    * map-side, never document bodies — and winners semi-join back to
    * the corpus on the id column. A window over `md5(text)` would
    * instead push every body through a hash exchange on a key that can
    * never pre-exist in storage; here the only wide-row join key is
    * the id, which a stored corpus CAN be bucketed/partitioned on
    * (co-located semi-join ⇒ zero body movement), and when the winner
    * set is small AQE broadcasts it (no body shuffle either way).
    * Equal md5 ⟺ equal text up to the 2^-128 collision chance, the
    * standard content-dedup trade. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val winners = df
      .select(md5(col(textCol)).as("__h"), col(idCol))
      .groupBy(col("__h")).agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(winners, Seq(idCol), "left_semi")
  }

  /** Drop LSH buckets with more than `maxBucket` members before the
    * self-join. Candidate cost is Σ bucket-occupancy², so ONE
    * degenerate bucket (a boilerplate page duplicated millions of
    * times, an empty-ish shingle set) turns the join quadratic — the
    * standard production guard caps occupancy and accepts the recall
    * loss inside capped buckets (members that ALSO share a healthy
    * bucket still pair up). The occupancy count is a partial-agg on
    * the band key (narrow rows), engaged only when a cap is set. */
  private def capBuckets(banded: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) banded
    else {
      val counts = banded.groupBy("band").agg(count(lit(1)).as("__bn"))
      banded.join(counts.where(col("__bn") <= maxBucket), Seq("band"))
        .drop("__bn")
    }

  /** MinHash-LSH candidate pairs: signatures (scalable frame form) →
    * explode band keys → self-join per bucket → (idA < idB) pairs.
    * Output is linear in Σ bucket², so callers should verify +
    * threshold right after — and cap degenerate buckets via
    * `maxBucket` on corpora with heavy boilerplate. */
  def lshCandidatePairs(df: DataFrame, textCol: String, idCol: String,
                        numHashes: Int = 8, bands: Int = 4,
                        maxBucket: Int = Int.MaxValue): DataFrame = {
    val sig = minhashSignatures(df, textCol, idCol, numHashes)
      .withColumnRenamed(idCol, "id")
    val banded = capBuckets(sig.select(col("id"),
      explode(bandKeysFromColumns(numHashes, bands)).as("band")), maxBucket)
    banded.as("a").join(banded.as("b"), Seq("band"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Exact n-gram Jaccard similarity of two shingle-set columns.
    *
    * Every non-cheap subexpression occurs EXACTLY ONCE in the tree:
    * naive `inter / (|A|+|B|-inter)` references the `array_intersect`
    * twice and codegen re-evaluates per reference. A single Column has
    * no projection to stage aliases in, so this uses the HOF
    * let-binding idiom instead — wrap each value in a one-element
    * array and bind it to a lambda variable; the variable is a cheap
    * attribute reference however often the body uses it. (In a
    * DataFrame pipeline, prefer staged `withColumn` aliases — see the
    * verify step in [[nearDupPairs]].) */
  def jaccard(a: Column, b: Column): Column =
    element_at(zip_with(array(array_distinct(a)), array(array_distinct(b)),
      (da, db) =>
        element_at(transform(
          array(size(array_intersect(da, db)).cast("double")), inter =>
            element_at(transform(
              array((size(da) + size(db)).cast("double") - inter), un =>
                when(un > 0, round(inter / un, 6)).otherwise(0.0)), lit(1))),
          lit(1))), lit(1))

  /** Exact n-gram Jaccard pairs in aggregative form: explode distinct
    * shingles, equi-join on (block, shingle), count matches per pair,
    * then jaccard = inter / (|A| + |B| − inter). Each shingle is
    * hashed/compared once and the intersection is an equi-join + count
    * (map-side combinable) — the formulation that survives scale-up,
    * unlike per-pair array_intersect expressions (which codegen
    * re-evaluates per reference). `leftFilter` bounds the query side
    * (e.g. a probe set); blocking bounds the candidate space. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        blockCol: String, threshold: Double, k: Int = 3,
                        leftFilter: Column = lit(true),
                        broadcastLeft: Boolean = false): DataFrame = {
    // the per-doc shingle-set size rides along through the explode as a
    // plain int column, so |A| and |B| arrive at the pair aggregation
    // as grouping keys — no separate counts pass over the corpus and no
    // post-hoc count joins (the tokenize→ngram pipeline runs once per
    // join side instead of three times)
    val ex = df.select(col(idCol).as("__id"), col(blockCol).as("__blk"),
        Featurize.tokensCol(col(textCol)).as("__t"))
      .select(col("__id"), col("__blk"),
        array_distinct(Featurize.ngramsCol(col("__t"), k)).as("__sh"))
      .select(col("__id"), col("__blk"), size(col("__sh")).as("__n"),
        explode(col("__sh")).as("__s"))
    val exA0 = ex.where(leftFilter)
      .select(col("__id").as("id_a"), col("__blk"), col("__n").as("__na"), col("__s"))
    // With a bounded probe set, broadcasting it turns the candidate
    // join into a map-side hash probe of the (huge) exploded corpus —
    // no shuffle of the corpus shingles at all. Catalyst can't infer
    // this from parquet stats (the filter sits above an explode), so
    // the caller asserts it.
    val exA = if (broadcastLeft) broadcast(exA0) else exA0
    exA
      .join(ex.select(col("__id").as("id_b"), col("__blk"),
          col("__n").as("__nb"), col("__s")),
        Seq("__blk", "__s"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "__na", "__nb").agg(count(lit(1)).as("__inter"))
      .withColumn("jaccard", round(col("__inter").cast("double") /
        (col("__na") + col("__nb") - col("__inter")).cast("double"), 6))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash near-duplicate pairs: LSH candidates verified with exact
    * shingle Jaccard >= `threshold`. The tokenize→shingle pass runs
    * ONCE: the per-doc shingle arrays are persisted (memory-and-disk,
    * evicted LRU) and feed both the signature pipeline (via explode)
    * and the two verification joins — without the cache the corpus
    * would be re-tokenized three times.
    *
    * Cache lifecycle: with `materialize = true` (default) the verified
    * pairs — small relative to the corpus — are computed eagerly into
    * executor-local checkpoint blocks and the shingle cache is
    * RELEASED before returning, so a long-lived session running the
    * operator repeatedly never accumulates dead shingle arrays. Pass
    * `materialize = false` to get the lazy plan instead (plan audits,
    * further composition before any action); the shingle cache then
    * lives until the session's ContextCleaner collects it.
    *
    * `reliable` (with `materialize = true`) mirrors
    * [[connectedComponentsWithRounds]]: the default localCheckpoint
    * stores pairs as executor-local blocks with lineage CUT — on a real
    * cluster, losing an executor after return makes the frame
    * unrecomputable. `reliable = true` writes the pairs to the
    * configured checkpoint directory (`checkpoint()`) so they survive
    * executor loss / dynamic deallocation on long cluster runs.
    * NOTE checkpoint files are NOT deleted automatically: Spark only
    * garbage-collects them when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (off by
    * default). A recurring caller (e.g. a daily
    * [[nearDupIncremental]] loop) must either enable that conf or
    * wipe the checkpoint dir between runs, or the dir grows without
    * bound. */
  def nearDupPairs(df: DataFrame, textCol: String, idCol: String,
                   threshold: Double = 0.5,
                   numHashes: Int = 8, bands: Int = 4,
                   maxBucket: Int = Int.MaxValue,
                   materialize: Boolean = true,
                   reliable: Boolean = false): DataFrame = {
    val sh = df.select(col(idCol).as("__id"),
        Featurize.tokensCol(col(textCol)).as("__t"))
      .select(col("__id"), Featurize.ngramsCol(col("__t"), 3).as("__sh"))
      .persist()
    val sig = minhashFromExploded(
        sh.select(col("__id"), explode(col("__sh")).as("__s")),
        "__id", "__s", numHashes)
      .withColumnRenamed("__id", "id")
    val banded = capBuckets(sig.select(col("id"),
      explode(bandKeysFromColumns(numHashes, bands)).as("band")), maxBucket)
    val cands = banded.as("a").join(banded.as("b"), Seq("band"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // verify with STAGED jaccard components: a one-expression jaccard
    // would reference the distinct-arrays and the intersection more
    // than once, and codegen re-evaluates per reference — here every
    // non-cheap value is computed once under an alias
    val out = cands
      .join(sh.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "sh_a"), Seq("id_a"))
      .join(sh.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "sh_b"), Seq("id_b"))
      .withColumn("__da", array_distinct(col("sh_a")))
      .withColumn("__db", array_distinct(col("sh_b")))
      .withColumn("__inter",
        size(array_intersect(col("__da"), col("__db"))).cast("double"))
      .withColumn("__union",
        (size(col("__da")) + size(col("__db"))).cast("double") - col("__inter"))
      .withColumn("jaccard",
        when(col("__union") > 0, round(col("__inter") / col("__union"), 6))
          .otherwise(0.0))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    if (!materialize) out
    else {
      // eager: computes + stores pairs (reliable → checkpoint-dir
      // storage that survives executor loss; else executor-local).
      // reliable runs TWO jobs over the plan (the eager count, then
      // the checkpoint write) — persist the pairs across them so the
      // second job reads cached blocks instead of recomputing the
      // candidate join + jaccard verification.
      val done =
        if (reliable) {
          out.persist()
          try out.checkpoint() finally out.unpersist(false)
        } else out.localCheckpoint()
      sh.unpersist(false)
      done
    }
  }

  /** Incremental near-dup: match a NEW batch of documents against an
    * EXISTING corpus without ever self-joining the corpus — the
    * daily-increment production shape. The corpus side contributes a
    * band index (id, band) and shingle arrays (at scale both live as
    * stored tables bucketed by band / id, written once per corpus
    * build); the increment computes signatures for ITS rows only and
    * probes the index with an equi-join, so per-increment cost is
    * |new| × bucket-occupancy, not |corpus|². Pairs WITHIN the
    * increment are found by the small increment self-join; corpus-
    * internal pairs are assumed already handled by the corpus build.
    * Returns (id_a = increment id, id_b = matched id, jaccard ≥
    * threshold), with increment-internal pairs ordered id_a < id_b.
    *
    * Cache lifecycle: as in [[nearDupPairs]] — `materialize = true`
    * (default) computes the pairs eagerly and releases both shingle
    * caches before returning (a daily-increment loop must not
    * accumulate one dead corpus-shingle cache per day);
    * `materialize = false` returns the lazy plan with caller-managed
    * caches. `reliable` as in [[nearDupPairs]]: checkpoint-dir storage
    * for the materialized pairs instead of executor-local blocks —
    * including its cleanup contract (checkpoint files persist unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` or the
    * caller wipes the dir; a daily loop must do one of the two). */
  def nearDupIncremental(newDocs: DataFrame, corpus: DataFrame,
                         textCol: String, idCol: String,
                         threshold: Double = 0.5,
                         numHashes: Int = 8, bands: Int = 4,
                         maxBucket: Int = Int.MaxValue,
                         materialize: Boolean = true,
                         reliable: Boolean = false): DataFrame = {
    def shingled(df: DataFrame) = df
      .select(col(idCol).as("__id"), Featurize.tokensCol(col(textCol)).as("__t"))
      .select(col("__id"), Featurize.ngramsCol(col("__t"), 3).as("__sh"))
      .persist()
    def banded(sh: DataFrame) = {
      val sig = minhashFromExploded(
        sh.select(col("__id"), explode(col("__sh")).as("__s")),
        "__id", "__s", numHashes).withColumnRenamed("__id", "id")
      capBuckets(sig.select(col("id"),
        explode(bandKeysFromColumns(numHashes, bands)).as("band")), maxBucket)
    }
    val newSh = shingled(newDocs)
    val corpusSh = shingled(corpus)
    val newBands = banded(newSh)
    val corpusBands = banded(corpusSh)
    // increment probes the corpus index; plus the (small) increment
    // self-join — never corpus × corpus. The two candidate branches
    // verify against THEIR OWN side's shingles (a corpus-index hit
    // verifies against the corpus copy), so no id-disambiguation
    // aggregate is needed — an id reused across sides with different
    // text should be assigned a fresh id upstream.
    val crossCands = newBands.as("a").join(corpusBands.as("b"), Seq("band"))
      .where(col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    val selfCands = newBands.as("a").join(newBands.as("b"), Seq("band"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    def verified(cands: DataFrame, shB: DataFrame): DataFrame = cands
      .join(newSh.select(col("__id").as("id_a"), col("__sh").as("sh_a")), Seq("id_a"))
      .join(shB.select(col("__id").as("id_b"), col("__sh").as("sh_b")), Seq("id_b"))
      .withColumn("__da", array_distinct(col("sh_a")))
      .withColumn("__db", array_distinct(col("sh_b")))
      .withColumn("__inter",
        size(array_intersect(col("__da"), col("__db"))).cast("double"))
      .withColumn("__union",
        (size(col("__da")) + size(col("__db"))).cast("double") - col("__inter"))
      .withColumn("jaccard",
        when(col("__union") > 0, round(col("__inter") / col("__union"), 6))
          .otherwise(0.0))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    val out = verified(crossCands, corpusSh).union(verified(selfCands, newSh))
    if (!materialize) out
    else {
      // as in nearDupPairs: cache across the eager-count + write jobs
      val done =
        if (reliable) {
          out.persist()
          try out.checkpoint() finally out.unpersist(false)
        } else out.localCheckpoint()
      newSh.unpersist(false)
      corpusSh.unpersist(false)
      done
    }
  }

  /** Connected components over an undirected pair list — the step that
    * turns verified near-dup PAIRS into dedup GROUPS (keep the
    * component minimum, drop the rest). Iterative min-label
    * propagation with pointer jumping: each round every node adopts the
    * smallest of {its label, its neighbors' labels, its label's label};
    * the jump halves remaining chains, so convergence is O(log
    * diameter) rounds. Each round is one
    * equi-join + partial-aggregated groupBy on the node id — the
    * DataFrame-native formulation that scales; intermediate labels are
    * persisted and lineage is cut per round. Returns (id, component).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          reliable: Boolean = false): DataFrame =
    connectedComponentsWithRounds(pairs, maxIter, reliable)._1

  /** [[connectedComponents]] also returning the number of propagation
    * rounds executed (including the final fixpoint-confirming round) —
    * the pointer-jumping guarantee is rounds ≤ ⌈log₂ diameter⌉ + a
    * confirm, which the spec asserts on a long-chain fixture.
    *
    * `reliable = false` cuts per-round lineage with a lazy
    * localCheckpoint (executor-local blocks; one job per round —
    * right for single-app batch runs). `reliable = true` uses
    * `checkpoint()` against `spark.sparkContext.setCheckpointDir`
    * storage instead: blocks survive executor loss on a long cluster
    * run, at the price of an eager write job per round. Cleanup as in
    * [[nearDupPairs]]: per-round checkpoint files persist unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` or the
    * caller wipes the checkpoint dir after the run. */
  def connectedComponentsWithRounds(pairs: DataFrame, maxIter: Int = 20,
                                    reliable: Boolean = false): (DataFrame, Int) = {
    def cut(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint(false)
    val edges = pairs
      .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
      .union(pairs
        .select(col("id_b").cast("long").as("src"), col("id_a").cast("long").as("dst")))
      .distinct().persist()
    // seed with the closed-neighborhood min — diameter-1 components
    // (plain duplicate pairs, the common case) are final immediately,
    // so the loop below only confirms. Small per-round shuffles are
    // right-sized by AQE; the floor cost is the per-round JOB, which is
    // why convergence is read from the same action that materializes
    // the round (below) instead of a separate change-count join.
    // Lineage is cut per round with a (lazy) localCheckpoint: each
    // round's plan references `labels` three times, so without the cut
    // the plan tree grows 3^rounds. On a fault-tolerant cluster run,
    // swap for checkpoint() against reliable storage.
    var labels = cut(edges.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), first(col("src"))).as("component")))
    // labels only ever decrease, so sum(component) is strictly
    // monotone: equality across rounds ⟺ fixpoint. The sum is read in
    // the same action that materializes the round's cache — ONE job
    // per round, no change-count join. coalesce: an empty pair list
    // sums to NULL otherwise (and must not NPE — a corpus with zero
    // verified near-dups is a perfectly normal input).
    var checksum = labels.agg(coalesce(sum(col("component")), lit(0L)))
      .head().getLong(0)
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("component")).as("__nbr_min"))
      // neighbor-min propagation PLUS pointer jumping (adopt the label
      // of your current label) in the same round: the jump halves the
      // remaining chain, so long paths converge in O(log diameter)
      // rounds instead of O(diameter). Both joins read the cached
      // `labels`, so a round is still one pipeline / one job.
      val next = cut(labels
        .join(nbrMin, Seq("id"), "left")
        .join(labels.select(col("id").as("component"),
          col("component").as("__cc")), Seq("component"), "left")
        .select(col("id"),
          least(col("component"),
            coalesce(col("__nbr_min"), col("component")),
            coalesce(col("__cc"), col("component"))).as("component")))
      val nextSum = next.agg(coalesce(sum(col("component")), lit(0L)))
        .head().getLong(0)
      labels = next
      converged = nextSum == checksum
      checksum = nextSum
      i += 1
    }
    edges.unpersist()
    (labels, i)
  }

  /** 16-bit SimHash from md5 material: per token take 4 hex chars as a
    * 16-bit hash; each bit votes +1/−1 weighted by occurrence; the sign
    * vector packs into an integer. Pure integer arithmetic → portable. */
  def simhash16(tokens: Column): Column = {
    val bitSums = (0 until 16).map { b =>
      aggregate(tokens, lit(0L), (acc, t) => {
        val h = conv(substring(md5(t), 1, 4), 16, 10).cast("long")
        acc + (pmod(floor(h / math.pow(2, b).toLong).cast("long"), lit(2L)) * 2 - 1)
      })
    }
    (0 until 16).map { b =>
      when(bitSums(b) > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** Hamming distance between two packed simhash values (16 bit). */
  def hamming16(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** [[simhash16]], frame form: explode tokens (outer — empty docs
    * keep a row and hash to 0 like the column form), hash each token
    * ONCE, accumulate the 16 ±1 bit votes as partial-aggregated sum
    * columns, sign-pack. The column form's per-lane lambdas defeat
    * codegen CSE and re-evaluate the md5 pass once per bit — 16× the
    * hashing; this is the formulation for corpus-scale runs. Values
    * are identical (same hash, same votes, same packing). */
  def simhashSignatures(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val ex = df
      .select(col(idCol), explode_outer(Featurize.tokensCol(col(textCol))).as("__tk"))
      .select(col(idCol),
        conv(substring(md5(col("__tk")), 1, 4), 16, 10).cast("long").as("__h"))
    val votes = (0 until 16).map { b =>
      sum(pmod(floor(col("__h") / math.pow(2, b).toLong).cast("long"), lit(2L))
        * 2 - 1).as(s"__s$b")
    }
    val agg = ex.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val packed = (0 until 16).map { b =>
      when(col(s"__s$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    agg.select(col(idCol), packed.as("simhash"))
  }

  /** Embedding-cosine near-duplicate pairs over an `Array[Float]`
    * column: candidates from a sign-bucket LSH over `nBits`
    * deterministic pseudo-planes, verified with exact cosine >=
    * `threshold`.
    *
    * Scale knobs: `nBits` sizes the bucket space (2^nBits) — more bits
    * shrink bucket occupancy, which is what bounds the Σ bucket²
    * candidate cost of the self-join; `probeHamming = 1` compensates
    * the recall lost to extra bits by also probing every bucket one
    * bit-flip away (each vector explodes to nBits+1 probe rows of a
    * few bytes; the corpus-side frame stays un-exploded, so a pair at
    * hamming ≤ 1 is found exactly once after the id ordering filter).
    */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double = 0.95, dim: Int = 64,
                        nBits: Int = 16, probeHamming: Int = 1): DataFrame = {
    require(probeHamming >= 0 && probeHamming <= 1,
      s"only hamming-0/1 multiprobe is implemented, got $probeHamming")
    val spark = df.sparkSession
    val withBucket = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      Similarity.signBucketNative(spark, col(vecCol), nBits, dim)
        .as("bucket"))
      .withColumn("__n", sqrt(Similarity.nDot(spark, col("vec"), col("vec"))))
    val probes =
      if (probeHamming == 0) array(col("bucket"))
      else array(col("bucket") +:
        (0 until nBits).map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*)
    val probed = withBucket.select(col("id").as("__pid"), col("vec").as("__pvec"),
      col("__n").as("__pn"), explode(probes).as("bucket"))
    probed.join(withBucket, Seq("bucket"))
      .where(col("__pid") < col("id"))
      // norms staged once per vector above; per-candidate work is one dot
      .withColumn("cosine", Similarity.cosineFromNorms(
        Similarity.nDot(spark, col("__pvec"), col("vec")),
        col("__pn"), col("__n")))
      .where(col("cosine") >= threshold)
      .select(col("__pid").as("id_a"), col("id").as("id_b"), col("cosine"))
      .distinct()
  }

  /** Near-duplicate pairs over a 64-bit HASH column (simhash, dHash —
    * any fingerprint whose similarity is hamming distance): candidates
    * from band-equality LSH, verified with the exact popcount.
    *
    * Banding is the pigeonhole guarantee, not a heuristic: a 64-bit
    * hash split into `bands` contiguous segments means two hashes
    * within hamming `bands - 1` MUST agree on at least one whole
    * segment — so recall is EXACT for `maxHamming <= bands - 1` (the
    * default 3 with 4 bands). A `maxHamming >= bands` asks for pairs
    * the band join can miss; that is rejected loudly rather than
    * silently under-reporting (raise `bands` instead — more bands =
    * more probe rows per hash but smaller, more selective buckets).
    *
    * Scale shape: each row explodes to `bands` probe rows of
    * `(band_idx, band_val, id, hash)` — a few dozen bytes; the
    * self-equi-join on `(band_idx, band_val)` bounds pairwise work by
    * Σ|bucket|² exactly like [[embeddingNearDups]]'s sign buckets
    * (pseudo-random 16-bit segments put ~n/65536 rows in a bucket);
    * verification is one `bit_count(xor)` per candidate — codegen,
    * no bodies, no vectors. Null hashes (undecodable payloads
    * upstream) are excluded from pairing. Output: `(id_a, id_b,
    * hamming)`, each qualifying pair exactly once. */
  def hashNearDups(df: DataFrame, idCol: String, hashCol: String,
                   maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(bands >= 2 && 64 % bands == 0,
      s"bands=$bands must divide 64 (and be >= 2)")
    require(maxHamming >= 0 && maxHamming <= bands - 1,
      s"maxHamming=$maxHamming exceeds the pigeonhole guarantee of " +
        s"bands - 1 = ${bands - 1}: the band join could silently miss " +
        "qualifying pairs — raise bands instead")
    val bandBits = 64 / bands
    val mask = (1L << bandBits) - 1
    val hashes = df
      .select(col(idCol).as("__id"), col(hashCol).cast("long").as("__hash"))
      .where(col("__hash").isNotNull)
    val probes = hashes.select(col("__id"), col("__hash"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("__hash"), b * bandBits).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "__bi").withColumnRenamed("col", "__bv")
    val right = probes.select(col("__id").as("__rid"),
      col("__hash").as("__rhash"), col("__bi"), col("__bv"))
    probes.join(right, Seq("__bi", "__bv"))
      .where(col("__id") < col("__rid"))
      .withColumn("hamming",
        bit_count(col("__hash").bitwiseXOR(col("__rhash"))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select(col("__id").as("id_a"), col("__rid").as("id_b"), col("hamming"))
      .distinct()
  }

  /** Perceptual near-duplicate IMAGE pairs — the multimodal member of
    * the dedup family (every production multimodal corpus runs one):
    * [[graft.ext.Multimodal.imageDHashes]] turns each binary payload
    * into a 64-bit dHash (real `javax.imageio` decode, executor-side
    * batches), then [[hashNearDups]] pairs hashes within `maxHamming`
    * bits — catching re-encodes, block upscales, and small pixel
    * edits that byte-level dedup can never see. Payloads no reader
    * accepts hash to null and drop out of pairing (a placeholder hash
    * would fabricate duplicates between unrelated non-images).
    *
    * Scale shape: payloads are touched exactly once, ENFORCED — the
    * `(id, dhash)` frame is localCheckpointed (16 B/row, trivial next
    * to the payloads) before the pairing self-join, because both join
    * sides reference the hash scan and would otherwise re-run the
    * image decode over the whole corpus a second time; everything
    * that shuffles afterwards is `(id, long)`. The checkpoint RDD is
    * released by the ContextCleaner once the returned frame goes out
    * of scope. Callers who already store hashes use [[hashNearDups]]
    * directly and skip the decode entirely. */
  def imageNearDups(df: DataFrame, idCol: String, payloadCol: String,
                    maxHamming: Int = 3, bands: Int = 4): DataFrame =
    hashNearDups(
      Multimodal.imageDHashes(df.select(col(idCol), col(payloadCol)),
          payloadCol)
        .select(col(idCol), col("dhash"))
        .localCheckpoint(),
      idCol, "dhash", maxHamming, bands)

  /** Perceptual near-duplicate AUDIO pairs — [[imageNearDups]]'s
    * sibling over [[graft.ext.Multimodal.audioEnergyHashes]] (energy-
    * envelope fingerprint from real `javax.sound` PCM decode) and the
    * same [[hashNearDups]] banded-hamming pairing. Catches re-encodes
    * and small sample noise; undecodable and non-16-bit payloads hash
    * to null and drop out of pairing. Same enforced scan-once shape as
    * the image form: the `(id, ahash)` frame checkpoints before the
    * self-join, so audio bytes are decoded exactly once. */
  def audioNearDups(df: DataFrame, idCol: String, payloadCol: String,
                    maxHamming: Int = 3, bands: Int = 4): DataFrame =
    hashNearDups(
      Multimodal.audioEnergyHashes(df.select(col(idCol), col(payloadCol)),
          payloadCol)
        .select(col(idCol), col("ahash"))
        .localCheckpoint(),
      idCol, "ahash", maxHamming, bands)

  /** Exact span dedup, block-quantized — the distributed analog of
    * suffix-array substring dedup (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", which removes repeated
    * ≥50-token spans): each document is cut into NON-overlapping
    * `blockTokens`-token blocks, and every verbatim re-occurrence of a
    * block anywhere in the corpus — after its first occurrence in
    * `(id, pos)` order — is cut out of the rebuilt text. Documents
    * with nothing left come back with empty text (a downstream
    * length filter drops them).
    *
    * Scale shape: blocks are hashed in a narrow pass over the scan and
    * only `(md5, id, pos)` tuples ride the winner-agg shuffle — block
    * BODIES never move. The winner per hash is a fixed-width
    * `min(id * maxBlocksPerDoc + pos)` hash aggregate (no
    * SortAggregate fallback). The packed key's invariants are ENFORCED,
    * not assumed: the id column must be an integral type (a string id
    * would cast to null and silently collapse all winners), and the
    * packing raises a loud runtime error — never a silently wrong
    * winner order — if any document has `pos >= maxBlocksPerDoc`
    * (at the default 2^20 that is a >1M-block document; raise
    * `maxBlocksPerDoc` or `blockTokens` for such corpora) or any id
    * falls outside `[0, Long.MaxValue / maxBlocksPerDoc)`. Losing
    * positions fold to one small `(id, drop_ps)` row per affected
    * document, which joins back (AQE promotes it to broadcast at
    * production dup rates) into a second narrow pass that rebuilds the
    * text by filtering the block array in place. The block/winner
    * shuffles never carry text; the rebuild join is broadcast while
    * the drop set fits (AQE decides at runtime) and otherwise falls
    * back to ONE corpus shuffle on the id — the only point in the
    * operator where bodies can move, and they move exactly once.
    *
    * Output contract: every non-empty document's text is rebuilt from
    * its surviving blocks as a single-space-joined token stream (the
    * same normalization whether or not any block was dropped — uniform
    * across rows and identical to the DuckDB oracle's `string_agg`
    * rebuild); empty/whitespace-only documents pass through unchanged. */
  def spanDedup(df: DataFrame, textCol: String, idCol: String,
                blockTokens: Int = 50,
                maxBlocksPerDoc: Long = 1L << 20): DataFrame = {
    require(blockTokens > 0, s"blockTokens=$blockTokens")
    require(maxBlocksPerDoc > 0, s"maxBlocksPerDoc=$maxBlocksPerDoc")
    val idLimit = Long.MaxValue / maxBlocksPerDoc
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"spanDedup: id column '$idCol' must be an integral type for the packed " +
          s"winner key (got $other — a non-numeric id would cast to null and " +
          "silently collapse all winners)")
    }
    // Loud-failure packing: a wrong winner order is silent corruption,
    // so out-of-range ids/positions must throw, never proceed.
    def packedKey(id: Column, pos: Column): Column =
      when(id < 0 || id >= idLimit, raise_error(concat(
          lit(s"spanDedup: id must be in [0, $idLimit) for the packed winner key, got "),
          id.cast("string"))))
        .when(pos >= maxBlocksPerDoc, raise_error(concat(
          lit("spanDedup: document "), id.cast("string"), lit(" has block pos "),
          pos.cast("string"),
          lit(s" >= maxBlocksPerDoc=$maxBlocksPerDoc — raise maxBlocksPerDoc or blockTokens"))))
        .otherwise(id.cast("long") * maxBlocksPerDoc + pos)
    val toks = graft.ml.Featurize.tokensCol(col(textCol))
    val nBlocks = ceil(size(col("__t")) / lit(blockTokens.toDouble)).cast("int")
    def blocksCol = transform(
      sequence(lit(0), greatest(col("__nb"), lit(1)) - 1),
      i => array_join(slice(col("__t"), i * blockTokens + 1, lit(blockTokens)), " "))
    val blocks = df
      .select(col(idCol), toks.as("__t"))
      .withColumn("__nb", nBlocks)
      .where(col("__nb") > 0)
      .select(col(idCol), posexplode(blocksCol))
      .select(col(idCol), col("pos"),
        md5(col("col")).as("__h"),
        packedKey(col(idCol), col("pos")).as("__packed"))
    val winners = blocks.groupBy(col("__h"))
      .agg(min(col("__packed")).as("__win"))
    val drops = blocks.join(winners, Seq("__h"))
      .where(col("__packed") =!= col("__win"))
      .groupBy(col(idCol))
      .agg(collect_list(col("pos")).as("__drop"))
    // Uniform rebuild: EVERY non-empty document comes back as the
    // single-space join of its surviving blocks (a doc with no drops
    // has a null __drop → array_contains yields null → block kept), so
    // normalization is consistent across rows instead of depending on
    // whether a given document happened to lose a block.
    val rebuilt =
      when(col("__nb") <= 0, col(textCol)).otherwise(
        array_join(
          filter(
            transform(sequence(lit(0), greatest(col("__nb"), lit(1)) - 1),
              i => when(array_contains(col("__drop"), i), lit(null))
                .otherwise(array_join(
                  slice(col("__t"), i * blockTokens + 1, lit(blockTokens)), " "))),
            b => b.isNotNull),
          " "))
    // schema-preserving: text rebuilt in place, every other column
    // passes through untouched
    df.withColumn("__t", toks)
      .withColumn("__nb", nBlocks)
      .join(drops, Seq(idCol), "left")
      .select(df.columns.map {
        case c if c == textCol => rebuilt.as(textCol)
        case c => col(s"`$c`")
      }.toSeq: _*)
  }

  /** Canonical-representative selection: given a `(group, id, weight)`
    * assignment (exact-dup hash groups, minhash connected components,
    * SemDeDup cells — any dedup clustering this module produces), keep
    * the HIGHEST-weight member per group, smallest id on ties — "keep
    * the best copy", the production refinement over keep-first dedup
    * (the first crawl of a page is often the worst one: truncated,
    * un-rendered, paywalled).
    *
    * Weights must be pre-rounded by the caller (every scorer in this
    * library emits 6-dp-rounded values) — the winner is selected by
    * VALUE equality against the group max, so an unrounded FP weight
    * would make the pick engine-dependent. Scale shape: two fixed-width
    * hash aggs (`max(weight)`, then `min(id)` among max-weight members)
    * plus one join that carries only `(group, weight)` — no window, no
    * sort, bodies never move. Returns `(group, id)` winners; anti/semi
    * -join it back against the corpus to apply. */
  def canonicalPick(groups: DataFrame, idCol: String, groupCol: String,
                    weightCol: String): DataFrame = {
    val best = groups.groupBy(col(groupCol))
      .agg(max(col(weightCol)).as("__wmax"))
    groups.join(best, Seq(groupCol))
      .where(col(weightCol) === col("__wmax"))
      .groupBy(col(groupCol))
      .agg(min(col(idCol)).as(idCol))
      .select(col(groupCol), col(idCol))
  }

  /** Line-level corpus dedup — the CCNet/RefinedWeb boilerplate pass
    * (Wenzek et al., arXiv:1911.00359 §3.1; Penedo et al.,
    * arXiv:2306.01116): navigation menus, cookie banners and footers
    * repeat VERBATIM at line granularity across millions of pages, so
    * the line (not the document or the token span) is the natural
    * dedup unit for web corpora. Two modes:
    *
    *  - `keepFirst = true` (default): every re-occurrence of a line
    *    after its first appearance in `(id, pos)` order is cut — the
    *    line-granular analog of [[spanDedup]];
    *  - `keepFirst = false`: every occurrence of any line appearing
    *    more than `maxOccurrences` times in the corpus is cut
    *    everywhere — the pure boilerplate strip (nobody keeps the
    *    cookie banner).
    *
    * Scale shape, identical to [[spanDedup]]: lines are hashed in a
    * narrow pass and only `(md5, id, pos)` rides the winner-agg
    * shuffle — line BODIES never move; the winner/frequency per hash
    * is one fixed-width hash aggregate (`min(packed)` + `count`);
    * losing positions fold to one small `(id, drop_ps)` row per
    * affected document (AQE promotes the join to broadcast at real
    * boilerplate rates) and a second narrow pass rebuilds the text by
    * filtering the line array in place. The packed winner key inherits
    * spanDedup's ENFORCED invariants: integral id in
    * `[0, Long.MaxValue / maxLinesPerDoc)`, `raise_error` on
    * `pos >= maxLinesPerDoc` — loud, never silently wrong.
    *
    * Output contract: every document with at least one non-empty line
    * comes back as the `joinSep`-join of its surviving non-empty lines
    * (empty lines are dropped uniformly, dedup or not — same
    * normalization across all rows); documents with no non-empty
    * lines pass through unchanged. Schema-preserving.
    *
    * The dedup UNIT is parameterized: `splitPattern` (a Java∩RE2
    * regex) cuts the text, `joinSep` reassembles survivors, and
    * `trimUnits` space-trims each unit before hashing AND rebuild —
    * the line defaults reproduce the historical behavior; see
    * [[paragraphDedup]] for the blank-line-separated variant. */
  def lineDedup(df: DataFrame, textCol: String, idCol: String,
                keepFirst: Boolean = true, maxOccurrences: Long = 1,
                maxLinesPerDoc: Long = 1L << 20,
                splitPattern: String = "\n", joinSep: String = "\n",
                trimUnits: Boolean = false): DataFrame = {
    require(maxLinesPerDoc > 0, s"maxLinesPerDoc=$maxLinesPerDoc")
    require(maxOccurrences >= 1, s"maxOccurrences=$maxOccurrences")
    val idLimit = Long.MaxValue / maxLinesPerDoc
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"lineDedup: id column '$idCol' must be an integral type for the packed " +
          s"winner key (got $other)")
    }
    def packedKey(id: Column, pos: Column): Column =
      when(id < 0 || id >= idLimit, raise_error(concat(
          lit(s"lineDedup: id must be in [0, $idLimit) for the packed winner key, got "),
          id.cast("string"))))
        .when(pos >= maxLinesPerDoc, raise_error(concat(
          lit("lineDedup: document "), id.cast("string"), lit(" has line pos "),
          pos.cast("string"),
          lit(s" >= maxLinesPerDoc=$maxLinesPerDoc — raise maxLinesPerDoc"))))
        .otherwise(id.cast("long") * maxLinesPerDoc + pos)
    def linesCol(text: Column): Column = {
      val raw = split(text, splitPattern)
      val units = if (trimUnits) transform(raw, u => trim(u)) else raw
      filter(units, l => length(l) > 0)
    }
    val lines = df
      .select(col(idCol), linesCol(col(textCol)).as("__ls"))
      .where(size(col("__ls")) > 0)
      .select(col(idCol), posexplode(col("__ls")))
      .select(col(idCol), col("pos"), md5(col("col")).as("__h"),
        packedKey(col(idCol), col("pos")).as("__packed"))
    val winners = lines.groupBy(col("__h"))
      .agg(min(col("__packed")).as("__win"), count(lit(1)).as("__cnt"))
    val losing =
      if (keepFirst) lines.join(winners, Seq("__h"))
        .where(col("__packed") =!= col("__win"))
      else lines.join(winners, Seq("__h"))
        .where(col("__cnt") > maxOccurrences)
    val drops = losing.groupBy(col(idCol))
      .agg(collect_list(col("pos")).as("__drop"))
    val rebuilt =
      when(size(col("__ls")) === 0, col(textCol)).otherwise(
        array_join(
          filter(col("__ls"),
            (l, i) => not(coalesce(array_contains(col("__drop"), i), lit(false)))),
          joinSep))
    df.withColumn("__ls", linesCol(col(textCol)))
      .join(drops, Seq(idCol), "left")
      .select(df.columns.map {
        case c if c == textCol => rebuilt.as(textCol)
        case c => col(s"`$c`")
      }.toSeq: _*)
  }

  /** Paragraph-level corpus dedup — [[lineDedup]] at blank-line
    * granularity, the unit RefinedWeb/Dolma actually strip repeated
    * boilerplate at (Penedo et al., arXiv:2306.01116 §3.2: exact
    * "paragraph" = text between two `\n`): paragraphs split on runs of
    * 2+ newlines (single newlines stay INSIDE a paragraph), each unit
    * space-trimmed before hashing so indentation noise around the
    * blank-line separator can't defeat the exact match, survivors
    * rejoined with `"\n\n"`. Same two modes (keep-first / strip-over-
    * `maxOccurrences`), same packed-key winner agg, same scale shape —
    * paragraph bodies never ride the shuffle. */
  def paragraphDedup(df: DataFrame, textCol: String, idCol: String,
                     keepFirst: Boolean = true, maxOccurrences: Long = 1,
                     maxParasPerDoc: Long = 1L << 20): DataFrame =
    lineDedup(df, textCol, idCol, keepFirst, maxOccurrences,
      maxParasPerDoc, splitPattern = "\n{2,}", joinSep = "\n\n",
      trimUnits = true)

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic dedup over an
    * EMBEDDING column — k-means-cluster the vectors, then drop every
    * document whose cosine to an earlier (lower-id) member of the SAME
    * cluster reaches `threshold`. Complements [[embeddingNearDups]]
    * (sign-bucket LSH pairs): this is the keep/drop decision over a
    * partition of the whole corpus, the form used to prune pre-training
    * sets at scale.
    *
    * Scale shape: centroids are plan literals (O(k·dim) driver data),
    * so cluster assignment is a NARROW projection; the corpus
    * exchanges once on `cell` for the within-cluster candidate join —
    * pairwise work is Σ|cell|², bounded by sizing `nCells ∝ N/target`
    * exactly as the paper operates (cluster count grows with the
    * corpus, cluster size stays constant). The drop-set is
    * `(id)`-only and semi-joins back against the assignment — vectors
    * ride the cell exchange once and never again.
    *
    * Cosines are rounded to 6 dp before the threshold compare, so
    * keep/drop is FP-noise-proof and engine-portable. Output:
    * `(id, cell)` of the KEPT documents. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    cents: Array[Array[Double]],
                    threshold: Double): DataFrame = {
    require(threshold > 0, s"threshold=$threshold")
    val spark = df.sparkSession
    val assigned = Similarity.assignCells(
        df.select(col(idCol), col(vecCol)), vecCol, cents)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"), col("cell"))
      .withColumn("__n", sqrt(Similarity.nDot(spark, col("__v"), col("__v"))))
    val right = assigned.select(col("__id").as("__rid"),
      col("__v").as("__rv"), col("cell"), col("__n").as("__rn"))
    val dropIds = assigned.join(right, Seq("cell"))
      .where(col("__id") < col("__rid"))
      .where(Similarity.cosineFromNorms(
        Similarity.nDot(spark, col("__v"), col("__rv")),
        col("__n"), col("__rn")) >= threshold)
      .select(col("__rid").as("__id"))
      .distinct()
    assigned.join(dropIds, Seq("__id"), "left_anti")
      .select(col("__id").as(idCol), col("cell"))
  }

  /** [[semanticDedup]] past the plan-literal centroid boundary: the
    * partition comes from the deterministic sign-bucket LSH
    * ([[Similarity.signBucketNative]]'s md5-derived ±1 planes) instead of
    * k-means cells, so "cluster count ∝ corpus size" costs NOTHING at
    * assignment time — `nBits` planes give 2^nBits buckets from an
    * O(nBits·dim) narrow projection per row, no O(k)-per-row literal
    * scan and no k-branch argmax in the plan. The drop rule is
    * identical: a document whose cosine to an earlier (lower-id)
    * member of the SAME bucket reaches `threshold` is dropped. Exact
    * duplicates always share a bucket (identical projections), so the
    * dedup guarantee — every exact-copy group collapses to its lowest
    * id — holds at ANY scale; near-duplicates split across a plane
    * with probability falling as cosine → 1 (the standard LSH
    * recall trade, same as [[embeddingNearDups]] without multiprobe).
    *
    * Scale shape: one narrow bucket+norm projection, one exchange on
    * `bucket` (2^nBits of them — size nBits to the corpus so Σ|bucket|²
    * stays bounded), an `(id)`-only drop set, and the keep anti-join.
    * Output: `(id, bucket)` of the KEPT documents. */
  def semanticDedupLsh(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, nBits: Int = 16,
                       dim: Int = 64): DataFrame = {
    require(threshold > 0, s"threshold=$threshold")
    require(nBits >= 1 && nBits <= 62, s"nBits=$nBits")
    val spark = df.sparkSession
    val assigned = df.select(col(idCol).as("__id"), col(vecCol).as("__v"),
        Similarity.signBucketNative(spark, col(vecCol), nBits, dim)
          .as("bucket"))
      .withColumn("__n", sqrt(Similarity.nDot(spark, col("__v"), col("__v"))))
    val right = assigned.select(col("__id").as("__rid"),
      col("__v").as("__rv"), col("bucket"), col("__n").as("__rn"))
    val dropIds = assigned.join(right, Seq("bucket"))
      .where(col("__id") < col("__rid"))
      .where(Similarity.cosineFromNorms(
        Similarity.nDot(spark, col("__v"), col("__rv")),
        col("__n"), col("__rn")) >= threshold)
      .select(col("__rid").as("__id"))
      .distinct()
    assigned.join(dropIds, Seq("__id"), "left_anti")
      .select(col("__id").as(idCol), col("bucket"))
  }

  /** Semantic near-dup MATCHES of arriving embeddings against a
    * static reference corpus — the SemDeDup concern in operational,
    * streaming-safe form ("is this incoming document a semantic
    * duplicate of what the index already holds"): each arrival is
    * assigned its cell from the broadcast centroid literals (narrow),
    * joined stream-static on `cell` against the identically-assigned
    * reference, and every reference neighbor with 6-dp-rounded cosine
    * ≥ `threshold` is emitted as one `(id, neighbor_id, cosine)` row.
    *
    * STATELESS by design: no per-arrival aggregation, no watermark —
    * raw matches append; a consumer wanting a boolean gate takes
    * `dropDuplicates(idCol)` or routes matches to quarantine (the
    * [[graft.streaming.ScoreStream.contaminationFlags]] discipline).
    * Works identically on batch frames (how the oracle and spec pin
    * it); on a stream the static side is re-planned every micro-batch,
    * so a refreshed reference corpus is picked up between batches.
    *
    * Scale shape: arrivals touch only their OWN cell's reference rows
    * (the join key bounds the pairing exactly as [[semanticDedup]]'s
    * within-cell rule); the reference never reshuffles per batch
    * beyond the cell exchange, and with a [[Similarity.writeIvfIndex]]
    * layout as `reference` the scan itself is cell-partitioned. */
  def semanticMatches(arrivals: DataFrame, reference: DataFrame,
                      idCol: String, vecCol: String,
                      cents: Array[Array[Double]],
                      threshold: Double): DataFrame = {
    require(threshold > 0, s"threshold=$threshold")
    val spark = reference.sparkSession
    val arr = Similarity.assignCells(
        arrivals.select(col(idCol), col(vecCol)), vecCol, cents)
      .select(col(idCol), col(vecCol).as("__v"), col("cell"))
      .withColumn("__n", sqrt(Similarity.nDot(spark, col("__v"), col("__v"))))
    val ref = Similarity.assignCells(
        reference.select(col(idCol).as("neighbor_id"), col(vecCol)),
        vecCol, cents)
      .select(col("neighbor_id"), col(vecCol).as("__rv"), col("cell"))
      .withColumn("__rn", sqrt(Similarity.nDot(spark, col("__rv"), col("__rv"))))
    arr.join(ref, Seq("cell"))
      .withColumn("cosine", Similarity.cosineFromNorms(
        Similarity.nDot(spark, col("__v"), col("__rv")),
        col("__n"), col("__rn")))
      .where(col("cosine") >= threshold)
      .select(col(idCol), col("neighbor_id"), col("cosine"))
  }

  /** Streaming TEXT near-dup gate — the MinHash/LSH counterpart of
    * [[semanticMatches]]: which reference documents is each arriving
    * document a likely near-duplicate of? Arrivals get their MinHash
    * signature IN-ROW (the column form [[minhashSignature]] — no
    * aggregation, so the stream side stays a stateless narrow
    * projection in append mode), band keys explode per arrival, and a
    * stream-static equi-join on `(band_idx, band_key)` pairs each
    * arrival with only the reference docs sharing a band — never
    * all-pairs. Output: `(id, neighbor_id, est_jaccard)` where
    * `est_jaccard` = agreeing signature lanes / `numHashes` (the
    * standard MinHash Jaccard estimate), thresholded at `minJaccard`.
    *
    * Exact-once emission without a stateful distinct: a pair sharing
    * several bands would surface once per shared band, and
    * de-duplicating on a stream means state. Instead both full
    * signatures ride the join, the first agreeing band index is
    * recomputed IN-ROW from them, and the pair is kept only in that
    * band's row — the same emit-where-it-starts trick as
    * [[graft.ops.RangeJoin]]'s interval overlap, stateless by
    * construction.
    *
    * Scale shape: the reference's signature+band table is
    * |ref|·`bands` narrow rows (32-B keys + the lane array — bodies
    * never leave the scan); the arrival side is linear in the batch.
    * Works identically in batch (stream == batch is spec-pinned). */
  def minhashMatches(arrivals: DataFrame, reference: DataFrame,
                     idCol: String, textCol: String,
                     numHashes: Int = 4, bands: Int = 2,
                     minJaccard: Double = 0.0): DataFrame = {
    require(bands >= 1 && numHashes % bands == 0,
      s"numHashes=$numHashes not divisible by bands=$bands")
    minhashMatchesWithRefSignatures(arrivals,
      minhashSignatures(
        reference.select(col(idCol).as("neighbor_id"), col(textCol)),
        textCol, "neighbor_id", numHashes),
      idCol, textCol, numHashes, bands, minJaccard)
  }

  /** [[minhashMatches]] over an already-computed reference
    * [[minhashSignatures]] frame keyed `neighbor_id` — the seam for
    * callers whose reference corpus is already signed (ingest-time
    * signing, a memoized fixture pass): arrivals still shingle fresh,
    * the reference is never re-shingled. Value-identical to
    * [[minhashMatches]] over the corpus the signatures came from. */
  private[graft] def minhashMatchesWithRefSignatures(
      arrivals: DataFrame, refSigs: DataFrame, idCol: String,
      textCol: String, numHashes: Int = 4, bands: Int = 2,
      minJaccard: Double = 0.0): DataFrame = {
    require(bands >= 1 && numHashes % bands == 0,
      s"numHashes=$numHashes not divisible by bands=$bands")
    val rows = numHashes / bands
    val ref = refSigs
      .withColumn("__rsig",
        array((0 until numHashes).map(i => col(s"m$i")): _*))
      .select(col("neighbor_id"), col("__rsig"),
        posexplode(bandKeysFromColumns(numHashes, bands))
          .as(Seq("band_idx", "band_key")))
    val arr = arrivals
      .select(col(idCol), Featurize.tokensCol(col(textCol)).as("__t"))
      .select(col(idCol), Featurize.ngramsCol(col("__t"), 3).as("__sh"))
      .where(size(col("__sh")) > 0)
      .withColumn("__asig", minhashSignature(col("__sh"), numHashes))
      .select(col(idCol), col("__asig"),
        posexplode(bandKeys(col("__asig"), bands, rows))
          .as(Seq("band_idx", "band_key")))
    val firstMatch = array_min(filter(
      sequence(lit(0), lit(bands - 1)),
      b => slice(col("__asig"), b * rows + 1, lit(rows)) ===
        slice(col("__rsig"), b * rows + 1, lit(rows))))
    arr.join(ref, Seq("band_idx", "band_key"))
      .where(col("band_idx") === firstMatch)
      .withColumn("est_jaccard", round(
        size(filter(zip_with(col("__asig"), col("__rsig"),
          (x, y) => x === y), b => b)).cast("double") / numHashes, 6))
      .where(col("est_jaccard") >= minJaccard)
      .select(col(idCol), col("neighbor_id"), col("est_jaccard"))
  }

  // ---- stored band index: dedup as a MAINTAINED artifact ----
  //
  // [[minhashMatches]] re-shingles the reference corpus every run; at
  // 100 TB the signatures are computed ONCE at ingest and stored, and
  // the question becomes index MAINTENANCE: an appended/updated/
  // deleted document must fix up its band rows without re-reading the
  // history — the same CDC contract as
  // [[graft.ext.Similarity.updateIvfIndex]] for vectors.

  /** Materialize the MinHash band index of a corpus: one row per
    * (doc, band) carrying the full signature lanes, partitioned by a
    * short `band_key` PREFIX (16^prefixChars dirs — the key space is
    * md5-uniform, so dirs balance). Serving prunes at the SCAN via
    * partition filters; maintenance rewrites only touched prefix
    * dirs. Bodies never enter the index — it is (id, lanes, band)
    * rows only. `numHashes`/`bands`/`prefixChars` are layout
    * constants persisted IN the index (a `_graft_band_layout` marker,
    * invisible to parquet readers; see [[PartitionedIndex]]): serving
    * and maintenance read them back, so a caller can never band or
    * prefix a probe differently than the rows on disk — the silent-
    * corruption class (new rows banded under different constants than
    * stored rows) is unrepresentable. */
  def writeBandIndex(corpus: DataFrame, textCol: String, idCol: String,
                     outDir: String, numHashes: Int = 4, bands: Int = 2,
                     prefixChars: Int = 1): Unit =
    writeBandIndexFromSignatures(
      minhashSignatures(corpus, textCol, idCol, numHashes),
      idCol, outDir, numHashes, bands, prefixChars)

  /** The band family of [[PartitionedIndex]]: hex `pfx=` dirs, pinned
    * to StringType. */
  private[graft] val BandIndex = PartitionedIndex.Family[String](
    "Band", "pfx", PartitionedIndex.StringKey, "_graft_band_layout",
    persists = "banding", dirNoun = "dirs")

  /** The `(numHashes, bands, prefixChars)` layout constants persisted
    * in a [[writeBandIndex]] marker — public so maintenance and
    * serving layers can LOG their narrowing against the layout's
    * 16^prefixChars total. Raises on a dir that is not a
    * [[writeBandIndex]] layout. */
  def bandIndexLayout(indexDir: String,
                      s: org.apache.spark.sql.SparkSession): (Int, Int, Int) = {
    val kv = PartitionedIndex.markerInts(
      PartitionedIndex.readMarker(s, indexDir, BandIndex))
    (kv("numHashes"), kv("bands"), kv("prefixChars"))
  }

  /** The band index rows of a [[minhashSignatures]] frame (id,
    * m0..m{n-1}): one row per (doc, band) with its `pfx` home — the
    * seam that lets a caller who has the corpus signatures
    * materialized (ingest-time signing, a memoized fixture pass) band
    * and prefix them without re-shingling the corpus. */
  private[graft] def bandIndexRowsFromSignatures(
      sigs: DataFrame, idCol: String, numHashes: Int, bands: Int,
      prefixChars: Int): DataFrame =
    sigs
      .select(col(idCol) +:
        (0 until numHashes).map(i => col(s"m$i")) :+
        posexplode(bandKeysFromColumns(numHashes, bands))
          .as(Seq("band_idx", "band_key")): _*)
      .withColumn("pfx", substring(col("band_key"), 1, prefixChars))

  /** [[writeBandIndex]] over an already-computed [[minhashSignatures]]
    * frame — skips the corpus re-shingle when the signatures are
    * already materialized (the production ingest shape: sign once,
    * index from the signatures). Layout and values identical to
    * [[writeBandIndex]] over the corpus the signatures came from. */
  private[graft] def writeBandIndexFromSignatures(
      sigs: DataFrame, idCol: String, outDir: String,
      numHashes: Int = 4, bands: Int = 2, prefixChars: Int = 1): Unit = {
    require(bands >= 1 && numHashes % bands == 0,
      s"numHashes=$numHashes not divisible by bands=$bands")
    require(prefixChars >= 1 && prefixChars <= 8,
      s"prefixChars=$prefixChars")
    PartitionedIndex.write(
      bandIndexRowsFromSignatures(sigs, idCol, numHashes, bands, prefixChars),
      BandIndex, outDir, 1L << (4 * prefixChars),
      s"numHashes=$numHashes\nbands=$bands\nprefixChars=$prefixChars\n")
  }

  /** [[minhashMatches]] served from a [[writeBandIndex]] layout: the
    * arrival batch's distinct band-key prefixes (at most
    * 16^prefixChars values — driver-bounded) push into the scan as a
    * partition filter, so only the index slice the batch can touch is
    * read; everything after is the same first-band exact-once join.
    * Result identical to [[minhashMatches]] over the corpus the index
    * was built from (spec-pinned). `numHashes`/`bands`/`prefixChars`
    * come from the index's OWN layout marker — a caller cannot probe
    * with a different banding than the rows on disk. */
  def minhashMatchesIndexed(indexDir: String, arrivals: DataFrame,
                            idCol: String, textCol: String,
                            minJaccard: Double = 0.0): DataFrame =
    minhashMatchesIndexedWithEvidence(
      indexDir, arrivals, idCol, textCol, minJaccard)._1

  /** [[minhashMatchesIndexed]] plus its narrowing EVIDENCE — the
    * probed prefixes and the layout's total — from the serve's own
    * internal probe collect, so a serving layer that LOGS its
    * per-batch narrowing (the streaming gate sinks) pays no second
    * tokenize+sign pass for it. Matches frame is identical to
    * [[minhashMatchesIndexed]]. */
  def minhashMatchesIndexedWithEvidence(
      indexDir: String, arrivals: DataFrame, idCol: String,
      textCol: String,
      minJaccard: Double = 0.0): (DataFrame, Array[String], Long) = {
    val s = arrivals.sparkSession
    val (numHashes, bands, prefixLen) = bandIndexLayout(indexDir, s)
    val rows = numHashes / bands
    val arr = arrivals
      .select(col(idCol), Featurize.tokensCol(col(textCol)).as("__t"))
      .select(col(idCol), Featurize.ngramsCol(col("__t"), 3).as("__sh"))
      .where(size(col("__sh")) > 0)
      .withColumn("__asig", minhashSignature(col("__sh"), numHashes))
      .select(col(idCol), col("__asig"),
        posexplode(bandKeys(col("__asig"), bands, rows))
          .as(Seq("band_idx", "band_key")))
    val probePfx = PartitionedIndex.distinctKeys(arr.select(
      substring(col("band_key"), 1, prefixLen).as("pfx")), BandIndex)
    // list + read ONLY the probed prefix dirs (PartitionedIndex.read):
    // a batch against a billion-document band index must not pay a
    // full-layout file listing to open bands × |batch| dirs
    val idx = PartitionedIndex.read(s, indexDir, BandIndex, probePfx.toSet)
      .where(col("pfx").isin(probePfx.toIndexedSeq: _*))
      .withColumn("__rsig",
        array((0 until numHashes).map(i => col(s"m$i")): _*))
      .select(col(idCol).as("neighbor_id"), col("__rsig"),
        col("band_idx"), col("band_key"))
    val firstMatch = array_min(filter(
      sequence(lit(0), lit(bands - 1)),
      b => slice(col("__asig"), b * rows + 1, lit(rows)) ===
        slice(col("__rsig"), b * rows + 1, lit(rows))))
    val matches = arr.join(idx, Seq("band_idx", "band_key"))
      .where(col("band_idx") === firstMatch)
      .withColumn("est_jaccard", round(
        size(filter(zip_with(col("__asig"), col("__rsig"),
          (x, y) => x === y), b => b)).cast("double") / numHashes, 6))
      .where(col("est_jaccard") >= minJaccard)
      .select(col(idCol), col("neighbor_id"), col("est_jaccard"))
    // 16^prefixChars as a Long: prefixChars may be 8, where an Int
    // saturates and "touched < n_prefix" narrowing gates would pass
    (matches, probePfx, 1L << (4 * prefixLen))
  }

  /** Apply a CDC change batch to a [[writeBandIndex]] layout IN
    * PLACE, rewriting ONLY the prefix dirs the changed documents'
    * band rows live in (old rows and new rows both count — an update
    * whose text moves its band keys touches both homes) through
    * [[PartitionedIndex.update]]'s crash-safe rewrite and swap.
    * Returns the touched prefixes (bounded at 16^prefixChars). The
    * banding constants come from the index's OWN layout marker — a
    * maintainer cannot band new rows differently than the stored
    * rows. */
  def updateBandIndex(indexDir: String, changes: DataFrame,
                      textCol: String, idCol: String,
                      seqCol: String = "seq",
                      opCol: String = "op"): Array[String] =
    updateBandIndexWithEvidence(indexDir, changes, textCol, idCol, seqCol,
      opCol)._1

  /** [[updateBandIndex]] plus the layout's dir total (16^prefixChars,
    * as a Long), both from the one marker read — what a maintenance
    * sink logs per batch. */
  private[graft] def updateBandIndexWithEvidence(
      indexDir: String, changes: DataFrame, textCol: String, idCol: String,
      seqCol: String, opCol: String): (Array[String], Long) = {
    val (numHashes, bands, prefixChars) =
      bandIndexLayout(indexDir, changes.sparkSession)
    val nDirs = 1L << (4 * prefixChars)
    (PartitionedIndex.update(indexDir, BandIndex, changes, idCol, seqCol,
        opCol, nDirs) { upserts =>
      bandIndexRowsFromSignatures(
        minhashSignatures(upserts.select(col(idCol), col(textCol)), textCol,
          idCol, numHashes),
        idCol, numHashes, bands, prefixChars)
    }, nDirs)
  }

  /** Perceptual near-duplicate VIDEO pairs — temporal voting over
    * per-frame dHashes: [[graft.ext.Multimodal.videoFrameDHashes]]
    * samples every `stride`-th frame and hashes it through the real
    * PNG decode path; frames pair by the same banded-hamming join as
    * [[hashNearDups]] but keyed ALSO on the frame index (aligned
    * frames compare, nothing else); a video pair qualifies when at
    * least `minMatches` sampled frame positions agree within
    * `maxHamming` bits. The vote is what makes it video-shaped: a
    * re-encode with one replaced scene (trailer swap, ad insert)
    * still matches on its surviving frames, while a require-every-
    * frame rule — or hashing the whole byte stream — misses it.
    *
    * Scale shape: payloads are parsed and decoded exactly ONCE
    * (enforced — the sampled `(id, frame, hash)` frame checkpoints
    * before the pairing self-join, same as [[imageNearDups]]), and
    * sampling means skipped frames are never decoded at all (length-
    * prefix seek). Everything that shuffles is `(id, int, long)`;
    * the vote is one hash-aggregate over verified candidate rows.
    * Output: `(id_a, id_b, matched_frames)`, each qualifying pair
    * exactly once. */
  def videoNearDups(df: DataFrame, idCol: String, payloadCol: String,
                    stride: Int = 2, maxHamming: Int = 3, bands: Int = 4,
                    minMatches: Int = 2,
                    align: String = "aligned",
                    maxBandBucket: Long = DefaultMaxBandBucket,
                    timeQuantMs: Int = 100): DataFrame = {
    val (bandBits, mask) = videoVoteChecks(bands, maxHamming, minMatches,
      align, stride, timeQuantMs)
    // align='time' reads TIMED (GVKF) containers: the container's
    // keyframe flags pick the sampled frames (content marks — the
    // same original frames in any re-encode), so `stride` plays no
    // part and drift tolerance needs no dense sampling
    val frames =
      if (align == "time")
        Multimodal.videoKeyframeDHashes(
            df.select(col(idCol), col(payloadCol)), payloadCol)
          .select(col(idCol), col("ts_ms").as("__fk"), col("dhash"))
      else
        Multimodal.videoFrameDHashes(
            df.select(col(idCol), col(payloadCol)), payloadCol, stride)
          .select(col(idCol), col("frame_idx").as("__fk"), col("dhash"))
    val hashes = frames
      .select(col(idCol).as("__id"), col("__fk").as("__f"),
        col("dhash").as("__hash"))
      .localCheckpoint() // decode once: both self-join sides read this
    val probes = hashes.select(col("__id"), col("__f"), col("__hash"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("__hash"), b * bandBits).bitwiseAND(lit(mask))): _*))
        .as(Seq("__bi", "__bv")))
    val right = probes.select(col("__id").as("__rid"), col("__f").as("__rf"),
      col("__hash").as("__rhash"), col("__bi").as("__rbi"),
      col("__bv").as("__rbv"))
    videoVote(probes, right, selfPair = true, align, maxHamming,
      minMatches, "id_a", "id_b", maxBandBucket, timeQuantMs)
  }

  /** Two-sided temporal-vote matcher — [[videoNearDups]]'s
    * arrival-vs-reference sibling and the per-batch core of the
    * streaming video gate ([[graft.streaming.ScoreStream
    * .videoGateSink]]). Both inputs are FRAME-HASH frames
    * `(idCol, frameCol, hashCol)` — decode happens upstream: the
    * stream decodes arrivals inside its micro-batch, the reference
    * corpus is hashed once and pinned, so serving never re-decodes
    * history. Frames pair by the banded-hamming join; the vote
    * follows `align` (see [[videoNearDups]]): `"aligned"` requires
    * positional agreement, `"offset"` votes on the best offset of the
    * matched-frame histogram, tolerating frame insertions/deletions.
    * Output `(idCol, neighbor_id, matched_frames)`, one row per
    * qualifying (arrival, reference) pair. */
  def videoHashMatches(arrivals: DataFrame, reference: DataFrame,
                       idCol: String, hashCol: String = "dhash",
                       frameCol: String = "frame_idx",
                       maxHamming: Int = 3, bands: Int = 4,
                       minMatches: Int = 2,
                       align: String = "aligned",
                       maxBandBucket: Long = DefaultMaxBandBucket,
                       timeQuantMs: Int = 100): DataFrame = {
    val (bandBits, mask) = videoVoteChecks(bands, maxHamming, minMatches,
      align, stride = 1, timeQuantMs)
    def probes(df: DataFrame, idAs: String, fAs: String, hAs: String,
               biAs: String, bvAs: String) = df
      .select(col(idCol).as(idAs), col(frameCol).cast("int").as(fAs),
        col(hashCol).cast("long").as(hAs))
      .where(col(hAs).isNotNull)
      .select(col(idAs), col(fAs), col(hAs),
        posexplode(array((0 until bands).map(b =>
          shiftright(col(hAs), b * bandBits).bitwiseAND(lit(mask))): _*))
          .as(Seq(biAs, bvAs)))
    videoVote(
      probes(arrivals, "__id", "__f", "__hash", "__bi", "__bv"),
      probes(reference, "__rid", "__rf", "__rhash", "__rbi", "__rbv"),
      selfPair = false, align, maxHamming, minMatches,
      idCol, "neighbor_id", maxBandBucket, timeQuantMs)
  }

  /** Default per-(band_idx, band_val) candidate cap for the
    * align='offset' vote: the largest bucket product the operator
    * will launch without being told to. 2^22 (~4.2M frame pairs in
    * ONE bucket) is far beyond any non-degenerate corpus — natural
    * frames spread band values md5-thin — so tripping it means a
    * degenerate value, not scale. */
  val DefaultMaxBandBucket: Long = 1L << 22

  private def videoVoteChecks(bands: Int, maxHamming: Int,
                              minMatches: Int, align: String,
                              stride: Int, timeQuantMs: Int): (Int, Long) = {
    require(bands >= 2 && 64 % bands == 0,
      s"bands=$bands must divide 64 (and be >= 2)")
    require(align != "time" || timeQuantMs >= 1,
      s"timeQuantMs=$timeQuantMs: the quantized-delta vote divides by " +
        "it — zero or negative would turn every delta bucket into " +
        "Infinity/NaN garbage silently")
    require(maxHamming >= 0 && maxHamming <= bands - 1,
      s"maxHamming=$maxHamming exceeds the pigeonhole guarantee of " +
        s"bands - 1 = ${bands - 1}: the band join could silently miss " +
        "qualifying pairs — raise bands instead")
    require(minMatches >= 1, s"minMatches=$minMatches")
    require(align == "aligned" || align == "offset" || align == "time",
      s"align=$align (want 'aligned', 'offset', or 'time')")
    require(align != "offset" || stride == 1,
      "align='offset' needs stride=1: stride sampling after a frame " +
        "insertion samples a DIFFERENT subset of the original frames, " +
        "so no offset can line the two hash sets up — drift tolerance " +
        "with sparse sampling needs content-determined sampling: " +
        "align='time' over keyframe-flagged containers")
    val bandBits = 64 / bands
    (bandBits, (1L << bandBits) - 1)
  }

  /** The shared vote tail of [[videoNearDups]] and
    * [[videoHashMatches]]. `align` picks the temporal rule:
    *  - `"aligned"` (default): only frames at the SAME index compare
    *    (the equality is a join key — candidates never cross frame
    *    positions), and the vote counts distinct agreeing positions.
    *    Cheap and exact for same-cut re-encodes; a single frame
    *    insertion breaks every subsequent position.
    *  - `"offset"`: frames pair on band agreement at ANY position,
    *    each match votes for its arrival→reference offset
    *    `rf - f`, and the pair's score is the LARGEST single-offset
    *    vote — the best-offset histogram. A re-encode with inserted
    *    or dropped frames still concentrates `>= minMatches` of its
    *    surviving frames on one offset, where positional alignment
    *    finds nothing. Costs more than `"aligned"` (candidates =
    *    band collisions across all frame pairs of the two videos,
    *    not one per position) — the documented price of drift
    *    tolerance.
    *  - `"time"`: the offset vote with the frame column read as a
    *    TIMESTAMP (ms) and the delta QUANTIZED to `timeQuantMs`
    *    buckets before voting (real re-encodes jitter PTS by a few
    *    ms; exact equality would split every vote). The vote runs on
    *    TWO half-offset quantization grids and keeps the better
    *    bucket: floor-quantization alone still splits votes whose
    *    true delta sits near a bucket boundary (jitter around a
    *    multiple of `timeQuantMs` — e.g. deltas 499 and 501 ms at
    *    quant 100 land in buckets 4 and 5), but any point has at
    *    least `timeQuantMs/2` of clearance from one of the two
    *    grids' boundaries, so ±timeQuantMs/4 jitter can never halve
    *    the vote. Paired with keyframe-sampled hashes
    *    (`videoKeyframeDHashes` — sampling by content marks, not
    *    index), this lifts the offset mode's stride=1 requirement:
    *    both encodings sample the same original frames no matter how
    *    insertions shifted indices. */
  private def videoVote(left: DataFrame, right: DataFrame,
                        selfPair: Boolean, align: String,
                        maxHamming: Int, minMatches: Int,
                        outId: String, outNbr: String,
                        maxBandBucket: Long = DefaultMaxBandBucket,
                        timeQuantMs: Int = 100): DataFrame = {
    val bandCond = col("__bi") === col("__rbi") && col("__bv") === col("__rbv")
    val joinCond =
      if (align == "aligned") bandCond && col("__f") === col("__rf")
      else bandCond
    if (align == "offset" || align == "time") {
      // Offset-mode candidates are Σ over (band_idx, band_val)
      // buckets of |left bucket| × |right bucket| — quadratic in
      // same-band frames. A degenerate band value (constant-color
      // frames: title cards, black leaders, slide decks) makes one
      // bucket's product explode SILENTLY; refuse loudly BEFORE
      // launching the join. The check is linear (two narrow counts +
      // a bucket equi-join) and collects at most one row.
      val lc = left.groupBy(col("__bi"), col("__bv"))
        .agg(count(lit(1)).as("__lc"))
      val rc = right.groupBy(col("__rbi"), col("__rbv"))
        .agg(count(lit(1)).as("__rc"))
      val worst = lc.join(rc,
          lc("__bi") === rc("__rbi") && lc("__bv") === rc("__rbv"))
        .where(col("__lc") * col("__rc") > maxBandBucket)
        .select(col("__bi"), col("__bv"),
          (col("__lc") * col("__rc")).as("__n"))
        .orderBy(col("__n").desc).limit(1).collect()
      require(worst.isEmpty, {
        val w = worst.head
        s"align='$align' band bucket (band_idx=${w.getInt(0)}, " +
          s"band_val=${w.getLong(1)}) would produce ${w.getLong(2)} " +
          s"candidate frame pairs (cap $maxBandBucket): a degenerate " +
          "band value — typically constant-color frames (black " +
          "leaders, title cards) — makes the any-position join " +
          "quadratic. Pre-filter constant frames, raise `bands`, " +
          "raise `maxBandBucket` deliberately, or use align='aligned'."
      })
    }
    val cand0 = left.join(right, joinCond)
    val cand1 = if (selfPair) cand0.where(col("__id") < col("__rid")) else cand0
    val ok = cand1.where(
      bit_count(col("__hash").bitwiseXOR(col("__rhash")))
        .cast("int") <= maxHamming)
    // 'offset' votes on the exact index delta; 'time' votes on the
    // QUANTIZED timestamp delta on TWO half-offset grids (floor to
    // timeQuantMs buckets; the second grid shifts by timeQuantMs/2 —
    // jitter that straddles one grid's bucket boundary lands in the
    // interior of the other's, so the best-bucket vote never halves
    // on boundary-adjacent true deltas)
    val voted =
      if (align == "aligned")
        ok.select(col("__id"), col("__rid"), col("__f")).distinct()
          .groupBy("__id", "__rid")
          .agg(count(lit(1)).as("matched_frames"))
      else if (align == "time") {
        val d = (col("__rf") - col("__f")).cast("double")
        ok.select(col("__id"), col("__rid"), col("__f"),
            explode(array(
              struct(lit(0).as("g"),
                floor(d / timeQuantMs).cast("long").as("b")),
              struct(lit(1).as("g"),
                floor((d + timeQuantMs / 2.0) / timeQuantMs)
                  .cast("long").as("b")))).as("__gb"))
          .select(col("__id"), col("__rid"), col("__f"),
            col("__gb.g").as("__g"), col("__gb.b").as("__off"))
          .distinct()
          .groupBy("__id", "__rid", "__g", "__off")
          .agg(count(lit(1)).as("__m"))
          .groupBy("__id", "__rid")
          .agg(max(col("__m")).as("matched_frames"))
      } else
        ok.select(col("__id"), col("__rid"),
            (col("__rf") - col("__f")).cast("long").as("__off"),
            col("__f")).distinct()
          .groupBy("__id", "__rid", "__off")
          .agg(count(lit(1)).as("__m"))
          .groupBy("__id", "__rid")
          .agg(max(col("__m")).as("matched_frames"))
    voted.where(col("matched_frames") >= minMatches)
      .select(col("__id").as(outId), col("__rid").as(outNbr),
        col("matched_frames"))
  }

  // ---- stored PERCEPTUAL hash index: media dedup as a MAINTAINED
  //      artifact ----
  //
  // [[imageNearDups]]/[[audioNearDups]] re-decode the corpus every
  // run; at 100 TB the payloads are decoded ONCE at ingest, the 64-bit
  // fingerprints are stored, and media dedup becomes the same two
  // problems text dedup already solved with [[writeBandIndex]]:
  // serving (match an arrival batch/stream against the stored hashes,
  // reading only the index slice the batch can touch) and maintenance
  // (a CDC batch fixes up its band rows without re-reading — or worse,
  // re-DECODING — the history).

  /** Banded-hamming matches of an ARRIVAL hash set against a REFERENCE
    * hash set — [[hashNearDups]]'s two-sided sibling, and the batch
    * core of the streaming perceptual gate (stateless: explode + one
    * stream-static equi-join + codegen popcount, so it runs in append
    * mode with no watermark). Same pigeonhole contract as
    * [[hashNearDups]]: recall is EXACT for `maxHamming <= bands - 1`,
    * anything past that is rejected loudly. Each qualifying
    * (arrival, neighbor) pair is emitted EXACTLY once via the
    * first-agreeing-band rule (the streaming-safe dedup —
    * [[minhashMatches]]'s trick — since `distinct()` would need a
    * blocking aggregate). Null hashes on either side (undecodable
    * payloads upstream) drop out of matching. Output:
    * `(idCol, neighbor_id, hamming)`. */
  def hashMatches(arrivals: DataFrame, reference: DataFrame,
                  idCol: String, hashCol: String,
                  maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(bands >= 2 && 64 % bands == 0,
      s"bands=$bands must divide 64 (and be >= 2)")
    require(maxHamming >= 0 && maxHamming <= bands - 1,
      s"maxHamming=$maxHamming exceeds the pigeonhole guarantee of " +
        s"bands - 1 = ${bands - 1}: the band join could silently miss " +
        "qualifying pairs — raise bands instead")
    val bandBits = 64 / bands
    val mask = (1L << bandBits) - 1
    def probes(df: DataFrame, idAs: String, hashAs: String) = df
      .select(col(idCol).as(idAs), col(hashCol).cast("long").as(hashAs))
      .where(col(hashAs).isNotNull)
      .select(col(idAs), col(hashAs),
        posexplode(array((0 until bands).map(b =>
          shiftright(col(hashAs), b * bandBits).bitwiseAND(lit(mask))): _*))
          .as(Seq("__bi", "__bv")))
    val arr = probes(arrivals, "__id", "__hash")
    val ref = probes(reference, "__rid", "__rhash")
    joinProbes(arr, ref, idCol, bands, bandBits, mask, maxHamming)
  }

  /** The shared tail of [[hashMatches]] and [[hashMatchesIndexed]]:
    * band equi-join, first-agreeing-band exact-once gate, popcount
    * verification. Both inputs carry `(id, hash, __bi, __bv)`. */
  private def joinProbes(arr: DataFrame, ref: DataFrame, idCol: String,
                         bands: Int, bandBits: Int, mask: Long,
                         maxHamming: Int): DataFrame = {
    val bandEq = array((0 until bands).map(b =>
      shiftright(col("__hash"), b * bandBits).bitwiseAND(lit(mask)) ===
        shiftright(col("__rhash"), b * bandBits).bitwiseAND(lit(mask))): _*)
    arr.join(ref, Seq("__bi", "__bv"))
      .where(col("__bi") === array_position(bandEq, true) - 1)
      .withColumn("hamming",
        bit_count(col("__hash").bitwiseXOR(col("__rhash"))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select(col("__id").as(idCol), col("__rid").as("neighbor_id"),
        col("hamming"))
  }

  /** Materialize the banded layout of a 64-bit perceptual-hash corpus
    * (dHash, energy hash, simhash64 — anything [[hashNearDups]]
    * pairs): one row per (id, band) carrying the full hash,
    * partitioned by `pfx = xxhash64(band_idx, band_val) mod nPrefix`
    * — the band values themselves are NOT uniform (natural images
    * cluster), so the partition key re-randomizes them; dirs balance
    * regardless of the corpus. Serving prunes at the SCAN via the
    * partition column; maintenance rewrites only touched prefix dirs.
    * Payloads never enter the index — decode happens once at ingest,
    * upstream of this writer; the index is `(id, hash, band)` rows
    * only. `bands`/`nPrefix` are layout constants persisted IN the
    * index (a `_graft_hash_layout` marker, invisible to parquet
    * readers; see [[PartitionedIndex]]): serve and maintenance read
    * them back, so a caller can never probe with a different banding
    * than the one on disk — the mismatch class (which silently
    * under-recalls whenever the wrong value happens to divide the
    * right one) is unrepresentable. */
  def writeHashIndex(hashes: DataFrame, idCol: String, hashCol: String,
                     outDir: String, bands: Int = 4,
                     nPrefix: Int = 16): Unit =
    PartitionedIndex.write(hashIndexRows(hashes, idCol, hashCol, bands, nPrefix),
      HashIndex, outDir, nPrefix.toLong, s"bands=$bands\nnPrefix=$nPrefix\n")

  /** The hash family of [[PartitionedIndex]]: int `pfx=` dirs. */
  private[graft] val HashIndex = PartitionedIndex.Family[Int](
    "Hash", "pfx", PartitionedIndex.IntKey, "_graft_hash_layout",
    persists = "banding", dirNoun = "dirs")

  /** The `(bands, nPrefix)` layout constants persisted in a
    * [[writeHashIndex]] marker — public so maintenance and serving
    * layers can LOG their narrowing against the layout's total (the
    * streaming maintenance sink records touched/nPrefix per batch). */
  def hashIndexLayout(indexDir: String,
                      s: org.apache.spark.sql.SparkSession): (Int, Int) = {
    val kv = PartitionedIndex.markerInts(
      PartitionedIndex.readMarker(s, indexDir, HashIndex))
    (kv("bands"), kv("nPrefix"))
  }

  private[graft] def hashIndexRows(hashes: DataFrame, idCol: String,
                            hashCol: String, bands: Int,
                            nPrefix: Int): DataFrame = {
    require(bands >= 2 && 64 % bands == 0,
      s"bands=$bands must divide 64 (and be >= 2)")
    require(nPrefix >= 1, s"nPrefix=$nPrefix")
    val bandBits = 64 / bands
    val mask = (1L << bandBits) - 1
    hashes
      .select(col(idCol), col(hashCol).cast("long").as("hash"))
      .where(col("hash").isNotNull)
      .select(col(idCol), col("hash"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("hash"), b * bandBits).bitwiseAND(lit(mask))): _*))
          .as(Seq("band_idx", "band_val")))
      .withColumn("pfx",
        pmod(xxhash64(col("band_idx"), col("band_val")), lit(nPrefix))
          .cast("int"))
  }

  /** [[hashMatches]] served from a [[writeHashIndex]] layout: the
    * arrival batch's distinct prefixes (at most `nPrefix` values —
    * driver-bounded by construction) push into the scan as a partition
    * filter, so only the index slice the batch can touch is read.
    * Result identical to [[hashMatches]] over the hash corpus the
    * index was built from (spec-pinned and gated in-query by the
    * driver surface). `bands`/`nPrefix` come from the index's own
    * layout marker — a caller cannot probe with the wrong banding —
    * and as defense-in-depth against a hand-built or corrupted layout,
    * every scanned row re-derives its prefix and raises on the first
    * mismatch. The pigeonhole recall contract is checked against the
    * STORED band count: `maxHamming <= bands - 1` or this raises. */
  def hashMatchesIndexed(indexDir: String, arrivals: DataFrame,
                         idCol: String, hashCol: String,
                         maxHamming: Int = 3): DataFrame =
    hashMatchesIndexedWithEvidence(
      indexDir, arrivals, idCol, hashCol, maxHamming)._1

  /** [[hashMatchesIndexed]] plus its narrowing EVIDENCE — the probed
    * prefixes and the layout's `nPrefix` — from the serve's own
    * internal probe collect (see
    * [[minhashMatchesIndexedWithEvidence]]). */
  def hashMatchesIndexedWithEvidence(
      indexDir: String, arrivals: DataFrame, idCol: String,
      hashCol: String, maxHamming: Int = 3): (DataFrame, Array[Int], Int) = {
    val s = arrivals.sparkSession
    val (bands, nPrefix) = hashIndexLayout(indexDir, s)
    require(maxHamming >= 0 && maxHamming <= bands - 1,
      s"maxHamming=$maxHamming exceeds the pigeonhole guarantee of " +
        s"bands - 1 = ${bands - 1} (the index at $indexDir was built " +
        s"with bands=$bands) — rebuild with more bands instead")
    val bandBits = 64 / bands
    val mask = (1L << bandBits) - 1
    val arr = arrivalBandProbes(arrivals, idCol, hashCol, bands)
    val probePfx = PartitionedIndex.distinctKeys(arr.select(
      pmod(xxhash64(col("__bi"), col("__bv")), lit(nPrefix)).cast("int").as("pfx")),
      HashIndex)
    // list + read ONLY the probed prefix dirs (PartitionedIndex.read)
    // — a batch against a billion-image index must not pay a full-
    // layout file listing to open ≤ 4·|batch| dirs
    val idx = PartitionedIndex.read(s, indexDir, HashIndex, probePfx.toSet)
      .where(col("pfx").isin(probePfx.toIndexedSeq: _*))
      .withColumn("__rhash", when(
        pmod(xxhash64(col("band_idx"), col("band_val")), lit(nPrefix))
          .cast("int") =!= col("pfx"),
        raise_error(lit(s"hashMatchesIndexed: a stored row's pfx " +
          s"disagrees with the layout marker (bands=$bands, " +
          s"nPrefix=$nPrefix) at $indexDir — the index rows and marker " +
          "were built by different writers")))
        .otherwise(col("hash")))
      .select(col(idCol).as("__rid"), col("__rhash"),
        col("band_idx").as("__bi"), col("band_val").as("__bv"))
    (joinProbes(arr, idx, idCol, bands, bandBits, mask, maxHamming),
      probePfx, nPrefix)
  }

  /** An arrival hash frame exploded to its `(id, hash, band_idx,
    * band_val)` probes under the given band count. */
  private def arrivalBandProbes(arrivals: DataFrame, idCol: String,
                                hashCol: String, bands: Int): DataFrame = {
    val bandBits = 64 / bands
    val mask = (1L << bandBits) - 1
    arrivals
      .select(col(idCol).as("__id"), col(hashCol).cast("long").as("__hash"))
      .where(col("__hash").isNotNull)
      .select(col("__id"), col("__hash"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("__hash"), b * bandBits).bitwiseAND(lit(mask))): _*))
          .as(Seq("__bi", "__bv")))
  }

  /** Apply a CDC change batch of `(id, hash, seq, op)` rows to a
    * [[writeHashIndex]] layout IN PLACE, rewriting ONLY the prefix
    * dirs the changed hashes' band rows live in (old homes and new
    * homes both count — an update whose hash moves its bands touches
    * both) through [[PartitionedIndex.update]]'s crash-safe rewrite
    * and swap. Upstream decodes the changed payloads; history is never
    * re-read, never re-decoded. `bands`/`nPrefix` come from the
    * index's layout marker, so an update can never band its new rows
    * differently than the history. Returns the touched prefixes
    * (bounded at `nPrefix`). */
  def updateHashIndex(indexDir: String, changes: DataFrame,
                      idCol: String, hashCol: String,
                      seqCol: String = "seq",
                      opCol: String = "op"): Array[Int] =
    updateHashIndexWithEvidence(indexDir, changes, idCol, hashCol, seqCol,
      opCol)._1

  /** [[updateHashIndex]] plus the layout's `nPrefix`, both from the one
    * marker read — what a maintenance sink logs per batch. */
  private[graft] def updateHashIndexWithEvidence(
      indexDir: String, changes: DataFrame, idCol: String, hashCol: String,
      seqCol: String, opCol: String): (Array[Int], Long) = {
    val (bands, nPrefix) = hashIndexLayout(indexDir, changes.sparkSession)
    (PartitionedIndex.update(indexDir, HashIndex, changes, idCol, seqCol,
        opCol, nPrefix.toLong) {
      hashIndexRows(_, idCol, hashCol, bands, nPrefix)
    }, nPrefix.toLong)
  }

  /** Cross-document EXACT substring dedup — the Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better",
    * ExactSubstr) semantics, as opposed to [[spanDedup]]'s
    * block-quantized approximation: every token that lies inside a
    * verbatim cross-document repeat of at least `minTokens` tokens is
    * removed from every occurrence except the globally first one (the
    * minimum `(id, pos)` in packed order). Alignment does not matter:
    * a licence block pasted mid-paragraph is caught wherever it
    * starts, which is exactly what block quantization misses.
    *
    * Formulation — position marking, NOT pair extension. The paper's
    * suffix-array pipeline (anchor index → candidate pairs → greedy
    * extension) is a single-machine design; re-expressed for Spark the
    * same semantics collapse to two fixed-width hash aggregates and
    * one join, with NO candidate pairs at any point:
    *
    *   1. slide a `minTokens`-token window (stride 1) over every
    *      document; hash each window INSIDE the projection lambda so
    *      only the 32-char md5 — never the window text — materializes;
    *   2. per window hash, one fixed-width agg picks the winner
    *      (`min(packed id*maxWindowsPerDoc+pos)`) and gates scope to
    *      CROSS-document hashes (`min(id) != max(id)`) — partial
    *      (map-side) aggregation absorbs even a boilerplate window
    *      occurring a billion times;
    *   3. every losing occurrence of a cross-document hash marks its
    *      `minTokens` covered positions; the union of losing windows
    *      IS the maximal duplicated region, so the paper's greedy
    *      extension is implicit — a shared substring of length
    *      `M >= minTokens` has all its `M - minTokens + 1` windows
    *      duplicated, hence all `M` tokens covered. Exact, not
    *      approximate: no anchor df caps, no recall tradeoff.
    *
    * Scale shape: the winner shuffle carries `(md5, packed)` tuples
    * (≈40 B/token-position) — window BODIES never move; hashing costs
    * `minTokens ×` the corpus bytes through md5, embarrassingly
    * parallel (a Rabin-Karp rolling hash would cut that constant but
    * is not portably replayable in the DuckDB oracle). The loser join
    * is an equi-join on the hash against the (small, duplicate-only)
    * winner set — AQE broadcasts it at production dup rates and splits
    * it if one boilerplate hash skews. Removal ships only losing
    * window STARTS per document (`collect_set`, bounded by the doc's
    * own window count); the covered-position expansion and the
    * `array_except` rebuild run in the final narrow pass, O(minTokens
    * × losing windows) transient per row. The window/winner shuffles
    * never carry text; the rebuild join broadcasts the starts frame
    * while it fits (AQE decides at runtime) and otherwise falls back
    * to ONE corpus shuffle on the id — the only point in the operator
    * where bodies can move, and they move exactly once.
    *
    * Scope: only hashes seen in ≥2 DISTINCT documents trigger removal
    * (within-document repetition is the repetition filter's domain —
    * [[graft.ext.TextStats]] Gopher gates). `scope` picks the winner
    * rule:
    *  - `"global"` (default, the Lee et al. semantics): all
    *    occurrences of a cross-document hash except the single global
    *    winner lose, including extra occurrences inside the winner
    *    document itself — the corpus retains exactly one copy;
    *  - `"per-doc"`: EVERY document keeps its own first occurrence of
    *    the repeated material and loses only its self-repeats of it —
    *    the variant for corpora where cutting a quote out of a losing
    *    document would destroy its coherence, while still collapsing
    *    boilerplate that repeats inside a page. A document retaining
    *    a cross-document repeat keeps exactly one occurrence.
    *
    * Ids must be UNIQUE per row (the same invariant every packed-key
    * operator here assumes): two rows sharing an id would have one
    * row's removal starts applied to both. Null ids raise loudly (a
    * null would otherwise skip both range guards, null the packed key,
    * and silently drop the row from dedup entirely).
    *
    * Output contract (same as [[spanDedup]]): every non-empty document
    * comes back as the single-space join of its surviving tokens —
    * uniform normalization whether or not anything was removed, and
    * identical to the DuckDB oracle's `string_agg` rebuild; documents
    * with no tokens pass through unchanged. Removed-bytes accounting
    * is derivable by diffing `length(array_join(tokens, ' '))` before
    * against `length(text)` after. The packed winner key enforces the
    * same loud-failure invariants as [[spanDedup]]: integral id in
    * `[0, Long.MaxValue / maxWindowsPerDoc)`, window position below
    * `maxWindowsPerDoc` — never a silently wrong winner. */
  def substringDedup(df: DataFrame, textCol: String, idCol: String,
                     minTokens: Int = 50,
                     maxWindowsPerDoc: Long = 1L << 20,
                     scope: String = "global"): DataFrame = {
    require(minTokens > 0, s"minTokens=$minTokens")
    require(maxWindowsPerDoc > 0, s"maxWindowsPerDoc=$maxWindowsPerDoc")
    require(scope == "global" || scope == "per-doc",
      s"substringDedup: scope must be 'global' or 'per-doc', got '$scope'")
    val idLimit = Long.MaxValue / maxWindowsPerDoc
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"substringDedup: id column '$idCol' must be an integral type for the " +
          s"packed winner key (got $other — a non-numeric id would cast to null " +
          "and silently collapse all winners)")
    }
    def packedKey(id: Column, pos: Column): Column =
      when(id.isNull, raise_error(lit(
          s"substringDedup: null id in '$idCol' — a null would skip the range " +
            "guards, null the packed key, and silently exclude the row from dedup")))
        .when(id < 0 || id >= idLimit, raise_error(concat(
          lit(s"substringDedup: id must be in [0, $idLimit) for the packed winner key, got "),
          id.cast("string"))))
        .when(pos >= maxWindowsPerDoc, raise_error(concat(
          lit("substringDedup: document "), id.cast("string"), lit(" has window pos "),
          pos.cast("string"),
          lit(s" >= maxWindowsPerDoc=$maxWindowsPerDoc — raise maxWindowsPerDoc"))))
        .otherwise(id.cast("long") * maxWindowsPerDoc + pos)
    val toks = Featurize.tokensCol(col(textCol))
    // (id, pos, hash, packed) for every stride-1 window — md5 applied
    // inside the transform so only hex digests materialize per doc
    val windows = df
      .select(col(idCol), toks.as("__t"))
      .withColumn("__n", size(col("__t")))
      .where(col("__n") >= minTokens)
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), col("__n") - minTokens),
          i => md5(array_join(slice(col("__t"), i + 1, lit(minTokens)), " ")))))
      .select(col(idCol), col("pos"),
        col("col").as("__h"),
        packedKey(col(idCol), col("pos")).as("__packed"))
    // losing window STARTS per document (only starts shuffle; the
    // minTokens-wide coverage expansion happens in the rebuild pass)
    val losers = scope match {
      case "global" =>
        // one fixed-width agg: global winner + cross-document gate
        val winners = windows
          .groupBy(col("__h"))
          .agg(min(col("__packed")).as("__win"),
            min(col(idCol)).as("__idlo"), max(col(idCol)).as("__idhi"))
          .where(col("__idlo") =!= col("__idhi"))
          .select("__h", "__win")
        windows.join(winners, Seq("__h"))
          .where(col("__packed") =!= col("__win"))
      case "per-doc" =>
        // two-level agg: per-(hash, doc) winner, then the cross-doc
        // gate over the per-doc partials (a tiny second shuffle of
        // |distinct (hash, doc)| rows — both levels partial-agg
        // map-side, so a billion-occurrence boilerplate window still
        // costs a long per partition)
        val perDoc = windows.groupBy(col("__h"), col(idCol))
          .agg(min(col("__packed")).as("__dwin"))
        val crossDoc = perDoc.groupBy(col("__h"))
          .agg(min(col(idCol)).as("__idlo"), max(col(idCol)).as("__idhi"))
          .where(col("__idlo") =!= col("__idhi"))
          .select("__h")
        windows
          .join(perDoc.join(crossDoc, Seq("__h")), Seq("__h", idCol))
          .where(col("__packed") =!= col("__dwin"))
    }
    val rmStarts = losers
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("pos"))).as("__rms"))
    val emptyInts = array().cast("array<int>")
    val removedPos = array_distinct(flatten(transform(
      coalesce(col("__rms"), emptyInts),
      s => sequence(s, s + (minTokens - 1)))))
    val keepPos = array_except(sequence(lit(0), col("__n") - 1), removedPos)
    val rebuilt =
      when(col("__n") <= 0, col(textCol)).otherwise(
        array_join(
          transform(keepPos, p => element_at(col("__t"), p + 1)), " "))
    df.withColumn("__t", toks)
      .withColumn("__n", size(col("__t")))
      .join(rmStarts, Seq(idCol), "left")
      .select(df.columns.map {
        case c if c == textCol => rebuilt.as(textCol)
        case c => col(s"`$c`")
      }.toSeq: _*)
  }
}
