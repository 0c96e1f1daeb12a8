package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stratified sampling — the reference's signature relational primitive
  * (`01_merchcat_etl.py:138-155`, `utils/fasttext_utils.py:44-56`).
  *
  * Scale design: per-class rates come from a bounded-cardinality
  * aggregate (one row per label, ~1000 merchants in the reference), so
  * the rates relation is always broadcastable. Two membership variants:
  *
  *   - seeded Bernoulli via `stat.sampleBy` (faithful to the reference,
  *     randomized);
  *   - deterministic modular membership on a unique integer key,
  *     expressed as a broadcast join + filter — fully distributed, no
  *     driver collect, reproducible, and pushdown-friendly.
  */
object Sampling {

  /** Per-class rate with cap (`01_merchcat_etl.py:146-151`):
    * rate = min(sampleSize/count, 1), classes under countThreshold
    * dropped. One row per label. */
  def cappedRates(df: DataFrame, labelCol: String, sampleSize: Double,
                  countThreshold: Long): DataFrame =
    df.groupBy(labelCol)
      .agg(count(lit(1)).as("count"))
      .where(col("count") >= countThreshold)
      .withColumn("sample_rate", lit(sampleSize) / col("count"))
      .withColumn("sample_rate",
        when(col("sample_rate") > 1, 1.0).otherwise(col("sample_rate")))

  /** Per-class rate with floor + overshoot
    * (`utils/fasttext_utils.py:46-53`): if count*rate < minCount then
    * minCount/count + 0.05 ("better to oversample near the threshold"),
    * else rate. */
  def flooredRates(df: DataFrame, labelCol: String, sampleRate: Double,
                   minCount: Long): DataFrame =
    df.groupBy(labelCol)
      .agg(count(lit(1)).as("count"))
      .withColumn("sample_rate",
        when(col("count") * sampleRate < minCount,
          lit(minCount) / col("count") + 0.05)
          .otherwise(lit(sampleRate)))

  /** Collect a rates frame to the label→rate map `stat.sampleBy` wants.
    * Safe only because label cardinality is bounded (it is an aggregate
    * over the label key) — never call on row-scale data. */
  def ratesMap(rates: DataFrame, labelCol: String): Map[String, Double] =
    rates.select(col(labelCol).cast("string"), col("sample_rate"))
      .collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .toMap

  /** Reference semantics (`01_merchcat_etl.py:154`): seeded per-class
    * Bernoulli sample. */
  def sampleData(df: DataFrame, labelCol: String, sampleSize: Double,
                 countThreshold: Long, seed: Long = 42L): DataFrame = {
    val rates = ratesMap(cappedRates(df, labelCol, sampleSize, countThreshold), labelCol)
    df.stat.sampleBy(labelCol, rates, seed)
  }

  /** Uniform deterministic membership hash of a key: md5 → first 8 hex
    * chars → integer in [0, modulus). Uniform regardless of the key's
    * own distribution (a raw `key % modulus` correlates with key range
    * and breaks at small tables or clustered ids). */
  def membershipBucket(key: Column, modulus: Int): Column =
    pmod(conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long"),
      lit(modulus.toLong))

  /** Deterministic stratified sample: membership decided by a hash
    * bucket of a unique key — reproducible, the rates join stays
    * broadcast, and the whole thing is a filter Catalyst can reason
    * about (no Bernoulli rand, no driver-held fractions map). */
  def sampleDataDeterministic(df: DataFrame, labelCol: String, keyCol: String,
                              sampleSize: Double, countThreshold: Long,
                              modulus: Int = 1 << 20): DataFrame = {
    val rates = cappedRates(df, labelCol, sampleSize, countThreshold)
      .select(labelCol, "sample_rate")
    df.join(broadcast(rates), Seq(labelCol))
      .where(membershipBucket(col(keyCol), modulus) < col("sample_rate") * modulus)
      .drop("sample_rate")
  }

  /** Temperature-weighted mixture sampling (T = 2, i.e. weights ∝
    * √count) — the standard multilingual-training-mix move: low-
    * resource classes are upsampled relative to proportional
    * allocation, capped at taking a class whole. √ is hard-wired
    * rather than a general `pow(n, 1/T)` because sqrt is IEEE
    * correctly-rounded (bit-identical in every engine) while pow is
    * not — a pow-boundary membership flip would poison determinism.
    *
    * The class-count collect is bounded (one row per label); weights
    * fold in sorted-label order so the normalizer is a DEFINED
    * left-to-right sum both engines can reproduce. Membership is the
    * usual md5-bucket filter — distributed, reproducible,
    * pushdown-friendly. */
  def sampleTemperature(df: DataFrame, labelCol: String, keyCol: String,
                        target: Double, modulus: Int = 1 << 20): DataFrame = {
    val counts = df.groupBy(labelCol).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .sortBy(_._1)
    val tot = counts.map { case (_, n) => math.sqrt(n.toDouble) }
      .foldLeft(0.0)(_ + _)
    val rates = counts.map { case (l, n) =>
      val nd = n.toDouble
      val want = math.min(target * (math.sqrt(nd) / tot), nd)
      l -> want / nd
    }
    val spark = df.sparkSession
    import spark.implicits._
    val ratesDf = rates.toSeq.toDF(labelCol, "__rate")
    df.join(broadcast(ratesDf), Seq(labelCol))
      .where(membershipBucket(col(keyCol), modulus) < col("__rate") * modulus)
      .drop("__rate")
  }

  /** Per-domain keep rates for a TOKEN-budget training mixture (the
    * Pile/DoReMi-style recipe: the mixture is specified as target
    * token SHARES per domain, the corpus offers what it offers, and
    * each domain is downsampled to its allocation — or taken whole
    * when it can't fill it). `weights` must sum to 1 (caller fixes
    * the mixture; no hidden normalization) and domains absent from it
    * get rate 0 — they are excluded, not silently proportional.
    *
    * `rate_d = min(1, budget·w_d / tokens_d)`, with `tokens_d` from
    * one bounded per-domain agg of `tokenCount` (any per-row token
    * counter — `size(tokensCol(text))`, a stored n_tokens column…).
    * Sampling documents by rate hits the domain's token allocation in
    * expectation; the arithmetic is one multiply + one divide per
    * DOMAIN (IEEE-exact cross-engine), applied through the usual
    * broadcast-rates + md5-membership filter, so the whole mixture is
    * a narrow filter over the corpus — no shuffle of bodies at any
    * scale. Output of [[mixtureRates]]: one row per weighted domain
    * `(domain, n_docs, n_tokens, keep_rate)`. */
  def mixtureRates(df: DataFrame, domainCol: String, tokenCount: Column,
                   weights: Map[String, Double],
                   budgetTokens: Long): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.values.forall(w => w >= 0 && w.isFinite),
      s"weights must be finite and >= 0: $weights")
    require(math.abs(weights.values.sum - 1.0) < 1e-9,
      s"weights must sum to 1 (got ${weights.values.sum}) — fix the mixture " +
        "explicitly rather than relying on hidden normalization")
    require(budgetTokens > 0, s"budgetTokens=$budgetTokens")
    val spark = df.sparkSession
    import spark.implicits._
    val wDf = broadcast(weights.toSeq.sortBy(_._1).toDF(domainCol, "__w"))
    df.select(col(domainCol), tokenCount.cast("long").as("__tok"))
      .groupBy(domainCol)
      .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).as("n_tokens"))
      .join(wDf, Seq(domainCol))
      .select(col(domainCol), col("n_docs"), col("n_tokens"),
        least(lit(1.0),
          lit(budgetTokens.toDouble) * col("__w") / col("n_tokens").cast("double"))
          .as("keep_rate"))
  }

  /** [[mixtureRates]] with COMPUTED weights — a `(domain, weight)`
    * frame instead of a literal map, the form a data-driven mixture
    * needs (e.g. [[graft.ext.LinkGraph.domainAuthority]] scores
    * driving token budgets: link-respected domains earn more of the
    * training budget). Unlike the Map version, weights here ARE
    * normalized (`w_d / ΣW`): a computed weight column is only ever
    * proportional, so requiring the caller to pre-normalize doubles
    * would just push a nondeterministic float sum onto them. The
    * normalizer is made cross-engine-exact the usual way: weights
    * round to integer micro-units (×10^12) and sum as BIGINT — an
    * order-independent total — then every downstream step is plain
    * IEEE division. ΣW rides as a lazy broadcast scalar, so the whole
    * computation stays one declarative plan; domains without a weight
    * row are excluded (inner join), same contract as the Map form.
    * Output: `(domain, n_docs, n_tokens, keep_rate)`, one row per
    * weighted domain. */
  def mixtureRatesFrom(df: DataFrame, domainCol: String, tokenCount: Column,
                       weights: DataFrame, weightCol: String,
                       budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens=$budgetTokens")
    // Weight-frame validation rides IN the plan (the frame is lazy and
    // possibly corpus-derived — a driver-side count here would force an
    // extra action): duplicate/null domain rows would silently duplicate
    // output rows AND double-count the normalizer, and a weight total
    // that rounds to <= 0 micro-units (all weights below 5e-13, negatives
    // cancelling) would divide keep rates by zero — both fail loudly
    // instead, matching the Map form's requires.
    val wTot = weights.agg(
        count(lit(1)).as("__wn"),
        count_distinct(col(domainCol)).as("__wd"),
        min(col(weightCol)).as("__wmin"),
        sum(round(col(weightCol) * 1e12, 0).cast("long")).as("__wi"))
      .select(
        when(col("__wn") =!= col("__wd"), raise_error(concat(
            lit(s"mixtureRatesFrom: weight frame has duplicate or null '$domainCol' rows ("),
            col("__wn").cast("string"), lit(" rows, "),
            col("__wd").cast("string"),
            lit(" distinct non-null domains) — each domain must weigh in exactly once"))))
          .when(col("__wmin") < 0, raise_error(concat(
            lit("mixtureRatesFrom: negative weight "),
            col("__wmin").cast("string"), lit(" — weights must be >= 0"))))
          .when(col("__wi").isNull || col("__wi") <= 0L, raise_error(concat(
            lit("mixtureRatesFrom: weight total rounds to "),
            coalesce(col("__wi"), lit(0L)).cast("string"),
            lit(" micro-units — the normalizer needs a strictly positive total"))))
          .otherwise(col("__wi").cast("double") / 1e12)
          .as("__wt"))
    df.select(col(domainCol), tokenCount.cast("long").as("__tok"))
      .groupBy(domainCol)
      .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).as("n_tokens"))
      .join(weights.select(col(domainCol), col(weightCol).as("__w")),
        Seq(domainCol))
      .crossJoin(broadcast(wTot))
      .select(col(domainCol), col("n_docs"), col("n_tokens"),
        least(lit(1.0),
          lit(budgetTokens.toDouble) * (col("__w") / col("__wt")) /
            col("n_tokens").cast("double"))
          .as("keep_rate"))
  }

  /** Apply [[mixtureRates]] as the deterministic membership filter:
    * the sampled corpus for the specified token mixture. Domains
    * without a weight drop out (inner rates join). */
  def mixtureSample(df: DataFrame, domainCol: String, keyCol: String,
                    tokenCount: Column, weights: Map[String, Double],
                    budgetTokens: Long, modulus: Int = 1 << 20): DataFrame = {
    val rates = mixtureRates(df, domainCol, tokenCount, weights, budgetTokens)
      .select(col(domainCol), col("keep_rate"))
    df.join(broadcast(rates), Seq(domainCol))
      .where(membershipBucket(col(keyCol), modulus) < col("keep_rate") * modulus)
      .drop("keep_rate")
  }

  /** Deterministic exact-N uniform sample: the N rows whose keys hash
    * smallest (md5 order, key tie-break — a total order, so the carve
    * is unique). This is the fixed-SIZE contract (eval sets,
    * annotation batches, "give me exactly 10k docs") that rate-based
    * sampling cannot promise. Plans as TakeOrderedAndProject:
    * per-partition heads merged on the driver, never a global sort
    * materialization — driver memory is O(N), corpus never shuffles.
    * Note the contract difference vs [[weightedSample]]: the hash
    * ORDER is stable under corpus growth, but new rows can displace
    * boundary rows — an exact-N carve is inherently non-incremental. */
  def sampleExactN(df: DataFrame, keyCol: String, n: Int): DataFrame = {
    require(n > 0, s"n=$n")
    df.orderBy(md5(col(keyCol).cast("string")), col(keyCol)).limit(n)
  }

  /** Deterministic weighted Bernoulli selection: keep each row with
    * probability `clamp01(weight · scale)` decided by the md5
    * membership bucket of its unique key — the application shape of
    * per-document importance/quality weights (DSIR resampling, quality
    * -proportional thinning). Against `rand()`-based Bernoulli this is
    * reproducible across runs AND incremental: re-running over an
    * extended corpus keeps exactly the same rows for unchanged keys,
    * so yesterday's selection is a strict subset of today's. A pure
    * narrow filter — no shuffle, no driver state, rides the scan at
    * any corpus size. The effective probability is rounded to 6 dp
    * before the bucket compare so the keep boundary is FP-portable
    * across engines. */
  def weightedSample(df: DataFrame, weight: Column, keyCol: String,
                     scale: Double = 1.0, modulus: Int = 1 << 20): DataFrame =
    df.where(membershipBucket(col(keyCol), modulus) <
      least(greatest(round(weight * scale, 6), lit(0.0)), lit(1.0)) * modulus)

  /** Per-key volume cap (RefinedWeb's pages-per-domain limit, the
    * anti-SEO-farm guard): keep at most `cap` rows per `keyCol`
    * group, chosen either best-by-`scoreCol` or by the deterministic
    * `(md5(id), id)` sample order — the string-key generalization of
    * [[graft.ext.Selection.clusterBalance]]'s per-cell cap, usable on
    * any grouping ([[graft.ext.TextStats.urlDomain]] site keys,
    * source labels, licence buckets).
    *
    * Scale shape: ONE exchange on the key; the cap plans as
    * WindowGroupLimit (no group fully sorts) and groups under the cap
    * pass through complete. Output ≤ |keys|·cap rows. */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String, cap: Int,
                scoreCol: Option[String] = None): DataFrame = {
    require(cap >= 1, s"cap=$cap")
    import org.apache.spark.sql.expressions.Window
    val ord: Seq[Column] = (scoreCol match {
      case Some(sc) => Seq(col(sc).desc)
      case None => Seq.empty
    }) ++ Seq(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__cap_rank", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(ord: _*)))
      .where(col("__cap_rank") <= cap)
      .drop("__cap_rank")
  }
}
