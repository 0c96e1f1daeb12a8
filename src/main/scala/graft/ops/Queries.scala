package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.etl.Cleaning
import Tables._

/** SURVEY §2 operator inventory, grounded as named queries over the
  * fixture tables, each (where SQL-expressible) paired with DuckDB
  * oracle SQL in [[oracles]].
  *
  * Determinism rules (SURVEY §7.2): no rand()/engine hash() — orderings
  * use natural keys or portable md5 hex; sampling uses modular
  * arithmetic on integer keys. Every query ends in a total ORDER BY so
  * output is reproducible row-for-row.
  */
object Queries {

  type Q = (SparkSession, String) => DataFrame

  // ---- 2.1/2.2 scans, projections, filters, derived columns ----

  /** P1+P3: projection with predicate pushed to the parquet scan. */
  val scanProject: Q = (s, dir) =>
    lineitem(s, dir)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .where(col("l_quantity") >= 30)
      .orderBy("l_orderkey", "l_linenumber")

  val scanProjectSql =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |WHERE l_quantity >= 30 ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** P2: IS NOT NULL filter (01_merchcat_etl.py:26). */
  val filterNotNull: Q = (s, dir) =>
    customer(s, dir)
      .filter(col("c_mktsegment").isNotNull)
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  val filterNotNullSql =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE c_mktsegment IS NOT NULL ORDER BY c_custkey""".stripMargin

  /** P4+P6+P7+F6: withColumn chain, when/otherwise, literals,
    * arithmetic (mirrors sample-rate clamp 01_merchcat_etl.py:150-151). */
  val derivedWhen: Q = (s, dir) =>
    orders(s, dir)
      .withColumn("size_class",
        when(col("o_totalprice") > 200000, lit("BIG")).otherwise(lit("SMALL")))
      .withColumn("tithe", col("o_totalprice") * lit(0.1))
      .select("o_orderkey", "o_totalprice", "size_class", "tithe")
      .orderBy("o_orderkey")

  val derivedWhenSql =
    """SELECT o_orderkey, o_totalprice,
      |  CASE WHEN o_totalprice > 200000 THEN 'BIG' ELSE 'SMALL' END AS size_class,
      |  o_totalprice * 0.1 AS tithe
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** P5: rename + drop (02_merchcat_ml.py:43, fasttext_utils.py:35). */
  val renameDrop: Q = (s, dir) =>
    supplier(s, dir)
      .withColumnRenamed("s_acctbal", "balance")
      .drop("s_nationkey")
      .orderBy("s_suppkey")

  val renameDropSql =
    """SELECT s_suppkey, s_name, s_acctbal AS balance
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  // ---- 2.3 joins ----

  /** J1: left equi-join of a dimension with per-key counts
    * (02_merchcat_ml.py:39-43); count side broadcast. */
  val joinLeft: Q = (s, dir) => {
    val counts = orders(s, dir).groupBy("o_custkey")
      .agg(count(lit(1)).as("order_count"))
    customer(s, dir)
      .join(broadcast(counts), col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_name"),
        coalesce(col("order_count"), lit(0L)).as("order_count"))
      .orderBy("c_custkey")
  }

  val joinLeftSql =
    """SELECT c_custkey, c_name, COALESCE(t.order_count, 0) AS order_count
      |FROM customer LEFT JOIN
      | (SELECT o_custkey, COUNT(*) AS order_count FROM orders GROUP BY 1) t
      | ON c_custkey = t.o_custkey
      |ORDER BY c_custkey""".stripMargin

  /** J2: inner equi-join of two aggregates on the same key
    * (02_merchcat_ml.py:527). */
  val joinInner: Q = (s, dir) => {
    val li = lineitem(s, dir)
    val qty = li.groupBy("l_suppkey").agg(dsum(col("l_quantity")).as("total_qty"))
    val cnt = li.groupBy("l_suppkey").agg(count(lit(1)).as("n_items"))
    qty.join(cnt, Seq("l_suppkey"))
      .select("l_suppkey", "total_qty", "n_items")
      .orderBy("l_suppkey")
  }

  val joinInnerSql =
    """SELECT a.l_suppkey, a.total_qty, b.n_items FROM
      | (SELECT l_suppkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |  FROM lineitem GROUP BY 1) a
      | JOIN
      | (SELECT l_suppkey, COUNT(*) AS n_items FROM lineitem GROUP BY 1) b
      | ON a.l_suppkey = b.l_suppkey
      |ORDER BY a.l_suppkey""".stripMargin

  /** Skew-salted join (capability surface beyond reference): lineitem
    * (fact, skewed in the general case) ⋈ orders on the order key with
    * an 8-way salt — the hot key fans over 8 partitions, the build
    * side is replicated 8×, and the result is row-identical to the
    * plain join, which is exactly what the oracle checks. */
  val joinSalted: Q = (s, dir) =>
    Skew.saltedJoin(lineitem(s, dir), orders(s, dir),
        "l_orderkey", "o_orderkey", salts = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("total_qty"))
      .orderBy("o_orderpriority")

  val joinSaltedSql =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** As-of join (capability surface beyond reference): each view event
    * attributed to the user's most recent click at-or-before it —
    * composed as union + running window (AsOf.asofJoin), oracled
    * against DuckDB's native ASOF JOIN. Clicks pre-aggregated per
    * (user, ts) so the match is tie-free in both engines. */
  val joinAsof: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val views = ev.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts"))
    val clicks = ev.where(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
    AsOf.asofJoin(views, clicks, "user_id", "ts", Seq("click_id"))
      .select(col("view_id"), col("user_id"),
        unix_micros(col("ts")).as("view_ts_us"), col("click_id"))
      .orderBy("view_id")
  }

  val joinAsofSql =
    """WITH v AS (SELECT event_id AS view_id, user_id, ts FROM events
      |  WHERE event_type = 'view'),
      |c AS (SELECT user_id, ts, MAX(event_id) AS click_id FROM events
      |  WHERE event_type = 'click' GROUP BY 1, 2)
      |SELECT view_id, v.user_id, epoch_us(v.ts) AS view_ts_us, c.click_id
      |FROM v ASOF LEFT JOIN c ON v.user_id = c.user_id AND v.ts >= c.ts
      |ORDER BY view_id""".stripMargin

  /** Semi join (capability surface beyond reference). */
  val joinSemi: Q = (s, dir) => {
    val bigOrders = orders(s, dir).where(col("o_totalprice") > 250000)
    customer(s, dir)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val joinSemiSql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 250000)
      |ORDER BY c_custkey""".stripMargin

  /** Anti join (capability surface beyond reference): customers with no
    * large order — non-empty at every SF, unlike a plain anti join
    * against all orders. */
  val joinAnti: Q = (s, dir) => {
    val bigOrders = orders(s, dir).where(col("o_totalprice") > 250000)
    customer(s, dir)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val joinAntiSql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 250000)
      |ORDER BY c_custkey""".stripMargin

  /** Bloom-pruned join (capability surface beyond reference): lineitem
    * pruned by a bloom filter over high-value orders' keys
    * ([[graft.ops.BloomJoin]], native codegen'd probe above the scan),
    * then the normal equi-join + agg. The bloom is a pre-filter only —
    * the join removes its false positives — so the oracle is the plain
    * inner join: any row the filter wrongly drops (a false NEGATIVE,
    * which blooms must never produce) breaks the hash match. */
  val joinBloom: Q = (s, dir) => {
    val bigOrders = orders(s, dir).where(col("o_totalprice") > 400000)
      .select("o_orderkey", "o_orderpriority")
    graft.ops.BloomJoin.prunedJoin(
        lineitem(s, dir).select("l_orderkey", "l_quantity"), bigOrders,
        "l_orderkey", "o_orderkey", expectedItems = 40000)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  val joinBloomSql =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_totalprice > 400000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- 2.4 aggregations ----

  /** A1: group-by count (01_merchcat_etl.py:122,147). */
  val aggCount: Q = (s, dir) =>
    orders(s, dir).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  val aggCountSql =
    """SELECT o_orderpriority, COUNT(*) AS n FROM orders
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Parquet aggregate pushdown: ungrouped COUNT/MIN/MAX answered
    * from footer statistics — at 100 TB this is a METADATA-ONLY
    * query, no row group ever decoded. Needs the DSv2 parquet path +
    * `parquet.aggregatePushdown`, both scoped to this computation and
    * restored (leaving session state flipped behind a query's back is
    * how drifts start) — which forces eager evaluation here, since a
    * lazily returned frame would be re-planned by the sink AFTER the
    * restore. The query THROWS unless the plan actually pushed the
    * aggregation (the `q_skipping_scan` driver-gate pattern), then
    * returns the one materialized row. */
  val aggPushdown: Q = (s, dir) => {
    val keys = Seq(
      "spark.sql.parquet.aggregatePushdown" -> "true",
      "spark.sql.sources.useV1SourceList" -> "")
    val prev = keys.map { case (k, _) => k -> s.conf.getOption(k) }
    keys.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val df = s.read.parquet(s"$dir/lineitem.parquet")
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("min_key"),
          max(col("l_extendedprice")).as("max_price"))
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("PushedAggregation: [COUNT(*)"),
        s"aggregate did not push to the parquet scan:\n$plan")
      val r = df.head()
      s.createDataFrame(
        java.util.List.of(r),
        df.schema)
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  val aggPushdownSql =
    """SELECT COUNT(*) AS n_rows, MIN(l_orderkey) AS min_key,
      |  MAX(l_extendedprice) AS max_price FROM lineitem""".stripMargin

  /** A2+A3: sums + ratio-of-aggregates in a single pass — the
    * per-merchant accuracy shape (02_merchcat_ml.py:522-530) without
    * the reference's two-agg-plus-join detour. */
  val aggRatio: Q = (s, dir) =>
    lineitem(s, dir).groupBy("l_returnflag")
      .agg(
        sum(when(col("l_discount") > 0.05, 1).otherwise(0)).as("n_discounted"),
        count(lit(1)).as("n"),
        (sum(when(col("l_discount") > 0.05, 1).otherwise(0)).cast("double") /
          count(lit(1)).cast("double")).as("disc_ratio"))
      .orderBy("l_returnflag")

  val aggRatioSql =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted,
      |  COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS disc_ratio
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** A4: mean over groups (merchcat_utils.py:63). */
  val aggAvg: Q = (s, dir) =>
    customer(s, dir).groupBy("c_mktsegment")
      .agg(davg(col("c_acctbal")).as("avg_bal"), count(lit(1)).as("n"))
      .orderBy("c_mktsegment")

  val aggAvgSql =
    """SELECT c_mktsegment,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_bal,
      |  COUNT(*) AS n
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  /** A5: quantile summary (merchcat_utils.py:64-71) — exact
    * interpolating percentile, rounded to absorb engine-side FP
    * interpolation-order differences. */
  val aggQuantiles: Q = (s, dir) =>
    customer(s, dir).groupBy("c_mktsegment")
      .agg(
        round(expr("percentile(c_acctbal, 0.05)"), 4).as("q05"),
        round(expr("percentile(c_acctbal, 0.25)"), 4).as("q25"),
        round(expr("percentile(c_acctbal, 0.50)"), 4).as("q50"),
        round(expr("percentile(c_acctbal, 0.75)"), 4).as("q75"),
        round(expr("percentile(c_acctbal, 0.95)"), 4).as("q95"))
      .orderBy("c_mktsegment")

  val aggQuantilesSql =
    """SELECT c_mktsegment,
      |  ROUND(quantile_cont(c_acctbal, 0.05), 4) AS q05,
      |  ROUND(quantile_cont(c_acctbal, 0.25), 4) AS q25,
      |  ROUND(quantile_cont(c_acctbal, 0.50), 4) AS q50,
      |  ROUND(quantile_cont(c_acctbal, 0.75), 4) AS q75,
      |  ROUND(quantile_cont(c_acctbal, 0.95), 4) AS q95
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  /** Distinct aggregate (capability surface). */
  val aggDistinct: Q = (s, dir) =>
    lineitem(s, dir).groupBy("l_returnflag")
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"))
      .orderBy("l_returnflag")

  val aggDistinctSql =
    """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
      |  COUNT(DISTINCT l_partkey) AS n_part
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Rollup (capability surface). */
  val aggRollup: Q = (s, dir) =>
    lineitem(s, dir).rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val aggRollupSql =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin

  /** Sketch aggregates (capability surface beyond reference):
    * approx_count_distinct is HyperLogLog++ and percentile_approx a
    * quantile sketch — both mergeable, so they partial-aggregate
    * map-side and shuffle O(sketch) bytes per group instead of
    * O(rows); at 100 TB these replace exact distinct/percentile
    * whenever tolerance allows. Rows-only: sketch estimates are
    * engine-specific (tolerance vs exact asserted in SketchSpec). */
  val aggSketch: Q = (s, dir) =>
    lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(1000))
          .as("approx_median_qty"))
      .orderBy("l_returnflag")

  // ---- 2.5 windows / 2.6 sorts / top-k ----

  /** W1: per-class percentile over a deterministic shuffle order —
    * the train/test split primitive (01_merchcat_etl.py:176-180) with
    * md5 standing in for unseeded rand(). */
  val windowPercentile: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(shuffleKey(col("o_orderkey")))
    orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        floor(percent_rank().over(w) * 10000).cast("long").as("pct_bucket"))
      .orderBy("o_orderkey")
  }

  val windowPercentileSql =
    """SELECT o_orderkey, o_orderstatus,
      |  CAST(FLOOR(PERCENT_RANK() OVER (PARTITION BY o_orderstatus
      |    ORDER BY md5(CAST(o_orderkey AS VARCHAR))) * 10000) AS BIGINT) AS pct_bucket
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** W2+O3+R5: per-group top-k via row_number (fasttext_utils.py:33-35),
    * deterministic ordering with unique tie-break. */
  val windowTopK: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 2)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .orderBy("o_custkey", "rn")
  }

  val windowTopKSql =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin

  /** O1/O2/O4: global sort + limit over an aggregate (top-20 suppliers
    * by shipped quantity desc). */
  val sortLimit: Q = (s, dir) =>
    lineitem(s, dir).groupBy("l_suppkey")
      .agg(dsum(col("l_quantity")).as("total_qty"))
      .orderBy(col("total_qty").desc, col("l_suppkey"))
      .limit(20)

  val sortLimitSql =
    """SELECT l_suppkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |FROM lineitem GROUP BY 1
      |ORDER BY total_qty DESC, l_suppkey LIMIT 20""".stripMargin

  // ---- 2.7 sampling ----

  /** R1+R2: stratified sample with per-class rate cap
    * (01_merchcat_etl.py:146-155), deterministic: rate =
    * min(target/count, 1), membership by modular arithmetic on the key
    * instead of Bernoulli rand. Rates side broadcast. */
  val sampleStratified: Q = (s, dir) => {
    val target = lit(200.0)
    val rates = orders(s, dir).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rate",
        when(target / col("cnt") > 1, 1.0).otherwise(target / col("cnt")))
    orders(s, dir)
      .join(broadcast(rates.select("o_orderpriority", "rate")), Seq("o_orderpriority"))
      .where(pmod(col("o_orderkey"), lit(10000)) < col("rate") * 10000)
      .select("o_orderkey", "o_orderpriority")
      .orderBy("o_orderkey")
  }

  val sampleStratifiedSql =
    """SELECT o_orderkey, o_orderpriority FROM orders
      |JOIN (SELECT o_orderpriority,
      |        CASE WHEN 200.0 / COUNT(*) > 1 THEN 1.0 ELSE 200.0 / COUNT(*) END AS rate
      |      FROM orders GROUP BY 1) r USING (o_orderpriority)
      |WHERE o_orderkey % 10000 < rate * 10000
      |ORDER BY o_orderkey""".stripMargin

  // ---- 2.8 string/regex scalar functions ----

  /** F1+F2: the RE2-compatible cleaning chain (price/parens/&/alnum/
    * whitespace/PAN + trim) over document text. The date-scrub step
    * needs backreferences (not RE2-expressible) so it is covered by
    * cleanFull (rows-only) + the golden ScalaTest suite. */
  val cleanBasic: Q = (s, dir) =>
    documents(s, dir)
      .select(col("doc_id"), Cleaning.cleanBasicCol(col("text")).as("clean"))
      .orderBy("doc_id")

  val cleanBasicSql =
    """SELECT doc_id, TRIM(
      |  regexp_replace(
      |   regexp_replace(
      |    regexp_replace(
      |     regexp_replace(
      |      regexp_replace(
      |       regexp_replace(text,
      |        '(((?:\d+\.)*\d+,\d+)|(\d+\.\d+))(?:[/\s]*)(?:(gbp|\%))', '', 'g'),
      |       '(\(+)|(\)+)', '', 'g'),
      |      '&', ' and ', 'g'),
      |     '[^a-zA-Z0-9]+', ' ', 'g'),
      |    '\s+', ' ', 'g'),
      |   '\s+x{2,}\s+', ' ', 'g')) AS clean
      |FROM documents ORDER BY doc_id""".stripMargin

  /** U1+F7: full chain including the Java-regex date scrubber — not
    * RE2-expressible, so rows-only (no oracle). */
  val cleanFull: Q = (s, dir) =>
    documents(s, dir)
      .select(col("doc_id"), Cleaning.cleanCol(col("text")).as("clean"))
      .orderBy("doc_id")

  /** F3+F4: fastText label encode (01_merchcat_etl.py:84-94) — label
    * from `lang`, payload from cleaned text. */
  val labelEncode: Q = (s, dir) =>
    documents(s, dir)
      .select(col("doc_id"),
        concat(lit("__label__"),
          regexp_replace(col("lang"), "\\s+", "-"), lit(" "),
          Cleaning.cleanBasicCol(col("text"))).as("fasttext"))
      .orderBy("doc_id")

  val labelEncodeSql =
    """SELECT doc_id, '__label__' || regexp_replace(lang, '\s+', '-', 'g') || ' ' ||
      |  TRIM(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
      |    '(((?:\d+\.)*\d+,\d+)|(\d+\.\d+))(?:[/\s]*)(?:(gbp|\%))', '', 'g'),
      |    '(\(+)|(\)+)', '', 'g'), '&', ' and ', 'g'), '[^a-zA-Z0-9]+', ' ', 'g'),
      |    '\s+', ' ', 'g'), '\s+x{2,}\s+', ' ', 'g')) AS fasttext
      |FROM documents ORDER BY doc_id""".stripMargin

  /** F4 inverse: label decode (merchcat_utils.py:23-28). */
  val labelDecode: Q = (s, dir) =>
    documents(s, dir)
      .select(col("doc_id"),
        regexp_replace(
          regexp_replace(
            concat(lit("__label__"), regexp_replace(col("source"), "\\s+", "-")),
            "__label__", ""),
          "-", " ").as("decoded"))
      .orderBy("doc_id")

  val labelDecodeSql =
    """SELECT doc_id,
      |  regexp_replace(regexp_replace('__label__' || regexp_replace(source, '\s+', '-', 'g'),
      |    '__label__', '', 'g'), '-', ' ', 'g') AS decoded
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- 2.7/2.5 ETL primitives as queries ----

  /** R3: floored/overshoot training-file rate derivation
    * (utils/fasttext_utils.py:46-53) over documents by lang. */
  val sampleRates: Q = (s, dir) =>
    graft.etl.Sampling.flooredRates(documents(s, dir), "lang", 0.2, 30)
      .orderBy("lang")

  val sampleRatesSql =
    """SELECT lang, COUNT(*) AS count,
      |  CASE WHEN COUNT(*) * 0.2 < 30 THEN 30 / COUNT(*) + 0.05 ELSE 0.2 END AS sample_rate
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** W1 as the actual 90/10 split (01_merchcat_etl.py:176-189):
    * deterministic class percentile, train slice. */
  val splitTrain: Q = (s, dir) => {
    val withPct = graft.etl.Split.addClassPercentileDeterministic(
      documents(s, dir).select("doc_id", "lang"), "lang", "doc_id")
    graft.etl.Split.split(withPct, 0.9)._1.orderBy("doc_id")
  }

  // round_even, not ROUND: Spark's bround is half-even, DuckDB's ROUND
  // half-away — they diverge whenever percent_rank hits an exact
  // 5-at-5th-decimal tie (k/(n-1) = 0.03125 at sf0.001 surfaced this)
  val splitTrainSql =
    """SELECT doc_id, lang, class_percentile FROM (
      |  SELECT doc_id, lang,
      |    round_even(PERCENT_RANK() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR))), 4) AS class_percentile
      |  FROM documents) t
      |WHERE class_percentile < 0.9 ORDER BY doc_id""".stripMargin

  /** R5: exactly-N-per-class (fasttext_utils.py:31-42), deterministic
    * ordering. */
  val sampleFixedN: Q = (s, dir) => {
    val w = Window.partitionBy(col("lang"))
      .orderBy(shuffleKey(col("doc_id")), col("doc_id"))
    documents(s, dir)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 40)
      .select("doc_id", "lang", "rank")
      .orderBy("doc_id")
  }

  val sampleFixedNSql =
    """SELECT doc_id, lang, rank FROM (
      |  SELECT doc_id, lang,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
      |  FROM documents) t
      |WHERE rank <= 40 ORDER BY doc_id""".stripMargin

  /** Deterministic exact-N global carve
    * ([[graft.etl.Sampling.sampleExactN]]): the 100 documents whose
    * ids hash smallest — the fixed-size eval-set/annotation-batch
    * contract, planned as TakeOrderedAndProject (per-partition heads,
    * driver O(N), no global sort). */
  val sampleExactNQ: Q = (s, dir) =>
    graft.etl.Sampling.sampleExactN(
        documents(s, dir).select("doc_id", "lang"), "doc_id", 100)
      .orderBy("doc_id")

  val sampleExactNSql =
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang FROM documents
      |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 100) t
      |ORDER BY doc_id""".stripMargin

  /** Cross join (capability surface): region × nation grid. */
  val joinCross: Q = (s, dir) =>
    region(s, dir).crossJoin(nation(s, dir))
      .select("r_regionkey", "r_name", "n_nationkey", "n_name")
      .orderBy("r_regionkey", "n_nationkey")

  val joinCrossSql =
    """SELECT r_regionkey, r_name, n_nationkey, n_name
      |FROM region CROSS JOIN nation
      |ORDER BY r_regionkey, n_nationkey""".stripMargin

  /** Cube (capability surface): all grouping-set combinations. */
  val aggCube: Q = (s, dir) =>
    orders(s, dir).cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  val aggCubeSql =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin

  /** M8: histogram via fixed-width binning — the distributed form of
    * the reference's driver-side `.plot.hist(bins=100)`. */
  val histogram: Q = (s, dir) =>
    orders(s, dir)
      .groupBy(floor(col("o_totalprice") / 20000).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bin")

  val histogramSql =
    """SELECT CAST(FLOOR(o_totalprice / 20000) AS BIGINT) AS bin, COUNT(*) AS n
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** F5: bround (half-even) ⟷ DuckDB round_even — identical off ties
    * and, unlike ROUND, identical ON representable ties too. */
  val broundQ: Q = (s, dir) =>
    orders(s, dir)
      .select(col("o_orderkey"), bround(col("o_totalprice") / 7, 2).as("r"))
      .orderBy("o_orderkey")

  val broundSql =
    """SELECT o_orderkey, round_even(o_totalprice / 7, 2) AS r
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Date parts + arithmetic (capability beyond the reference, which
    * only destroys dates). */
  val dateParts: Q = (s, dir) =>
    orders(s, dir).select(col("o_orderkey"),
      year(col("o_orderdate")).as("y"),
      month(col("o_orderdate")).as("m"),
      dayofmonth(col("o_orderdate")).as("d"),
      datediff(lit("1998-12-31").cast("date"), col("o_orderdate").cast("date"))
        .as("days_to_eoy"))
      .orderBy("o_orderkey")

  val datePartsSql =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS INT) AS y,
      |  CAST(month(o_orderdate) AS INT) AS m,
      |  CAST(day(o_orderdate) AS INT) AS d,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INT) AS days_to_eoy
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** U1 through the SQL surface: the registered clean_text UDF invoked
    * from spark.sql (rows-only — the full chain includes the
    * backreference date regex, not RE2-expressible). */
  val cleanUdfSql_q: Q = (s, dir) => {
    graft.etl.Cleaning.registerUdfs(s)
    documents(s, dir).createOrReplaceTempView("__docs")
    s.sql("""SELECT doc_id, clean_text(text) AS clean
            |FROM __docs ORDER BY doc_id""".stripMargin)
  }

  // ---- 2.9/2.10 ML surface (M1/M2/M7): training is not SQL — rows-only ----

  /** Train-and-score on the documents fixture, one registry artifact:
    * q_ml_score, q_ml_eval_summary and q_ml_planted_accuracy
    * share ONE deterministic model + scored frame instead of training
    * three times (training is the costliest fixed overhead in the
    * bench, invariant to budget).
    *
    * The raw fixture text is random — uncorrelated with the label — so
    * a model trained on it can only demonstrate plumbing. Three
    * label-correlated tokens (`xsig<lang>`) are therefore appended to
    * every document, deterministically, before the reference pipeline
    * (clean → label → split → train → score): a working trainer must
    * recover the signal, which q_ml_planted_accuracy asserts. */
  private def trainedScore(s: SparkSession, dir: String): DataFrame =
    Artifacts.get("trained_score", s, dir) {
      val sig = concat(lit("xsig"), col("lang"))
      val docs = documents(s, dir).select(col("doc_id"), col("lang"),
        concat_ws(" ", col("text"), sig, sig, sig).as("text"))
      val cfg = graft.etl.Etl.Config(labelCol = "lang", textCol = "text",
        keyCol = "doc_id", sampleSize = 5000, countThreshold = 10)
      val labeled = graft.etl.Etl.cleanAndLabel(docs, cfg)
      val withPct = graft.etl.Split.addClassPercentileDeterministic(labeled, "lang", "doc_id")
      val (train, test) = graft.etl.Split.split(withPct, 0.9)
      // demo-sized budget: the planted signal is 3 dedicated tokens
      // per doc, so a small hash space and few epochs recover it;
      // bigger budgets only pay more fixed Spark-ML job overhead
      // (measured invariant to numFeatures/maxIter in round 1)
      val model = graft.ml.Trainer.train(train, "lang", "text_clean",
        graft.ml.Trainer.Params(epoch = 3, wordNgrams = 1, numFeatures = 1 << 13))
      // four downstream actions read this frame (score, summary,
      // accuracy check + output) — cache the scored test split (bounded
      // by construction) instead of re-featurizing per action
      model.predict(test, "text_clean", "pr_lang").persist()
    }

  /** M1+U2: train-and-batch-score (the spark_udf path,
    * 02_merchcat_ml.py:506-513). Rows-only: training isn't in SQL. */
  val mlScore: Q = (s, dir) =>
    trainedScore(s, dir).select("doc_id", "lang", "pr_lang").orderBy("doc_id")

  /** M2: per-class accuracy quantile summary (merchcat_utils.py:64-71).
    * Rows-only. */
  val mlEvalSummary: Q = (s, dir) =>
    graft.ml.Evaluator.summary(trainedScore(s, dir), "lang", "pr_lang")

  /** M1+M2 accuracy demonstration (the reference's headline claim,
    * 02_merchcat_ml.py:328): per-class accuracy on the held-out split
    * of the planted-signal corpus. The query THROWS if overall accuracy
    * falls under 0.9, so a non-learning trainer fails the driver gate
    * outright; rows-only otherwise (training is not SQL). */
  val mlPlantedAccuracy: Q = (s, dir) => {
    val scored = trainedScore(s, dir)
    val perClass = scored.groupBy("lang").agg(
        count(lit(1)).as("n"),
        sum(when(col("pr_lang") === col("lang"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("accuracy",
        round(col("n_correct").cast("double") / col("n").cast("double"), 4))
    val rows = perClass.collect()
    val n = rows.map(_.getAs[Long]("n")).sum
    val correct = rows.map(_.getAs[Long]("n_correct")).sum
    val overall = correct.toDouble / math.max(n, 1L)
    require(overall >= 0.9,
      f"planted-signal accuracy $overall%.4f < 0.9 — trainer failed to learn")
    perClass.orderBy("lang")
  }

  /** Model-based quality filter under the driver gate
    * ([[graft.ml.QualityFilter]]): the curated-vs-raw classifier —
    * the canonical GPT-3/LLaMA pipeline stage downstream of the rule
    * filters. The fixture text is random (uncorrelated with any
    * quality notion), so quality is PLANTED: docs with doc_id % 3 != 0
    * carry a "curated" marker phrase, the rest a "raw" one; the
    * classifier trains on the 80% split and must recover the signal on
    * the held-out 20% — the query THROWS under 0.9 accuracy, so a
    * non-learning filter fails the driver outright. Output: bounded
    * per-source keep counts at the 0.5 threshold. Rows-only (training
    * is not SQL). The held-out docs scored with keep_prob, gate
    * already enforced, are one persisted artifact so
    * Verify/Bench/PlanSpec train once. */
  private def qualityScored(s: SparkSession, dir: String): DataFrame =
    Artifacts.get("quality_scored", s, dir) {
      val curatedDoc = col("doc_id") % 3 =!= 0
      val sig = when(curatedDoc, lit("wellformed cited prose"))
        .otherwise(lit("boilerplate scraped clutter"))
      val docs = documents(s, dir).select(col("doc_id"), col("source"),
        concat_ws(" ", col("text"), sig, sig).as("text"))
      val train = docs.where(col("doc_id") % 10 < 8)
      val heldout = docs.where(col("doc_id") % 10 >= 8)
      val qm = graft.ml.QualityFilter.train(
        train.where(curatedDoc), train.where(!curatedDoc), "text")
      val scored = qm.score(heldout, "text").persist()
      val r = scored.agg(
        sum(when((col("keep_prob") >= 0.5) === curatedDoc, 1L)
          .otherwise(0L)).as("ok"),
        count(lit(1)).as("n")).head()
      val acc = r.getLong(0).toDouble / math.max(r.getLong(1), 1L)
      require(acc >= 0.9,
        f"quality classifier held-out accuracy $acc%.4f < 0.9 — " +
          "the curated-vs-raw filter failed to learn")
      scored
    }

  val qualityClassifierQ: Q = (s, dir) =>
    qualityScored(s, dir).groupBy("source").agg(
        count(lit(1)).as("n"),
        sum(when(col("keep_prob") >= 0.5, 1L).otherwise(0L)).as("n_keep"))
      .orderBy("source")

  /** M5 under the driver gate: a small deterministic hyperparameter
    * search on a bounded planted-signal slice — successive halving
    * must match-or-beat random search's best objective while spending
    * no more than HALF random's total training epochs, else the query
    * THROWS (the q_ml_planted_accuracy pattern). Rows-only: training
    * is not SQL. A registry artifact — the search is the expensive
    * part, and Verify/Bench/PlanSpec all touch the query. */
  val tuningHalving: Q = (s, dir) =>
    Artifacts.get("tuning_halving", s, dir) {
      import s.implicits._
      val sig = concat(lit("xsig"), col("lang"))
      // bounded slice: the demo must cost the same at every SF. The
      // text is pure label signal + shared noise (the random fixture
      // prose is dropped): every sampled config can saturate the task,
      // so the halving-vs-random comparison measures budget
      // ALLOCATION, not config luck on one hard document — the
      // harder-task halving≥random claim is MlSpec's separate job.
      val docs = documents(s, dir).where(col("doc_id") < 400)
        .select(col("doc_id"), col("lang"),
          concat_ws(" ", lit("pay"), sig, lit("txn"), sig, sig).as("text"))
      val cfg = graft.etl.Etl.Config(labelCol = "lang", textCol = "text",
        keyCol = "doc_id", sampleSize = 5000, countThreshold = 10)
      val labeled = graft.etl.Etl.cleanAndLabel(docs, cfg).persist()
      val train = labeled.where(col("doc_id") % 10 < 8)
      val validation = labeled.where(col("doc_id") % 10 >= 8)
      val tmp = java.nio.file.Files.createTempDirectory("graft_tune").toString
      // epoch floor 8 so random's 6 trials spend >= 48 epochs; halving's
      // rungs (4@2 + 2@4 + 1@8 = 24) then cost at most half for any
      // seeded draw, and its final rung trains at random's epoch floor
      // so the comparison measures allocation, not a starved finisher
      // small hash space: the pure-signal vocabulary is tiny, and
      // L-BFGS cost scales with numFeatures × classes — 2^12..2^13
      // keeps each trial cheap without losing separability
      val space = graft.ml.Tuning.Space(epoch = (8, 15),
        numFeaturesLog2 = (12, 13))
      // the two searches are independent — run them concurrently on a
      // DEDICATED two-thread pool (not the global ExecutionContext:
      // parking unbounded waits on a shared pool starves whoever else
      // uses it) and bound the wait, so a hung trial fails this query
      // loudly instead of wedging the whole Verify run
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try {
        val fRandom = Future(graft.ml.Tuning.search(train, validation,
          "lang", "text_clean", new graft.ml.Tracking(tmp + "/rand"),
          space, maxEvals = 6, parallelism = 6))
        val fHalved = Future(graft.ml.Tuning.searchHalving(train, validation,
          "lang", "text_clean", new graft.ml.Tracking(tmp + "/sh"),
          space, n0 = 4, rung0Epochs = 2, parallelism = 4))
        // generous: ~13 bounded trials on a 400-doc slice finish in
        // seconds; 10 minutes only trips on a genuinely wedged trial
        val random = Await.result(fRandom, 10.minutes)
        val halved = Await.result(fHalved, 10.minutes)
      val randomEpochs = random.map(_.params.epoch).sum
      // rung schedule n0=4, budgets 2,4,8 → 4·2 + 2·4 + 1·8
      var (n, b, halvingEpochs) = (4, 2, 0)
      var going = true
      while (going) {
        halvingEpochs += n * b
        if (n <= 1) going = false else { n = (n + 1) / 2; b *= 2 }
      }
      val randomBest = random.head.metrics("avg__acc")
      val halvedBest = halved.head.metrics("avg__acc")
      require(halvedBest >= randomBest,
        f"halving best $halvedBest%.4f < random best $randomBest%.4f")
      require(halvingEpochs * 2 <= randomEpochs,
        s"halving spent $halvingEpochs epochs, random $randomEpochs — " +
          "adaptive allocation must cost at most half")
      Seq(
        ("halving", halved.size, halvingEpochs, halvedBest),
        ("random", random.size, randomEpochs, randomBest))
        .toDF("method", "n_final_trials", "total_epochs", "best_acc")
      } finally {
        // in finally, not after the awaits: a timed-out or failed
        // search must not leak the persisted frame for the session —
        // and the pool must shut down even if unpersist itself throws
        try labeled.unpersist() finally pool.shutdown()
      }
    }

  /** S3+S4+S5 driver-grounded: fastText-format lines → the
    * single-flat-file TrainingFile sink (coalesce funnel + part-file
    * rename) → file listing → read back with spark.read.text → per-label
    * line count and an order-independent content checksum. The oracle
    * derives the same aggregate straight from the parquet table, so any
    * loss in the write→list→read round trip shows up as a mismatch. */
  val trainingFileRoundtrip: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    // scoped by pid as well as fixture dir: two concurrent harness
    // processes (Verify + Bench) over the same fixture must not
    // overwrite each other's round trip mid-read
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_tf_" + Integer.toHexString(dir.hashCode) + "_" +
        ProcessHandle.current().pid()).getAbsolutePath
    documents(s, dir)
      .select(col("lang"),
        concat(lit("__label__"), col("lang"), lit(" "), col("text")).as("line"))
      .write.mode("overwrite").parquet(s"$base/data.parquet")
    val tf = new graft.etl.TrainingFile(
      s"$base/data.parquet", s"$base/out", "lang", "line")
    val path = tf.writeAllTo("roundtrip.txt")
    val listed = graft.etl.TrainingFile.listTrainingFiles(s"$base/out")
    require(listed.exists(_.endsWith("roundtrip.txt")),
      s"written training file missing from listing: $listed")
    s.read.text(path)
      .select(regexp_extract(col("value"), "^__label__(\\S+)", 1).as("lang"),
        conv(substring(md5(col("value")), 1, 8), 16, 10).cast("long").as("__h"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_lines"), sum(col("__h")).as("content_sum"))
      .orderBy("lang")
  }

  val trainingFileRoundtripSql = {
    val hex = (i: Int) =>
      s"(instr('0123456789abcdef', substr(md5(line), $i, 1)) - 1)"
    val hex8 = (1 to 8).map(i =>
      s"CAST(${hex(i)} AS BIGINT) * ${1L << (4 * (8 - i))}").mkString(" + ")
    s"""WITH l AS (
       |  SELECT lang, '__label__' || lang || ' ' || text AS line FROM documents)
       |SELECT lang, COUNT(*) AS n_lines,
       |  CAST(SUM($hex8) AS BIGINT) AS content_sum
       |FROM l GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Atomic-publish round trip under the driver gate: write an OLD
    * half-table version, then publish the full table, read back
    * through the manifest and aggregate — a stale or partial read
    * (the failure modes Publish exists to prevent) would mismatch the
    * parquet-direct oracle. */
  val publishRoundtrip: Q = (s, dir) => {
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_pub_" + Integer.toHexString(dir.hashCode) + "_" +
        ProcessHandle.current().pid()).getAbsolutePath
    val df = documents(s, dir).select("doc_id", "lang", "n_chars")
    graft.etl.Publish.write(df.where(col("doc_id") % 2 === 0), base)
    graft.etl.Publish.write(df, base)
    graft.etl.Publish.read(s, base)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  val publishRoundtripSql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Deterministic per-(input-dir, process) scratch table dir,
    * CLEARED before reuse — repeated harness runs (the 10×/100×/1000×
    * correctness sweeps) reuse one path instead of leaking a fresh
    * UUID-named parquet copy per invocation, and clearing keeps
    * publish ordinal sequences starting from 1. */
  private def scratchTableDir(prefix: String, dir: String): String = {
    val f = new java.io.File(sys.props("java.io.tmpdir"),
      prefix + Integer.toHexString(dir.hashCode) + "_" +
        ProcessHandle.current().pid())
    def rm(x: java.io.File): Unit = {
      // never recurse THROUGH a symlink — listFiles on a link
      // resolves to the target, so a planted/leftover link inside the
      // reused scratch path would have its target's contents deleted;
      // deleting the link itself is enough (same guard as
      // ExtQueries.scratchDir)
      if (!java.nio.file.Files.isSymbolicLink(x.toPath))
        Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
      x.delete(); ()
    }
    rm(f)
    f.getAbsolutePath
  }

  /** Time travel over the publish commit log: version 1 (even doc_ids
    * only) is superseded by version 2 (the full table) — and then
    * read back AS OF its ordinal, proving a superseded-but-unvacuumed
    * version stays exactly readable while [[graft.etl.Publish.read]]
    * serves the latest. A cleared table dir per run keeps the ordinal
    * sequence at exactly (1, 2). */
  val publishTimetravel: Q = (s, dir) => {
    val base = scratchTableDir("graft_tt_", dir)
    val df = documents(s, dir).select("doc_id", "lang", "n_chars")
    graft.etl.Publish.write(df.where(col("doc_id") % 2 === 0), base)
    graft.etl.Publish.write(df, base)
    val hist = graft.etl.Publish.history(base)
    require(hist.map(_._1) == Seq(1L, 2L), s"unexpected history $hist")
    graft.etl.Publish.readVersion(s, base, 1L)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  val publishTimetravelSql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE doc_id % 2 = 0 GROUP BY 1 ORDER BY 1""".stripMargin

  /** Featurizer shape is SQL-checkable even though training isn't:
    * token/bigram counts of the cleaned text. */
  val featurizeCounts: Q = (s, dir) =>
    documents(s, dir)
      .select(col("doc_id"),
        graft.ml.Featurize.tokensCol(col("text")).as("__t"))
      .select(col("doc_id"),
        size(col("__t")).as("n_tokens"),
        size(graft.ml.Featurize.ngramsCol(col("__t"), 2)).as("n_bigrams"))
      .orderBy("doc_id")

  val featurizeCountsSql =
    """SELECT doc_id,
      |  len(list_filter(string_split_regex(trim(text), '\s+'), t -> len(t) > 0)) AS n_tokens,
      |  GREATEST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> len(t) > 0)) - 1, 0) AS n_bigrams
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- widening coverage: pivot / set ops / running windows /
  //      collect aggregates / JSONL source+sink ----

  /** Pivot with an EXPLICIT value list — the scale-safe form (no
    * distinct-scan of the pivot column; at 100 TB an implicit pivot
    * is a full extra pass). Missing cells filled to 0 so the result
    * matches SQL's conditional-sum formulation. */
  val pivotQ: Q = (s, dir) =>
    orders(s, dir)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("F", "O", "P"))
      .orderBy("o_orderpriority")

  val pivotSql =
    """SELECT o_orderpriority,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O",
      |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS "P"
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** INTERSECT / EXCEPT (distinct set semantics in both engines),
    * tagged and unioned into one deterministic result. */
  val setOps: Q = (s, dir) => {
    val withOrders = orders(s, dir).select(col("o_custkey").as("custkey"))
    val building = customer(s, dir)
      .where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("custkey"))
    building.intersect(withOrders).withColumn("set_op", lit("intersect"))
      .union(building.except(withOrders).withColumn("set_op", lit("except")))
      .orderBy("set_op", "custkey")
  }

  val setOpsSql =
    """SELECT custkey, 'intersect' AS set_op FROM (
      |  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  INTERSECT
      |  SELECT o_custkey FROM orders)
      |UNION ALL
      |SELECT custkey, 'except' AS set_op FROM (
      |  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  EXCEPT
      |  SELECT o_custkey FROM orders)
      |ORDER BY set_op, custkey""".stripMargin

  /** Running total (decimal-exact window sum) + lag/lead — the
    * cumulative/offset window surface; one hash exchange on the
    * partition key serves all three frames. */
  val windowRunning: Q = (s, dir) => {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders(s, dir)
      .withColumn("run_total",
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
      .select("o_orderkey", "o_custkey", "run_total", "prev_price", "next_price")
      .orderBy("o_orderkey")
  }

  val windowRunningSql =
    """SELECT o_orderkey, o_custkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_total,
      |  LAG(o_totalprice, 1) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
      |  LEAD(o_totalprice, 1) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** collect_set + sort_array serialized to a deterministic string —
    * the list-aggregate surface without relying on array output
    * comparison. */
  val aggCollect: Q = (s, dir) =>
    orders(s, dir).groupBy("o_orderpriority")
      .agg(
        concat_ws(",", sort_array(collect_set(col("o_orderstatus"))))
          .as("statuses"),
        countDistinct(col("o_orderstatus")).as("n_status"))
      .orderBy("o_orderpriority")

  val aggCollectSql =
    """SELECT o_orderpriority,
      |  array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses,
      |  CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** JSONL round trip — the lingua franca of LLM training corpora:
    * rows → to_json lines → text sink → spark.read.json (schema
    * inferred) → per-language counts + an order-independent content
    * checksum, so any fidelity loss through JSON encode/decode shows
    * up as a value mismatch against the parquet-direct oracle. */
  val jsonlRoundtrip: Q = (s, dir) => {
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_jsonl_" + Integer.toHexString(dir.hashCode) + "_" +
        ProcessHandle.current().pid()).getAbsolutePath
    documents(s, dir)
      .select(to_json(struct(col("doc_id"), col("lang"), col("text"))).as("value"))
      .write.mode("overwrite").text(base)
    s.read.json(base)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_id"),
        sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
          .as("text_sum"))
      .orderBy("lang")
  }

  val jsonlRoundtripSql = {
    val hex = (i: Int) =>
      s"(instr('0123456789abcdef', substr(md5(text), $i, 1)) - 1)"
    val hex8 = (1 to 8).map(i =>
      s"CAST(${hex(i)} AS BIGINT) * ${1L << (4 * (8 - i))}").mkString(" + ")
    s"""SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(doc_id) AS BIGINT) AS sum_id,
       |  CAST(SUM($hex8) AS BIGINT) AS text_sum
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** ORC round trip — the second columnar format Spark bundles
    * (vectorized reader, predicate pushdown, same footer-stats model
    * as parquet): rows → ORC sink → ORC scan → per-language counts +
    * the same order-independent content checksum the JSONL round trip
    * uses, so encode/decode fidelity is value-checked against the
    * parquet-direct oracle. */
  val orcRoundtrip: Q = (s, dir) => {
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_orc_" + Integer.toHexString(dir.hashCode) + "_" +
        ProcessHandle.current().pid()).getAbsolutePath
    documents(s, dir).select("doc_id", "lang", "text", "n_chars")
      .write.mode("overwrite").orc(base)
    s.read.orc(base)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_id"),
        sum(col("n_chars")).as("sum_chars"),
        sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
          .as("text_sum"))
      .orderBy("lang")
  }

  val orcRoundtripSql = {
    val hex = (i: Int) =>
      s"(instr('0123456789abcdef', substr(md5(text), $i, 1)) - 1)"
    val hex8 = (1 to 8).map(i =>
      s"CAST(${hex(i)} AS BIGINT) * ${1L << (4 * (8 - i))}").mkString(" + ")
    s"""SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(doc_id) AS BIGINT) AS sum_id,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM($hex8) AS BIGINT) AS text_sum
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** CSV round trip — the interchange format every ingest pipeline
    * still meets. The document text carries embedded newlines and
    * quotes, so the trip only survives with RFC-4180 discipline:
    * WRITE with quote-doubling (`escape = "` — Spark's default `\`
    * escape is not what other CSV readers expect), READ with
    * `multiLine` (quoted newlines span physical lines) and the
    * EXPLICIT source schema (inference on free text is a fidelity
    * hazard, not a convenience). Checksummed like the JSONL/ORC trips
    * so any mangling shows up against the parquet-direct oracle. */
  val csvRoundtrip: Q = (s, dir) => {
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_csv_" + Integer.toHexString(dir.hashCode) + "_" +
        ProcessHandle.current().pid()).getAbsolutePath
    val src = documents(s, dir).select("doc_id", "lang", "text", "n_chars")
    src.write.mode("overwrite")
      .option("header", "true").option("escape", "\"")
      .csv(base)
    s.read.schema(src.schema)
      .option("header", "true").option("multiLine", "true")
      .option("escape", "\"")
      .csv(base)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_id"),
        sum(col("n_chars")).as("sum_chars"),
        sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
          .as("text_sum"))
      .orderBy("lang")
  }

  val csvRoundtripSql = orcRoundtripSql

  /** Temperature-weighted training mix (√count weights, capped):
    * the multilingual upsampling move, deterministic md5-bucket
    * membership, rate arithmetic mirrored op-for-op in the oracle
    * (sqrt/div/mul/min are all IEEE-exact cross-engine; the
    * normalizer folds in sorted-label order on both sides). */
  val sampleTemperatureQ: Q = (s, dir) =>
    graft.etl.Sampling.sampleTemperature(
        documents(s, dir).select("doc_id", "lang"), "lang", "doc_id",
        target = 300)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  val sampleTemperatureSql = {
    val hex = (i: Int) =>
      s"(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    val hex8 = (1 to 8).map(i =>
      s"CAST(${hex(i)} AS BIGINT) * ${1L << (4 * (8 - i))}").mkString(" + ")
    s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
       |t AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(sqrt(CAST(n AS DOUBLE)) ORDER BY lang)), (a, b) -> a + b) AS tot
       |  FROM c),
       |r AS (SELECT lang,
       |    least(300.0 * (sqrt(CAST(n AS DOUBLE)) / tot), CAST(n AS DOUBLE))
       |      / CAST(n AS DOUBLE) AS rate
       |  FROM c, t)
       |SELECT doc_id, lang FROM documents JOIN r USING (lang)
       |WHERE ($hex8) % 1048576 < rate * 1048576
       |ORDER BY doc_id""".stripMargin
  }

  /** Deterministic training-export shuffle ([[graft.etl.Sharding]]):
    * md5-bucket shard + md5-ordered position within each shard — the
    * reproducible global shuffle a sharded training export needs,
    * with one exchange (on shard) and per-shard sorts instead of a
    * global single-partition window. */
  val shardShuffleQ: Q = (s, dir) =>
    graft.etl.Sharding.shuffleShards(
        documents(s, dir).select("doc_id"), "doc_id", nShards = 8)
      .select("doc_id", "shard", "pos")
      .orderBy("doc_id")

  val shardShuffleSql = {
    val hex = (i: Int) =>
      s"(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    val hex8 = (1 to 8).map(i =>
      s"CAST(${hex(i)} AS BIGINT) * ${1L << (4 * (8 - i))}").mkString(" + ")
    s"""SELECT doc_id, CAST(($hex8) % 8 AS INTEGER) AS shard,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY ($hex8) % 8
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS pos
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Multi-epoch training shuffle ([[graft.etl.Sharding.shuffleShards]]
    * with `epoch` salts): two epochs of the same corpus — shard
    * membership must be IDENTICAL (the join on (doc_id, shard) is
    * total: a membership drift would null out or drop rows and break
    * rows/hash), while each epoch's within-shard order is its own
    * deterministic permutation. This is the read pattern of every
    * multi-epoch LLM training run: same shard files, a fresh order
    * per epoch, no corpus rewrite. */
  val shardShuffleEpochQ: Q = (s, dir) => {
    val d = documents(s, dir).select("doc_id")
    val e1 = graft.etl.Sharding.shuffleShards(d, "doc_id", nShards = 8,
        epoch = 1)
      .select(col("doc_id"), col("shard"), col("pos").as("pos_e1"))
    val e2 = graft.etl.Sharding.shuffleShards(d, "doc_id", nShards = 8,
        epoch = 2)
      .select(col("doc_id"), col("shard"), col("pos").as("pos_e2"))
    e1.join(e2, Seq("doc_id", "shard"))
      .orderBy("doc_id")
  }

  val shardShuffleEpochSql = {
    val hex = (i: Int) =>
      s"(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    val hex8 = (1 to 8).map(i =>
      s"CAST(${hex(i)} AS BIGINT) * ${1L << (4 * (8 - i))}").mkString(" + ")
    def posFor(epoch: Int) =
      s"""CAST(ROW_NUMBER() OVER (PARTITION BY ($hex8) % 8
         |    ORDER BY md5('$epoch|' || CAST(doc_id AS VARCHAR)), doc_id)
         |    AS INTEGER)""".stripMargin
    s"""SELECT doc_id, CAST(($hex8) % 8 AS INTEGER) AS shard,
       |  ${posFor(1)} AS pos_e1,
       |  ${posFor(2)} AS pos_e2
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** JSONL sharded training export
    * ([[graft.etl.Sharding.writeShardedJsonl]]): the format trainers
    * actually stream — one JSONL file per shard dir, line order = the
    * shard's deterministic shuffle. The query exports, re-parses the
    * FILES, and returns (doc_id, shard, pos) — so a serialization
    * loss (column dropped, pos scrambled, JSON mangling) breaks the
    * hash against the same shard-assignment oracle as
    * [[shardShuffleQ]]. */
  val shardJsonlQ: Q = (s, dir) => {
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_sjl_" + Integer.toHexString(dir.hashCode) + "_" +
        ProcessHandle.current().pid()).getAbsolutePath
    graft.etl.Sharding.writeShardedJsonl(
        documents(s, dir).select("doc_id"), "doc_id", nShards = 8, out)
      .select("doc_id", "shard", "pos")
      .orderBy("doc_id")
  }

  val shardJsonlSql = shardShuffleSql

  /** Token-budget domain mixture ([[graft.etl.Sampling.mixtureRates]]):
    * the Pile/DoReMi-style recipe — target token shares per domain
    * against a global budget, each domain downsampled to its
    * allocation or taken whole. Rates query shows the bounded
    * allocation table; sample query applies it as the deterministic
    * membership filter. */
  private val mixtureWeights =
    Map("src0" -> 0.6, "src1" -> 0.25, "src2" -> 0.15)
  private val mixtureBudget = 3000L

  val mixtureRatesQ: Q = (s, dir) =>
    graft.etl.Sampling.mixtureRates(
        documents(s, dir).select("source", "text"), "source",
        size(graft.ml.Featurize.tokensCol(col("text"))),
        mixtureWeights, mixtureBudget)
      .orderBy("source")

  private val mixtureWSql =
    """(VALUES ('src0', 0.6E0), ('src1', 0.25E0), ('src2', 0.15E0))
      |    AS w(source, w)""".stripMargin

  val mixtureRatesSql =
    s"""WITH tk AS (SELECT source,
       |    len(list_filter(string_split_regex(trim(text), '\\s+'),
       |      t -> len(t) > 0)) AS tok
       |  FROM documents),
       |agg AS (SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(tok) AS BIGINT) AS n_tokens FROM tk GROUP BY 1)
       |SELECT source, n_docs, n_tokens,
       |  least(1.0E0, 3000.0E0 * w / CAST(n_tokens AS DOUBLE)) AS keep_rate
       |FROM agg JOIN $mixtureWSql USING (source)
       |ORDER BY source""".stripMargin

  val mixtureSampleQ: Q = (s, dir) =>
    graft.etl.Sampling.mixtureSample(
        documents(s, dir).select("source", "doc_id", "text"), "source",
        "doc_id", size(graft.ml.Featurize.tokensCol(col("text"))),
        mixtureWeights, mixtureBudget)
      .select("doc_id", "source")
      .orderBy("doc_id")

  val mixtureSampleSql = {
    val hex = (i: Int) =>
      s"(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    val hex8 = (1 to 8).map(i =>
      s"CAST(${hex(i)} AS BIGINT) * ${1L << (4 * (8 - i))}").mkString(" + ")
    s"""WITH tk AS (SELECT source, doc_id,
       |    len(list_filter(string_split_regex(trim(text), '\\s+'),
       |      t -> len(t) > 0)) AS tok
       |  FROM documents),
       |agg AS (SELECT source, CAST(SUM(tok) AS BIGINT) AS n_tokens
       |  FROM tk GROUP BY 1),
       |r AS (SELECT source,
       |    least(1.0E0, 3000.0E0 * w / CAST(n_tokens AS DOUBLE)) AS rate
       |  FROM agg JOIN $mixtureWSql USING (source))
       |SELECT doc_id, source FROM documents JOIN r USING (source)
       |WHERE ($hex8) % 1048576 < rate * 1048576
       |ORDER BY doc_id""".stripMargin
  }

  /** ntile decile assignment per group — the bucketing window
    * (QuantileDiscretizer-style feature prep) with a tie-free
    * deterministic ordering. */
  val windowNtile: Q = (s, dir) =>
    orders(s, dir)
      .withColumn("decile", ntile(10).over(
        Window.partitionBy("o_orderpriority")
          .orderBy("o_totalprice", "o_orderkey")))
      .select("o_orderkey", "o_orderpriority", "decile")
      .orderBy("o_orderkey")

  val windowNtileSql =
    """SELECT o_orderkey, o_orderpriority,
      |  CAST(NTILE(10) OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS decile
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Dense global ids by a portable key WITHOUT the one-partition
    * global window (see [[graft.etl.Ids]]): range-partitioned sort +
    * narrow per-partition index + literal offsets. The oracle is the
    * naive `ROW_NUMBER() OVER (ORDER BY key)` the operator replaces —
    * equal output, scalable plan. */
  val globalIds: Q = (s, dir) =>
    graft.etl.Ids.assignContiguous(
        documents(s, dir).select("doc_id", "lang"),
        md5(col("doc_id").cast("string")), numParts = 8, idName = "uid")
      .select("doc_id", "lang", "uid")
      .orderBy("doc_id")

  val globalIdsSql =
    """SELECT doc_id, lang,
      |  ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))) - 1 AS uid
      |FROM documents ORDER BY doc_id""".stripMargin

  /** CDC MERGE apply ([[graft.etl.Merge]]): a change set derived
    * deterministically from the corpus — updates (id%7), deletes
    * (id%13), inserts (id%29, shifted keys), with id%91 carrying BOTH
    * an update and a later delete so latest-wins ordering is exercised.
    * The oracle resolves latest-per-key with QUALIFY row_number and
    * applies NOT EXISTS + UNION ALL — classic SQL MERGE decomposition. */
  val mergeUpsert: Q = (s, dir) => {
    val base = documents(s, dir).select("doc_id", "lang", "text")
    val changes =
      base.where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), lit(2L).as("seq"), lit("u").as("op"),
          col("lang"), concat(col("text"), lit(" [v2]")).as("text"))
      .unionByName(base.where(col("doc_id") % 13 === 0)
        .select(col("doc_id"), lit(3L).as("seq"), lit("d").as("op"),
          col("lang"), col("text")))
      .unionByName(base.where(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), lit(1L).as("seq"),
          lit("u").as("op"), col("lang"),
          concat(lit("new doc "), col("doc_id").cast("string")).as("text")))
    graft.etl.Merge.applyCdc(base, changes, "doc_id")
      .orderBy("doc_id")
  }

  val mergeUpsertSql =
    """WITH changes AS (
      |  SELECT doc_id, 2 AS seq, 'u' AS op, lang, text || ' [v2]' AS text
      |  FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id, 3, 'd', lang, text
      |  FROM documents WHERE doc_id % 13 = 0
      |  UNION ALL
      |  SELECT d.doc_id + 1000000, 1, 'u', d.lang,
      |    'new doc ' || CAST(d.doc_id AS VARCHAR)
      |  FROM documents d WHERE d.doc_id % 29 = 0
      |),
      |latest AS (
      |  SELECT * FROM changes
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY seq DESC) = 1
      |)
      |SELECT b.doc_id, b.lang, b.text FROM documents b
      |WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.doc_id = b.doc_id)
      |UNION ALL
      |SELECT doc_id, lang, text FROM latest WHERE op <> 'd'
      |ORDER BY doc_id""".stripMargin

  /** Snapshot diff ([[graft.etl.Merge.corpusDiff]]): classify every
    * key across two corpus versions (same mutation fixture as
    * `q_merge_upsert`: update %7, delete %13, insert %29) as
    * added/removed/changed/same by content hash — the versioning audit
    * and the input to incremental re-processing. */
  val corpusDiffQ: Q = (s, dir) => {
    val base = documents(s, dir).select("doc_id", "text")
    val next = base.where(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [v2]")))
          .otherwise(col("text")).as("text"))
      .unionByName(base.where(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    graft.etl.Merge.corpusDiff(base, next, "doc_id", "text")
      .groupBy("status").agg(count(lit(1)).as("n"))
      .orderBy("status")
  }

  val corpusDiffSql =
    """WITH next AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' [v2]' ELSE text END AS text
      |  FROM documents WHERE doc_id % 13 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 29 = 0),
      |o AS (SELECT doc_id, md5(text) AS ho FROM documents),
      |n AS (SELECT doc_id, md5(text) AS hn FROM next),
      |d AS (SELECT
      |  CASE WHEN o.doc_id IS NULL THEN 'added'
      |       WHEN n.doc_id IS NULL THEN 'removed'
      |       WHEN ho = hn THEN 'same' ELSE 'changed' END AS status
      |  FROM o FULL JOIN n ON o.doc_id = n.doc_id)
      |SELECT status, COUNT(*) AS n FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  /** Row-level data-quality expectations
    * ([[graft.etl.Expectations]] — the expect / expect-or-drop /
    * expect-or-fail lakehouse contract): four rules over the document
    * corpus, output = the per-rule violation audit (ONE agg pass,
    * |rules| rows out whatever the corpus). `max_len` (tolerated)
    * has REAL violations — documents over the 500-char ceiling — so
    * the violation-counting path is non-vacuous and the quarantine
    * side is non-empty; the split cross-check (passed + quarantined ==
    * total, quarantined rows all name ≥1 violated rule) runs in-query
    * and dies loudly on drift. */
  val expectationsQ: Q = (s, dir) => {
    import graft.etl.Expectations.{Rule, audit, split}
    val docs = documents(s, dir).select("doc_id", "lang", "text", "n_chars")
    val rules = Seq(
      Rule("id_present", col("doc_id").isNotNull),
      Rule("nonempty_text", length(trim(col("text"))) > 0),
      Rule("lang_wellformed", col("lang").rlike("^[a-z]{2}$")),
      Rule("chars_match", col("n_chars") === length(col("text")),
        tolerance = 1.0),
      Rule("max_len", col("n_chars") <= 500, tolerance = 1.0))
    val (passed, quarantined) = split(docs, rules)
    val (np, nq, nTot) = (passed.count(), quarantined.count(), docs.count())
    require(np + nq == nTot, s"split lost rows: $np + $nq != $nTot")
    require(nq > 0, "expectations audit is vacuous: nothing quarantined")
    val unnamed = quarantined.where(size(col("violations")) === 0).count()
    require(unnamed == 0, s"$unnamed quarantined rows name no violated rule")
    audit(docs, rules).orderBy("rule")
  }

  val expectationsSql =
    """WITH f AS (SELECT
      |    CASE WHEN doc_id IS NOT NULL THEN 0 ELSE 1 END AS v_id,
      |    CASE WHEN length(trim(text)) > 0 THEN 0 ELSE 1 END AS v_txt,
      |    CASE WHEN regexp_matches(lang, '^[a-z]{2}$') THEN 0 ELSE 1 END AS v_lang,
      |    CASE WHEN n_chars = length(text) THEN 0 ELSE 1 END AS v_chars,
      |    CASE WHEN n_chars <= 500 THEN 0 ELSE 1 END AS v_line
      |  FROM documents),
      |a AS (SELECT CAST(SUM(v_id) AS BIGINT) AS id_present,
      |    CAST(SUM(v_txt) AS BIGINT) AS nonempty_text,
      |    CAST(SUM(v_lang) AS BIGINT) AS lang_wellformed,
      |    CAST(SUM(v_chars) AS BIGINT) AS chars_match,
      |    CAST(SUM(v_line) AS BIGINT) AS max_len,
      |    COUNT(*) AS n FROM f),
      |u AS (SELECT 'id_present' AS rule, id_present AS n_violations, n FROM a
      |  UNION ALL SELECT 'nonempty_text', nonempty_text, n FROM a
      |  UNION ALL SELECT 'lang_wellformed', lang_wellformed, n FROM a
      |  UNION ALL SELECT 'chars_match', chars_match, n FROM a
      |  UNION ALL SELECT 'max_len', max_len, n FROM a)
      |SELECT rule, n_violations, n AS n_rows,
      |  ROUND(CAST(n_violations AS DOUBLE) / CAST(GREATEST(n, 1) AS DOUBLE), 6)
      |    AS violation_rate
      |FROM u ORDER BY rule""".stripMargin

  /** The expectations OPERATIONAL loop (the DLT-expectations workflow
    * a data-contract user actually runs): quarantine → fix → re-ingest
    * → audit shows zero. Violating rows are routed through a real
    * quarantine SINK (parquet, `violations` array included), read
    * back, corrected (truncate to the 500-char ceiling, recompute
    * `n_chars` — fixing both rules at once), unioned with the passed
    * side, and re-audited. In-query gates: the quarantine is
    * non-empty (the loop is non-vacuous), the post-replay audit is
    * all-zero (the fix actually closed the contract), and no rows were
    * lost across the loop. Output: per-rule before/after violation
    * counts + the final corpus size. */
  val expectationsReplayQ: Q = (s, dir) => {
    import graft.etl.Expectations.{Rule, audit, split}
    val docs = documents(s, dir).select("doc_id", "lang", "text", "n_chars")
    val rules = Seq(
      Rule("max_len", col("n_chars") <= 500),
      Rule("chars_match", col("n_chars") === length(col("text"))))
    val before = audit(docs, rules)
    val (passed, quarantined) = split(docs, rules)
    val qDir = scratchTableDir("graft_quar_", dir)
    quarantined.write.parquet(qDir)
    val fromSink = s.read.parquet(qDir)
    val nq = fromSink.count()
    require(nq > 0, "expectations replay is vacuous: nothing quarantined")
    val corrected = fromSink.drop("violations")
      .withColumn("text", substring(col("text"), 1, 500))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "lang", "text", "n_chars")
    val reingested = passed.unionByName(corrected)
    val after = audit(reingested, rules)
    val afterRows = after.collect()
    require(afterRows.forall(_.getLong(1) == 0L),
      "replay did not close the contract: " + afterRows.mkString(", "))
    require(reingested.count() == docs.count(), "replay lost rows")
    before.select(col("rule"), col("n_violations").as("n_before"))
      .join(after.select(col("rule"), col("n_violations").as("n_after"),
        col("n_rows").as("n_rows_final")), Seq("rule"))
      .orderBy("rule")
  }

  /** The replay loop mirrored in SQL: the same fix applied to rows
    * failing EITHER rule, before/after audits joined per rule. */
  val expectationsReplaySql =
    """WITH d AS (SELECT doc_id, text, n_chars,
      |    (n_chars <= 500) AS ok_max,
      |    (n_chars = length(text)) AS ok_chars
      |  FROM documents),
      |ri AS (SELECT
      |    CASE WHEN ok_max AND ok_chars THEN text
      |         ELSE substr(text, 1, 500) END AS text,
      |    CASE WHEN ok_max AND ok_chars THEN n_chars
      |         ELSE length(substr(text, 1, 500)) END AS n_chars
      |  FROM d),
      |a1 AS (SELECT
      |    CAST(SUM(CASE WHEN n_chars <= 500 THEN 0 ELSE 1 END) AS BIGINT) AS max_len,
      |    CAST(SUM(CASE WHEN n_chars = length(text) THEN 0 ELSE 1 END) AS BIGINT) AS chars_match
      |  FROM documents),
      |a2 AS (SELECT
      |    CAST(SUM(CASE WHEN n_chars <= 500 THEN 0 ELSE 1 END) AS BIGINT) AS max_len,
      |    CAST(SUM(CASE WHEN n_chars = length(text) THEN 0 ELSE 1 END) AS BIGINT) AS chars_match,
      |    COUNT(*) AS n FROM ri),
      |u AS (SELECT 'max_len' AS rule, a1.max_len AS n_before,
      |    a2.max_len AS n_after, a2.n AS n_rows_final FROM a1, a2
      |  UNION ALL SELECT 'chars_match', a1.chars_match, a2.chars_match, a2.n
      |  FROM a1, a2)
      |SELECT rule, n_before, n_after, n_rows_final FROM u ORDER BY rule""".stripMargin

  /** Time travel COMPOSED with the snapshot diff — the audit workflow
    * "what changed between yesterday's and today's published corpus":
    * two versions published through the ordinal commit log (v1 = the
    * `q_corpus_diff` mutation applied, v2 = the full table), both read
    * back AS OF their commits, diffed by content hash. Everything is
    * the already-oracled operator ([[graft.etl.Publish.readVersion]] +
    * [[graft.etl.Merge.corpusDiff]]); this query proves the
    * composition — a commit-resolution bug or a version-content mixup
    * breaks the counts. */
  val publishDiffQ: Q = (s, dir) => {
    val base = scratchTableDir("graft_pdiff_", dir)
    val full = documents(s, dir).select("doc_id", "text")
    val mutated = full.where(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [v2]")))
          .otherwise(col("text")).as("text"))
      .unionByName(full.where(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    graft.etl.Publish.write(mutated, base)
    graft.etl.Publish.write(full, base)
    graft.etl.Merge.corpusDiff(
        graft.etl.Publish.readVersion(s, base, 1L),
        graft.etl.Publish.readVersion(s, base, 2L), "doc_id", "text")
      .groupBy("status").agg(count(lit(1)).as("n"))
      .orderBy("status")
  }

  /** The same classification with old/new REVERSED relative to
    * [[corpusDiffSql]] (v1 is the mutation, v2 the full table):
    * inserts become 'removed', deletions 'added'. */
  val publishDiffSql =
    """WITH v1 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' [v2]' ELSE text END AS text
      |  FROM documents WHERE doc_id % 13 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 29 = 0),
      |o AS (SELECT doc_id, md5(text) AS ho FROM v1),
      |n AS (SELECT doc_id, md5(text) AS hn FROM documents),
      |d AS (SELECT
      |  CASE WHEN o.doc_id IS NULL THEN 'added'
      |       WHEN n.doc_id IS NULL THEN 'removed'
      |       WHEN ho = hn THEN 'same' ELSE 'changed' END AS status
      |  FROM o FULL JOIN n ON o.doc_id = n.doc_id)
      |SELECT status, COUNT(*) AS n FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  /** Curriculum sharding ([[graft.etl.Sharding.curriculumShards]]):
    * shard = contiguous difficulty quartile (boundaries from one
    * bounded exact-percentile agg applied as literals — no global
    * sort), pos = (difficulty, id) order within the shard. Difficulty
    * here is document length — integer-valued, so the boundary
    * compares are exact in both engines. */
  val shardCurriculumQ: Q = (s, dir) =>
    graft.etl.Sharding.curriculumShards(
        documents(s, dir).select(col("doc_id"),
          col("n_chars").cast("double").as("difficulty")),
        "difficulty", "doc_id", nShards = 4)
      .orderBy("doc_id")

  val shardCurriculumSql =
    """WITH t AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS difficulty
      |  FROM documents),
      |b AS (SELECT ROUND(quantile_cont(difficulty, 0.25E0), 4) AS b1,
      |             ROUND(quantile_cont(difficulty, 0.5E0), 4) AS b2,
      |             ROUND(quantile_cont(difficulty, 0.75E0), 4) AS b3 FROM t),
      |s AS (SELECT doc_id, difficulty,
      |  CAST((CASE WHEN difficulty > b1 THEN 1 ELSE 0 END) +
      |       (CASE WHEN difficulty > b2 THEN 1 ELSE 0 END) +
      |       (CASE WHEN difficulty > b3 THEN 1 ELSE 0 END) AS INTEGER) AS shard
      |  FROM t, b)
      |SELECT doc_id, difficulty, shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
      |    ORDER BY difficulty, doc_id) AS INTEGER) AS pos
      |FROM s ORDER BY doc_id""".stripMargin

  /** Time-RANGE window frame — the window class none of the row-frame
    * queries cover: a trailing 10-minute moving aggregate per user
    * over EVENT TIME, where the frame is defined by the order value
    * (all rows within 599,999 ms), not row positions — so ties in ts
    * land in the same frame deterministically regardless of their
    * physical order. Millisecond epoch (BIGINT) on both sides keeps
    * the frame arithmetic integer-exact; the value sum is
    * decimal-exact. One exchange on user_id serves the whole frame. */
  val windowRange: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts_ms")
      .rangeBetween(-599999L, 0L)
    events(s, dir)
      .withColumn("ts_ms", unix_millis(col("ts")))
      .withColumn("n_10m", count(lit(1)).over(w))
      .withColumn("sum_10m",
        sum(col("value").cast(DecimalType(18, 2))).over(w).cast("double"))
      .select("event_id", "user_id", "n_10m", "sum_10m")
      .orderBy("event_id")
  }

  val windowRangeSql =
    """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value
      |  FROM events)
      |SELECT event_id, user_id,
      |  COUNT(*) OVER w AS n_10m,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_10m
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
      |  RANGE BETWEEN 599999 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** Skew diagnostic ([[Skew.profile]]): top-10 hottest event keys
    * with their share of the table — the measurement that sizes a
    * salting decision. share = BIGINT/BIGINT division, IEEE-exact in
    * both engines; (n desc, key) total order fixes the limit
    * boundary. */
  val skewProfile: Q = (s, dir) =>
    Skew.profile(events(s, dir), "user_id", k = 10)

  val skewProfileSql =
    """WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
      |t AS (SELECT COUNT(*) AS total FROM events)
      |SELECT user_id, n, n / total AS share FROM c, t
      |ORDER BY n DESC, user_id LIMIT 10""".stripMargin

  /** Z-order clustering key ([[graft.etl.ZOrder]]): Morton interleave
    * of two bounded dimensions — the codegen'd bit-arithmetic
    * expression is mirrored term-for-term in the oracle SQL
    * (generated by the same [[graft.etl.ZOrder.interleaveSql]]). The
    * write-side layout (range partition + in-file sort on this key)
    * is spec-asserted to tighten per-file bounding boxes. */
  val zorderKey: Q = (s, dir) =>
    orders(s, dir).select(col("o_orderkey"),
      graft.etl.ZOrder.interleave(
        col("o_custkey") % 256, col("o_orderkey") % 256, 8).as("zvalue"))
      .orderBy("o_orderkey")

  val zorderKeySql = {
    val z = graft.etl.ZOrder.interleaveSql(
      "o_custkey % 256", "o_orderkey % 256", 8)
    s"""SELECT o_orderkey, $z AS zvalue
       |FROM orders ORDER BY o_orderkey""".stripMargin
  }

  // ---- registry ----

  /** Every query of this object, declared once: its name, its body
    * and its static DuckDB oracle, if it has one. */
  val registry: Seq[(String, Q, Option[String])] = Seq(
    ("q_scan_project", scanProject, Some(scanProjectSql)),
    ("q_filter_notnull", filterNotNull, Some(filterNotNullSql)),
    ("q_derived_when", derivedWhen, Some(derivedWhenSql)),
    ("q_rename_drop", renameDrop, Some(renameDropSql)),
    ("q_join_left", joinLeft, Some(joinLeftSql)),
    ("q_join_inner", joinInner, Some(joinInnerSql)),
    ("q_join_semi", joinSemi, Some(joinSemiSql)),
    ("q_join_anti", joinAnti, Some(joinAntiSql)),
    ("q_join_bloom", joinBloom, Some(joinBloomSql)),
    ("q_join_salted", joinSalted, Some(joinSaltedSql)),
    ("q_join_asof", joinAsof, Some(joinAsofSql)),
    ("q_agg_sketch", aggSketch, None),
    ("q_agg_count", aggCount, Some(aggCountSql)),
    ("q_agg_ratio", aggRatio, Some(aggRatioSql)),
    ("q_agg_avg", aggAvg, Some(aggAvgSql)),
    ("q_agg_quantiles", aggQuantiles, Some(aggQuantilesSql)),
    ("q_agg_distinct", aggDistinct, Some(aggDistinctSql)),
    ("q_agg_rollup", aggRollup, Some(aggRollupSql)),
    ("q_window_percentile", windowPercentile, Some(windowPercentileSql)),
    ("q_window_topk", windowTopK, Some(windowTopKSql)),
    ("q_sort_limit", sortLimit, Some(sortLimitSql)),
    ("q_sample_stratified", sampleStratified, Some(sampleStratifiedSql)),
    ("q_clean_basic", cleanBasic, Some(cleanBasicSql)),
    ("q_clean_full", cleanFull, None),
    ("q_label_encode", labelEncode, Some(labelEncodeSql)),
    ("q_label_decode", labelDecode, Some(labelDecodeSql)),
    ("q_sample_rates", sampleRates, Some(sampleRatesSql)),
    ("q_split_train", splitTrain, Some(splitTrainSql)),
    ("q_sample_fixed_n", sampleFixedN, Some(sampleFixedNSql)),
    ("q_sample_exact_n", sampleExactNQ, Some(sampleExactNSql)),
    ("q_ml_score", mlScore, None),
    ("q_ml_eval_summary", mlEvalSummary, None),
    ("q_ml_planted_accuracy", mlPlantedAccuracy, None),
    ("q_quality_classifier", qualityClassifierQ, None),
    ("q_tuning_halving", tuningHalving, None),
    ("q_training_file", trainingFileRoundtrip, Some(trainingFileRoundtripSql)),
    ("q_featurize_counts", featurizeCounts, Some(featurizeCountsSql)),
    ("q_join_cross", joinCross, Some(joinCrossSql)),
    ("q_agg_cube", aggCube, Some(aggCubeSql)),
    ("q_histogram", histogram, Some(histogramSql)),
    ("q_bround", broundQ, Some(broundSql)),
    ("q_date_parts", dateParts, Some(datePartsSql)),
    ("q_clean_udf", cleanUdfSql_q, None),
    ("q_pivot", pivotQ, Some(pivotSql)),
    ("q_set_ops", setOps, Some(setOpsSql)),
    ("q_window_running", windowRunning, Some(windowRunningSql)),
    ("q_agg_collect", aggCollect, Some(aggCollectSql)),
    ("q_jsonl_roundtrip", jsonlRoundtrip, Some(jsonlRoundtripSql)),
    ("q_orc_roundtrip", orcRoundtrip, Some(orcRoundtripSql)),
    ("q_csv_roundtrip", csvRoundtrip, Some(csvRoundtripSql)),
    ("q_agg_pushdown", aggPushdown, Some(aggPushdownSql)),
    ("q_global_ids", globalIds, Some(globalIdsSql)),
    ("q_sample_temperature", sampleTemperatureQ, Some(sampleTemperatureSql)),
    ("q_mixture_rates", mixtureRatesQ, Some(mixtureRatesSql)),
    ("q_mixture_sample", mixtureSampleQ, Some(mixtureSampleSql)),
    ("q_shard_shuffle", shardShuffleQ, Some(shardShuffleSql)),
    ("q_shard_jsonl", shardJsonlQ, Some(shardJsonlSql)),
    ("q_shard_shuffle_epoch", shardShuffleEpochQ, Some(shardShuffleEpochSql)),
    ("q_window_ntile", windowNtile, Some(windowNtileSql)),
    ("q_publish", publishRoundtrip, Some(publishRoundtripSql)),
    ("q_publish_timetravel", publishTimetravel, Some(publishTimetravelSql)),
    ("q_merge_upsert", mergeUpsert, Some(mergeUpsertSql)),
    ("q_corpus_diff", corpusDiffQ, Some(corpusDiffSql)),
    ("q_publish_diff", publishDiffQ, Some(publishDiffSql)),
    ("q_expectations", expectationsQ, Some(expectationsSql)),
    ("q_expectations_replay", expectationsReplayQ, Some(expectationsReplaySql)),
    ("q_shard_curriculum", shardCurriculumQ, Some(shardCurriculumSql)),
    ("q_zorder_key", zorderKey, Some(zorderKeySql)),
    ("q_skew_profile", skewProfile, Some(skewProfileSql)),
    ("q_window_range", windowRange, Some(windowRangeSql)),
  )
}
