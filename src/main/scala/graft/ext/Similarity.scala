package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k — a broadcast join of the
  * (small) query set against the corpus; exact, embarrassingly
  * parallel, the right answer when |queries| · |corpus| fits the
  * cluster. Scale path: IVF — corpus pre-partitioned by
  * nearest-centroid cell; queries probe only `nprobe` cells, cutting
  * scanned vectors by ~|cells|/nprobe at the cost of recall.
  *
  * All element arithmetic is widened to double before multiply/fold so
  * results are IEEE-deterministic (and match the DuckDB oracle).
  */
object Similarity {

  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Sequential-fold dot product — deterministic accumulation order.
    * Session-free Column form (interpreted HOF); the frame-level
    * operators below use the native codegen'd [[graft.functions.DotProduct]]
    * instead, which computes the same left-to-right fold. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)

  // ---- native codegen'd kernels (need a session to register) ----

  /** Codegen'd dot product — identical fold order and values to
    * [[dot]], but a primitive loop inside whole-stage codegen instead
    * of an interpreted lambda. */
  private[ext] def nDot(spark: org.apache.spark.sql.SparkSession,
                        a: Column, b: Column): Column = {
    graft.GraftFunctions.register(spark)
    call_function("dot_product", a, b)
  }

  /** `sqrt(dot(v, v))` of vector column `v`: the per-vector norm every
    * operator stages once before its join. */
  private def vnorm(spark: org.apache.spark.sql.SparkSession, v: String): Column =
    sqrt(nDot(spark, col(v), col(v)))

  /** Squared norm of a driver-held vector (centroid or sub-centroid). */
  private def norm2(c: Array[Double]): Double = c.map(x => x * x).sum

  /** Cosine from a per-pair dot and PRE-STAGED per-side norms (pass
    * attributes). A self-contained per-pair cosine expression would
    * recompute both norms per row — and the `when` guard duplicates
    * the divisor subtree, so ~5 dot passes per pair where one
    * suffices; every frame-level operator therefore stages
    * `sqrt(dot(v,v))` once per vector BEFORE its join and combines
    * here. Values match the naive form exactly: same folds, same
    * operand order (left norm multiplies first). */
  private[ext] def cosineFromNorms(dot: Column, normA: Column,
                                   normB: Column): Column = {
    val d = normA * normB
    when(d > 0, round(dot / d, 6)).otherwise(0.0)
  }

  /** The one ANN ranking rule: per query, `cosine` DESC with the
    * neighbor id breaking ties; the first `k` rows stay, numbered from
    * 1 in `rank`. Every top-k path (and matryoshka's shortlist) ranks
    * here, so their results are comparable row for row. */
  private def ranked(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** [[ranked]] in the top-k result shape. */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    ranked(scored, k).select("query_id", "neighbor_id", "cosine", "rank")

  /** Brute-force exact top-k: every query scored against every corpus
    * vector (query side broadcast), ranked per query with id
    * tie-break. Norms are computed once per VECTOR before the join —
    * the per-pair work is a single dot product. */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, k: Int): DataFrame = {
    val s = corpus.sparkSession
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("__qn", vnorm(s, "qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("__cn", vnorm(s, "cv"))
    topK(c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineFromNorms(
        nDot(s, col("qv"), col("cv")), col("__qn"), col("__cn"))), k)
  }

  /** Deterministic ±1 plane pattern for pseudo-plane `p` over `dim`
    * dimensions, derived from md5 at PLAN time (the pattern depends
    * only on (p, j), so hashing per row/element would be pure waste —
    * it becomes a literal array in the plan). Public so oracle
    * generators can emit the identical patterns as SQL literals. */
  def planeSigns(p: Int, dim: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { j =>
      val h = md.digest(s"$p|$j".getBytes("UTF-8"))
      if ((h(0) & 1) == 1) 1.0 else -1.0
    }
  }

  /** Sign-bucket key from `nBits` deterministic pseudo-planes: plane p
    * is a ±1 literal pattern over dimensions ([[planeSigns]]), so the
    * bucket of a vector is stable across runs with no stored plane
    * matrix. Nearby vectors likely share buckets. `dim` must match the
    * embedding length. Projections run on the native dot kernel. */
  private[graft] def signBucketNative(spark: org.apache.spark.sql.SparkSession,
                                    vec: Column, nBits: Int,
                                    dim: Int = 64): Column =
    (0 until nBits).map { p =>
      val proj = nDot(spark, vec, lit(planeSigns(p, dim)))
      when(proj >= 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)

  // ---- IVF: k-means cells, centroids held on the driver ----
  //
  // Centroids are k·dim doubles (a few KB) — small enough to live in
  // the PLAN as literal arrays. Cell assignment is then a narrow
  // per-row projection: no join, no window, no shuffle. Lloyd
  // refinement is the classic distributed k-means: assign (narrow) →
  // per-(cell,dim) partial sums (map-side combinable groupBy of
  // k·dim rows) → collect k·dim rows → new literals. Every step
  // survives a 1000-executor 100 TB corpus; the only data collected
  // to the driver is O(k·dim) per iteration.

  // Centroid arithmetic uses the native dot kernel with plan-literal
  // centroid arrays: tiny expression trees (planning is instant), each
  // value computed exactly once per row under its own alias in a
  // staged projection (below). Unrolling over the dimension into
  // element_at chains was tried and rejected: 16 centroids × 64 dims
  // of multiply/add nodes makes whole-stage codegen emit >100 KB
  // methods whose janino compilation costs seconds per stage — pure
  // fixed overhead that dwarfs row work until the corpus reaches
  // hundreds of millions of rows.

  /** Cosine columns `__s0..__s{k-1}` of `vecCol` against each literal
    * centroid, staged as SEPARATE projections (norm first, then sims):
    * each non-cheap value is computed once under its own alias and
    * later steps reference it by attribute. CollapseProject leaves
    * multi-referenced non-cheap aliases alone, so the plan keeps these
    * stages — building the same logic as one nested Column expression
    * duplicates whole subtrees per reference and the optimizer then
    * walks a ~10^5-node tree (measured: minutes of planning). */
  private def withSimCols(df: DataFrame, vecCol: String,
                          cents: Array[Array[Double]]): (DataFrame, Seq[String]) = {
    val spark = df.sparkSession
    val staged = df.withColumn("__vn", vnorm(spark, vecCol))
    val simCols = cents.toSeq.zipWithIndex.map { case (c, i) =>
      val cn = math.sqrt(norm2(c))
      val s = if (cn == 0) lit(0.0)
      else when(col("__vn") > 0,
        nDot(spark, col(vecCol), lit(c)) / (col("__vn") * cn)).otherwise(0.0)
      s.as(s"__s$i")
    }
    (staged.select(col("*") +: simCols: _*), cents.indices.map(i => s"__s$i"))
  }

  /** Index (0-based; first max wins ties) of the largest staged score
    * column as int `outCol` — the one argmax behind IVF cells and PQ
    * codes. Drops the scores, their max and the `extra` staging
    * columns. */
  private def withArgmax(staged: (DataFrame, Seq[String]), outCol: String,
                         extra: String*): DataFrame = {
    val (df, names) = staged
    val refs = names.map(col)
    val idx = refs.zipWithIndex.init.foldRight(lit(refs.length - 1): Column) {
      case ((sc, i), acc) => when(sc === col("__m"), lit(i)).otherwise(acc)
    }.cast("int")
    df.withColumn("__m", greatest(refs: _*))
      .withColumn(outCol, idx)
      .drop(extra ++ ("__m" +: names): _*)
  }

  /** Explode the `nprobe` nearest-centroid indices per row into a
    * `cell` column (ties broken by cell index). */
  private def withProbeCells(df: DataFrame, vecCol: String,
                             cents: Array[Array[Double]],
                             nprobe: Int): DataFrame = {
    val (withS, names) = withSimCols(df, vecCol, cents)
    val pairs = array(names.zipWithIndex.map { case (n, i) =>
      struct((-col(n)).as("negs"), lit(i).as("cell"))
    }: _*)
    withS.withColumn("cell", explode(
        slice(transform(array_sort(pairs), p => p.getField("cell")), 1, nprobe)))
      .drop("__vn" +: names: _*)
  }

  /** Deterministic seed centroids: the `k` corpus vectors with the
    * smallest `md5(id)` — a TakeOrdered (per-partition top-k + driver
    * merge of k rows), never a global window/sort. */
  def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int): Array[Array[Double]] =
    corpus.select(asDouble(col(vecCol)).as("__v"),
        md5(col(idCol).cast("string")).as("__h"))
      .orderBy("__h").limit(k)
      .collect().map(_.getSeq[Double](0).toArray)

  /** `iters` Lloyd iterations from the md5 seed: `score` stages one
    * score column per centroid and each vector joins the first max
    * ([[withArgmax]]). Narrow assign → per-(cell, dim) partial sums →
    * O(k·dim) collect. Cells that lose all members keep their previous
    * centroid. */
  private def lloyd(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int)(
      score: (DataFrame, Array[Array[Double]]) => (DataFrame, Seq[String]))
      : Array[Array[Double]] = {
    var cents = seedCentroids(corpus, idCol, vecCol, k)
    // keep the RAW vector column: a transform() pre-cast is a lambda
    // expression CollapseProject would inline into every score
    val vecs = corpus.select(col(vecCol).as("__v"))
    for (_ <- 0 until iters) {
      val stats = withArgmax(score(vecs, cents), "__cell")
        .select(col("__cell"),
          posexplode(asDouble(col("__v"))).as(Seq("__pos", "__x")))
        .groupBy("__cell", "__pos")
        .agg(sum("__x").as("__s"), count(lit(1)).as("__n"))
        .collect()
      val next = cents.map(_.clone())
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2) / r.getLong(3)
      }
      cents = next
    }
    cents
  }

  /** `iters` Lloyd iterations from the md5 seed, cosine assignment:
    * the IVF centroids. */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int = 2): Array[Array[Double]] =
    lloyd(corpus, idCol, vecCol, k, iters)(withSimCols(_, "__v", _))

  /** Add a `cell` column (nearest centroid by cosine, 0-based) from
    * driver-held centroids — a narrow projection; at scale `cell` is
    * the partitioning key of the stored index. */
  def assignCells(df: DataFrame, vecCol: String,
                  cents: Array[Array[Double]]): DataFrame =
    withArgmax(withSimCols(df, vecCol, cents), "cell", "__vn")

  // ---- PQ: product quantization (compressed codes + ADC scan) ----
  //
  // The memory/IO half of the ANN scale story: each corpus vector is
  // stored as m small integer codes (one per dim/m-dim subspace, each
  // the id of the nearest sub-centroid) instead of dim floats — 64
  // floats (256 B) become 4 codes (4 B), a 64× smaller index to scan,
  // cache, and shuffle. Queries never touch raw corpus vectors:
  // per-query lookup tables (dot of the query's sub-slice against each
  // literal sub-centroid, m·ksub doubles) turn scoring into m O(1)
  // array lookups per candidate — asymmetric distance computation.
  // Codebooks are m·ksub·dsub doubles, plan literals like the IVF
  // centroids; composable with IVF (cell-prune, then ADC-score).

  /** L2 nearest-centroid scores, staged one alias per centroid (same
    * CollapseProject reasoning as [[withSimCols]]): score_i =
    * dot(v, cᵢ) − |cᵢ|²/2, whose argmax is the argmin of L2 distance
    * (the classic PQ assignment; cosine would mis-assign unnormalized
    * sub-vectors). */
  private def withL2Scores(df: DataFrame, vecCol: String,
                           cents: Array[Array[Double]]): (DataFrame, Seq[String]) = {
    val spark = df.sparkSession
    val scoreCols = cents.toSeq.zipWithIndex.map { case (c, i) =>
      (nDot(spark, col(vecCol), lit(c)) - lit(norm2(c) / 2))
        .as(s"__p$i")
    }
    (df.select(col("*") +: scoreCols: _*), cents.indices.map(i => s"__p$i"))
  }

  /** Lloyd iterations with L2 assignment from the md5 seed — the PQ
    * sub-codebook trainer, [[kmeansCentroids]]'s loop with
    * [[withL2Scores]]. */
  def kmeansL2(corpus: DataFrame, idCol: String, vecCol: String,
               k: Int, iters: Int = 1): Array[Array[Double]] =
    lloyd(corpus, idCol, vecCol, k, iters)(withL2Scores(_, "__v", _))

  /** Per-subspace PQ codebooks: `books(s)(j)` is sub-centroid `j`
    * (dsub = dim/m doubles) of subspace `s`. `m` distributed k-means
    * runs over array slices; requires `m` divides `dim`. */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  dim: Int, m: Int, ksub: Int,
                  iters: Int = 1): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    require(ksub >= 2, "ksub must be >= 2")
    val dsub = dim / m
    Array.tabulate(m) { s =>
      kmeansL2(
        corpus.select(col(idCol),
          slice(col(vecCol), s * dsub + 1, dsub).as("__sub")),
        idCol, "__sub", ksub, iters)
    }
  }

  /** Encode vectors as PQ codes: adds `code_0..code_{m-1}` (int,
    * 0-based sub-centroid ids). Narrow per-row projection — at scale
    * this runs once at ingest and only the codes are stored. */
  def pqEncode(df: DataFrame, vecCol: String,
               books: Array[Array[Array[Double]]]): DataFrame = {
    val dsub = books(0)(0).length
    books.indices.foldLeft(df) { (acc, s) =>
      withArgmax(withL2Scores(
          acc.withColumn(s"__sub$s", slice(col(vecCol), s * dsub + 1, dsub)),
          s"__sub$s", books(s)),
        s"code_$s", s"__sub$s")
    }
  }

  /** Per-query PQ lookup tables `__lut0..__lut{m-1}`: the dot of each
    * `qv` sub-slice with every sub-centroid of its subspace (m·ksub
    * doubles per query); drops `qv`. */
  private def withLuts(q: DataFrame,
                       books: Array[Array[Array[Double]]]): DataFrame = {
    val s = q.sparkSession
    val dsub = books(0)(0).length
    books.indices.foldLeft(q) { (acc, i) =>
      acc.withColumn(s"__lut$i", array(books(i).toSeq.map(c =>
        nDot(s, slice(col("qv"), i * dsub + 1, dsub), lit(c))): _*))
    }.drop("qv")
  }

  /** Σₛ `tables(s)[code_s]`: one literal table per subspace, looked up
    * by that subspace's code. */
  private def codeSum(tables: Array[Array[Double]]): Column =
    tables.indices.map(i =>
      element_at(lit(tables(i)), col(s"code_$i") + 1)).reduce(_ + _)

  /** Asymmetric-distance inner product of a query (its [[withLuts]]
    * tables) and a coded candidate: Σₛ lutₛ[codeₛ]. */
  private def adcDot(m: Int): Column =
    (0 until m).map(i =>
      element_at(col(s"__lut$i"), col(s"code_$i") + 1)).reduce(_ + _)

  /** PQ index rows: `keep` ++ codes ++ `__cxn`, the norm of the
    * reconstruction √Σₛ|c_{s,code_s}|², from rows carrying `cv`. */
  private def pqIndex(rows: DataFrame, keep: Seq[String],
                      books: Array[Array[Array[Double]]]): DataFrame =
    pqEncode(rows, "cv", books)
      .withColumn("__cxn", sqrt(codeSum(books.map(_.map(norm2)))))
      .select((keep ++ books.indices.map(i => s"code_$i") :+ "__cxn").map(col): _*)

  /** PQ approximate top-k by asymmetric distance: the corpus side is
    * its CODES only (raw corpus vectors are never read after encode);
    * each query carries m lookup-table array columns and scores a
    * candidate with m `element_at`s. Approximate cosine =
    * Σₛ lut_s[code_s] / (|q| · √Σₛ|c_{s,code_s}|²), rounded like the
    * exact path; ties broken by neighbor id. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
             vecCol: String, k: Int,
             books: Array[Array[Array[Double]]]): DataFrame = {
    val s = corpus.sparkSession
    val encoded = pqIndex(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
      Seq("neighbor_id"), books)
    val luts = withLuts(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
        .withColumn("__qn", vnorm(s, "qv")), books)
    topK(encoded.join(broadcast(luts), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineFromNorms(
        adcDot(books.length), col("__qn"), col("__cxn"))), k)
  }

  /** Per-dimension scalar-quantization bounds (FAISS `SQ8` analog):
    * ONE bounded aggregation — posexplode → groupBy(dim index) →
    * (min, max) — produces `dim` rows, collected to the driver and
    * re-entering the plan as literals. Unlike k-means centroids these
    * bounds are EXACT and fold-order deterministic (min/max, not
    * floating sums), so an oracle can recompute the identical values
    * in SQL — no memoization needed. Returns `(mins, steps)` with
    * `step = (max - min) / 255`, or 0 for a constant dimension (its
    * codes are all 0 and dequantization returns `min` exactly). */
  def sqBounds(corpus: DataFrame, vecCol: String,
               dim: Int): (Array[Double], Array[Double]) = {
    val rows = corpus
      .select(posexplode(asDouble(col(vecCol))).as(Seq("__pos", "__x")))
      .groupBy("__pos")
      .agg(min(col("__x")).as("__mn"), max(col("__x")).as("__mx"))
      .collect()
    require(rows.length == dim,
      s"sqBounds: saw ${rows.length} dimensions, expected $dim")
    val mins = new Array[Double](dim)
    val steps = new Array[Double](dim)
    rows.foreach { r =>
      val p = r.getInt(0)
      val mn = r.getDouble(1); val mx = r.getDouble(2)
      mins(p) = mn
      steps(p) = if (mx > mn) (mx - mn) / 255.0 else 0.0
    }
    (mins, steps)
  }

  /** Encode vectors as int8 scalar-quantized codes (`sq_code`:
    * array of ints in [0, 255]) — 4× smaller than float32 storage,
    * dequantizable per-dimension as `min + code·step`. Narrow per-row
    * projection; at scale this runs once at ingest and only the codes
    * (plus the staged dequantized norm, if scoring) are stored. */
  def sqEncode(df: DataFrame, vecCol: String,
               mins: Array[Double], steps: Array[Double]): DataFrame = {
    val code =
      zip_with(
        zip_with(asDouble(col(vecCol)), lit(mins), (x, mn) => x - mn),
        lit(steps),
        (d, st) => when(st > 0,
          least(greatest(round(d / st, 0), lit(0.0)), lit(255.0)).cast("int"))
          .otherwise(lit(0)))
    df.withColumn("sq_code", code)
  }

  /** Scalar-quantized approximate top-k: the corpus side is its int8
    * CODES plus one staged dequantized norm — raw vectors are never
    * read after encode. The asymmetric trick keeps per-pair work to a
    * single dot product: with dequantized candidate
    * `c'_i = min_i + code_i·step_i`,
    * `q·c' = Σ q_i·min_i + Σ (q_i·step_i)·code_i`, and both the first
    * term (`__qm`) and the scaled query (`__qs`) are computed ONCE per
    * query before the broadcast join — so scoring a candidate is one
    * codegen'd dot of `__qs` against the code array. Same rounding
    * (6 dp) and `(cosine DESC, id)` tie-break as every other ANN
    * path. */
  def sqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
             vecCol: String, k: Int,
             mins: Array[Double], steps: Array[Double]): DataFrame = {
    val s = corpus.sparkSession
    val dequant =
      zip_with(
        zip_with(col("sq_code"), lit(steps), (c, st) => c * st),
        lit(mins), (x, mn) => x + mn)
    val encoded = sqEncode(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
        "cv", mins, steps)
      .withColumn("__dq", dequant)
      .withColumn("__cxn", vnorm(s, "__dq"))
      .select(col("neighbor_id"),
        transform(col("sq_code"), _.cast("double")).as("__cd"), col("__cxn"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("__qn", vnorm(s, "qv"))
      .withColumn("__qm", nDot(s, col("qv"), lit(mins)))
      .withColumn("__qs", zip_with(col("qv"), lit(steps), (x, st) => x * st))
      .drop("qv")
    topK(encoded.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineFromNorms(
        col("__qm") + nDot(s, col("__qs"), col("__cd")),
        col("__qn"), col("__cxn"))), k)
  }

  /** IVFPQ — the production ANN composition (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search"): IVF centroids prune
    * the candidate set to the `nprobe` cells nearest each query, and
    * PQ codes score what's left by asymmetric distance. The index the
    * scan reads is `(cell, m codes, code-norm)` per vector — raw
    * corpus vectors are consumed once at encode time and never
    * shuffle; the join is an equi-join on `cell` against the
    * broadcast (queries × nprobe) probe side carrying per-query
    * lookup tables; per-candidate work is m `element_at`s. Both
    * prunings compound: cells cut candidates ~nCells/nprobe-fold,
    * codes cut bytes-per-candidate ~(4·dim/m)-fold. Same
    * tie-breaking and rounding as [[pqTopK]], so with
    * `nprobe = nCells` the result is exactly [[pqTopK]]'s. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, k: Int, cents: Array[Array[Double]],
                nprobe: Int, books: Array[Array[Array[Double]]]): DataFrame = {
    val indexed = pqIndex(
      cellRows(assignCells(corpus, vecCol, cents), idCol, vecCol),
      Seq("neighbor_id", "cell"), books)
    val luts = withLuts(probe(queries, idCol, vecCol, cents, nprobe), books)
    topK(inProbedCells(indexed, luts)
      .withColumn("cosine", cosineFromNorms(
        adcDot(books.length), col("__qn"), col("__cxn"))), k)
  }

  /** Per-subspace PQ codebooks trained on RESIDUALS `v − cent(cell)`
    * — the codebook half of IVFADC ([[ivfPqResidualTopK]]). Residuals
    * concentrate around the origin once the coarse quantizer has
    * explained the cell structure, so the same ksub codes spend their
    * resolution on the LOCAL geometry instead of re-describing cell
    * positions — the reason FAISS's IVFPQ encodes residuals by
    * default. One narrow residual projection (per-row centroid from
    * one nested literal lookup), then the same distributed
    * sub-k-means as [[pqCodebooks]]. */
  def pqResidualBooks(corpus: DataFrame, idCol: String, vecCol: String,
                      cents: Array[Array[Double]], m: Int, ksub: Int,
                      iters: Int = 1): Array[Array[Array[Double]]] = {
    val withResid = assignCells(corpus, vecCol, cents)
      .withColumn("__resid", residual(col(vecCol), cents))
    pqCodebooks(withResid, idCol, "__resid", cents(0).length, m, ksub, iters)
  }

  /** The nested literal of the centroids, indexable by `cell + 1`. */
  private def centsLit(cents: Array[Array[Double]]): Column =
    typedlit(cents.map(_.toSeq).toSeq)

  /** `v − cent(cell)` per row: what residual codebooks train on and
    * residual codes describe. */
  private def residual(vec: Column, cents: Array[Array[Double]]): Column =
    zip_with(asDouble(vec), element_at(centsLit(cents), col("cell") + 1),
      (x, c) => x - c)

  /** IVFADC proper (Jégou et al. §III): IVF cells prune, PQ codes on
    * the RESIDUAL `v − cent(cell)` score. Versus [[ivfPqTopK]] (which
    * quantizes raw vectors), the stored code only has to describe the
    * within-cell offset, so the same (m, ksub) budget reconstructs
    * tighter and the probed-cell recall ceiling lifts — the exact
    * lever the raw-code variant lacks.
    *
    * Estimated inner product decomposes as
    * `⟨q, v⟩ ≈ ⟨q, cent(cell)⟩ + Σₛ lutₛ[codeₛ]` — the first term is
    * one per (query, probed cell), the LUTs are cell-independent
    * (dot of query sub-slices against the residual sub-centroids,
    * m·ksub doubles per query). The reconstruction norm
    * `|cent + r̂| = √(|cent|² + 2⟨cent, r̂⟩ + |r̂|²)` is assembled
    * per-row from three LITERAL tables (|cent|² per cell; the
    * ⟨cent-slice, sub-centroid⟩ cross table, nCells·ksub doubles per
    * subspace; |sub-centroid|² per code) — computed once on the
    * driver, never shuffled. Index rows are `(cell, m codes, norm)`;
    * raw vectors are consumed at encode time and never move. Same
    * rounding/tie-breaks as [[pqTopK]]. */
  def ivfPqResidualTopK(queries: DataFrame, corpus: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        cents: Array[Array[Double]], nprobe: Int,
                        books: Array[Array[Array[Double]]]): DataFrame = {
    val s = corpus.sparkSession
    val m = books.length
    val ksub = books(0).length
    val dsub = books(0)(0).length
    val dim = cents(0).length
    require(m * dsub == dim,
      s"books cover ${m * dsub} dims, centroids have $dim")
    // crTable(s)(cell·ksub + j) = ⟨cent(cell) sub-slice s, books(s)(j)⟩
    val crTable: Array[Array[Double]] = Array.tabulate(m) { sub =>
      val out = new Array[Double](cents.length * ksub)
      for (c <- cents.indices; j <- 0 until ksub) {
        var acc = 0.0
        var t = 0
        while (t < dsub) {
          acc += cents(c)(sub * dsub + t) * books(sub)(j)(t)
          t += 1
        }
        out(c * ksub + j) = acc
      }
      out
    }
    val indexed = pqEncode(
        cellRows(assignCells(corpus, vecCol, cents), idCol, vecCol)
          .withColumn("__resid", residual(col("cv"), cents)),
        "__resid", books)
      .withColumn("__cr", (0 until m).map(i =>
        element_at(lit(crTable(i)),
          col("cell") * ksub + col(s"code_$i") + 1)).reduce(_ + _))
      .withColumn("__rn2", codeSum(books.map(_.map(norm2))))
      .withColumn("__cxn", sqrt(
        element_at(lit(cents.map(norm2)), col("cell") + 1) +
          lit(2.0) * col("__cr") + col("__rn2")))
      .select((Seq("neighbor_id", "cell") ++
        (0 until m).map(i => s"code_$i") :+ "__cxn").map(col): _*)
    val luts = withLuts(probe(queries, idCol, vecCol, cents, nprobe)
      .withColumn("__qc", nDot(s, col("qv"),
        element_at(centsLit(cents), col("cell") + 1))), books)
    topK(inProbedCells(indexed, luts)
      .withColumn("cosine", cosineFromNorms(
        col("__qc") + adcDot(m), col("__qn"), col("__cxn"))), k)
  }

  /** IVF approximate top-k against caller-held centroids: probe the
    * `nprobe` cells nearest each query (computed in the same narrow
    * projection), exact cosine within those cells only. The probe side
    * is |queries|·nprobe rows — broadcast, so the corpus never
    * shuffles. Holding the centroids lets a caller build the index
    * once (or persist centroids) and share them across queries and
    * oracle generation. */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame, idCol: String,
                  vecCol: String, k: Int, cents: Array[Array[Double]],
                  nprobe: Int): DataFrame =
    ivfScore(cellRows(assignCells(corpus, vecCol, cents), idCol, vecCol),
      probe(queries, idCol, vecCol, cents, nprobe), k)

  /** `cell`-carrying corpus rows as `(neighbor_id, cv, cell)`. */
  private def cellRows(withCell: DataFrame, idCol: String,
                       vecCol: String): DataFrame =
    withCell.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      col("cell"))

  /** Queries as `(query_id, qv, cell, __qn)`, one row per probed cell. */
  private def probe(queries: DataFrame, idCol: String, vecCol: String,
                    cents: Array[Array[Double]], nprobe: Int): DataFrame =
    withProbeCells(
        queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
        "qv", cents, nprobe)
      .withColumn("__qn", vnorm(queries.sparkSession, "qv"))

  /** Index rows meet the (broadcast) probe rows of their cell; a query
    * never scores itself. */
  private def inProbedCells(indexed: DataFrame, probed: DataFrame): DataFrame =
    indexed.join(broadcast(probed), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))

  /** The IVF scoring join: [[cellRows]] against the probed queries,
    * exact cosine, top-k. */
  private def ivfScore(rows: DataFrame, probed: DataFrame, k: Int): DataFrame = {
    val s = rows.sparkSession
    topK(inProbedCells(rows.withColumn("__cn", vnorm(s, "cv")), probed)
      .withColumn("cosine", cosineFromNorms(
        nDot(s, col("qv"), col("cv")), col("__qn"), col("__cn"))), k)
  }

  /** IVF as a STORAGE layout: the corpus written `partitionBy(cell)`,
    * so serving skips non-probed cells at the SCAN — partition
    * pruning, not a post-scan filter. This is the on-disk shape of a
    * production vector index: at 100 TB the win is not arithmetic but
    * IO — a `nprobe/nCells` fraction of the index FILES is read at
    * all. Rewrite cost is one cell exchange, paid once per index
    * build. The centroids are persisted IN the layout (a
    * `_graft_ivf_layout` marker, one line per centroid, shortest-
    * round-trip `Double.toString` — parses back to the identical
    * bits; see [[PartitionedIndex]]): they ARE the index's layout
    * constants, and a maintainer assigning new rows under different
    * centroids than the stored rows silently corrupts cells. */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    cents: Array[Array[Double]], outDir: String): Unit =
    PartitionedIndex.write(
      assignCells(corpus, vecCol, cents).select(col(idCol), col(vecCol), col("cell")),
      IvfIndex, outDir, cents.length.toLong,
      cents.map(_.mkString(",")).mkString("\n"))

  /** The IVF family of [[PartitionedIndex]]: int `cell=` dirs. */
  private[graft] val IvfIndex = PartitionedIndex.Family[Int](
    "Ivf", "cell", PartitionedIndex.IntKey, "_graft_ivf_layout",
    persists = "centroids", dirNoun = "cells")

  /** The centroids persisted in a [[writeIvfIndex]] marker — the
    * EXACT doubles the build assigned cells with (bit-identical
    * through the decimal round trip). Raises on a dir that is not a
    * [[writeIvfIndex]] layout. The streaming maintenance sink reads
    * these instead of accepting centroids, so an unattended
    * maintainer can never drift from the on-disk assignment. */
  def ivfIndexCentroids(indexDir: String,
                        s: org.apache.spark.sql.SparkSession): Array[Array[Double]] =
    PartitionedIndex.readMarker(s, indexDir, IvfIndex)
      .linesIterator.filter(_.nonEmpty)
      .map(_.split(",").map(_.toDouble)).toArray

  /** The distinct probe-cell union of a query set — bounded at
    * `nCells` ints (driver-data class of the centroids). Public so
    * callers can gate on HOW MUCH of a [[writeIvfIndex]] layout a
    * query batch will actually read. */
  def probeCellSet(queries: DataFrame, vecCol: String,
                   cents: Array[Array[Double]], nprobe: Int): Array[Int] =
    PartitionedIndex.distinctKeys(withProbeCells(
      queries.select(col(vecCol).as("__pv")), "__pv", cents, nprobe), IvfIndex)

  /** Serve top-k from a [[writeIvfIndex]] layout: probe cells are
    * collected once (bounded — at most `nCells` ints, the same driver
    * class as the centroids) and pushed into the scan as a partition
    * `IN` filter; everything after is [[ivfTopKWith]]'s scoring join.
    * Results are identical to [[ivfTopKWith]] with the same centroids
    * and `nprobe` — the layout changes WHERE the bytes come from, not
    * the answer. */
  def ivfPartitionedTopK(indexDir: String, queries: DataFrame,
                         idCol: String, vecCol: String, k: Int,
                         cents: Array[Array[Double]],
                         nprobe: Int): DataFrame =
    ivfPartitionedTopKWithEvidence(
      indexDir, queries, idCol, vecCol, k, cents, nprobe)._1

  /** [[ivfPartitionedTopK]] plus its narrowing EVIDENCE — the probed
    * cell set (the serve's own internal collect) and the layout's
    * cell count, so a serving layer that LOGS its narrowing pays no
    * second assignment pass for it (see
    * `Dedup.minhashMatchesIndexedWithEvidence`). */
  def ivfPartitionedTopKWithEvidence(
      indexDir: String, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, cents: Array[Array[Double]],
      nprobe: Int): (DataFrame, Array[Int], Int) = {
    val probed = probe(queries, idCol, vecCol, cents, nprobe)
    val cellSet = PartitionedIndex.distinctKeys(probed, IvfIndex)
    // list + read ONLY the probed cell dirs (PartitionedIndex.read): a
    // query batch against a billion-row layout must not pay a
    // full-layout file listing to open nprobe cells
    val stored = PartitionedIndex.read(queries.sparkSession, indexDir,
        IvfIndex, cellSet.toSet)
      .where(col("cell").isin(cellSet.toIndexedSeq: _*))
    (ivfScore(cellRows(stored, idCol, vecCol), probed, k), cellSet,
      cents.length)
  }

  /** Incremental maintenance of a [[writeIvfIndex]] layout under a CDC
    * change set — the weekly operation of a LIVING vector corpus,
    * where the 100 TB anti-pattern is rebuilding the whole index for
    * an upsert batch. [[PartitionedIndex.update]] with the IVF rows:
    * the cells that currently HOLD a touched id (an updated vector may
    * move cells, so its old cell must rewrite too; a delete's cell is
    * only discoverable there) are located by a column-pruned
    * `(id, cell)` scan — no vector bytes are read; upserted vectors
    * take their cells from the same [[assignCells]] the build used;
    * only the union of old+new cells re-materializes and swaps in
    * whole (a cell emptied by deletes is removed). Untouched cells'
    * files are never opened for write — byte-identical before and
    * after, which `q_sim_ivf_update` gates on checksums.
    *
    * Serving ([[ivfPartitionedTopK]]) over the updated layout is
    * hash-exact with a full rebuild from the CDC-applied corpus — the
    * layout changes WHERE bytes live, never the answer. Returns the
    * touched cell ids (sorted). */
  def updateIvfIndex(indexDir: String, changes: DataFrame, idCol: String,
                     vecCol: String, cents: Array[Array[Double]],
                     seqCol: String = "seq", opCol: String = "op"): Array[Int] = {
    // the layout's own marker is the source of truth: assigning new
    // rows under DIFFERENT centroids than the stored rows corrupts
    // cells silently (the mismatch class the band/hash markers close)
    val stored = ivfIndexCentroids(indexDir, changes.sparkSession)
    require(stored.length == cents.length &&
        stored.indices.forall(i =>
          java.util.Arrays.equals(stored(i), cents(i))),
      s"caller centroids differ from the ${IvfIndex.marker} marker at " +
        s"$indexDir — maintain with ivfIndexCentroids(indexDir) or " +
        "rebuild the index")
    updateIvfCells(indexDir, changes, idCol, vecCol, cents, seqCol, opCol)
  }

  /** [[updateIvfIndex]] under the marker's own centroids, plus the
    * layout's cell count, both from the one marker read — what a
    * maintenance sink logs per batch. */
  private[graft] def updateIvfIndexWithEvidence(
      indexDir: String, changes: DataFrame, idCol: String, vecCol: String,
      seqCol: String, opCol: String): (Array[Int], Long) = {
    val cents = ivfIndexCentroids(indexDir, changes.sparkSession)
    (updateIvfCells(indexDir, changes, idCol, vecCol, cents, seqCol, opCol),
      cents.length.toLong)
  }

  private def updateIvfCells(indexDir: String, changes: DataFrame,
                             idCol: String, vecCol: String,
                             cents: Array[Array[Double]], seqCol: String,
                             opCol: String): Array[Int] =
    PartitionedIndex.update(indexDir, IvfIndex, changes, idCol, seqCol,
        opCol, cents.length.toLong) { upserts =>
      assignCells(upserts.select(col(idCol), col(vecCol)), vecCol, cents)
        .select(col(idCol), col(vecCol), col("cell"))
    }

  /** Exact re-rank (refine) of a quantized shortlist — the second
    * stage of the standard two-stage production ANN shape (FAISS's
    * `IndexRefineFlat`): any approximate path (PQ / SQ8 / IVFPQ / IVF)
    * run with `k = shortlist ≫ final k` proposes candidates cheaply,
    * and only those |queries|·shortlist (query, neighbor) pairs are
    * re-scored with EXACT full-width cosine. This is what turns the
    * quantized menu's compressed-domain recall (0.2-ish on hard
    * fixtures) into production recall: the ranking that decides the
    * final top-k is exact; the quantizer only has to get the true
    * neighbors INTO the shortlist.
    *
    * Scale shape: `shortlist` must expose (query_id, neighbor_id) —
    * bounded at |queries|·shortlist rows, so it BROADCASTS; the full
    * corpus vectors are fetched by one broadcast equi-join on
    * neighbor id (the corpus never shuffles and is scanned once,
    * pruned to id+vector columns); queries broadcast likewise. Same
    * 6-dp rounding and (cosine DESC, id) tie-break as every other ANN
    * path, so `rerank(bruteTopK(k=shortlist))` is exactly
    * [[bruteTopK]] — the identity the spec pins. */
  def rerankTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                 vecCol: String, k: Int, shortlist: DataFrame): DataFrame = {
    val s = corpus.sparkSession
    val pairs = shortlist.select(col("query_id"), col("neighbor_id"))
    val full = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("__cn", vnorm(s, "cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("__qn", vnorm(s, "qv"))
    topK(full.join(broadcast(pairs), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine", cosineFromNorms(
        nDot(s, col("qv"), col("cv")), col("__qn"), col("__cn"))), k)
  }

  /** Matryoshka funnel retrieval (Kusupati et al., arXiv:2205.13147):
    * embeddings trained with matryoshka losses pack most of their
    * signal into the leading components, so serving can SHORTLIST with
    * only the first `dims` components and RE-RANK the shortlist at
    * full width — the published two-stage funnel.
    *
    * Scale shape: stage 1 is the corpus-sized scan, and it touches
    * only the `dims`-prefix (store the prefix as its own column and
    * parquet column pruning makes the byte saving real — dims/dim of
    * the vector bytes, e.g. 16/64 = 4×); the full vectors are fetched
    * by id in stage 2 for |queries|·`shortlist` rows only — a
    * broadcast-able fraction, never a second corpus scan of vector
    * arithmetic. Both stages rank with 6-dp-rounded cosine and id
    * tie-breaks, so results are deterministic and oracle-exact.
    * `shortlist >= corpus` degenerates to exact [[bruteTopK]]. */
  def matryoshkaTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int, dims: Int,
                     shortlist: Int): DataFrame = {
    require(dims > 0, s"dims=$dims")
    require(k > 0 && shortlist >= k, s"k=$k shortlist=$shortlist")
    val s = corpus.sparkSession
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        slice(col(vecCol), 1, dims).as("qt"))
      .withColumn("__qtn", vnorm(s, "qt"))
    // stage 1: truncated-prefix scan — the only corpus-sized pass,
    // ranked by the prefix cosine
    val ct = corpus.select(col(idCol).as("neighbor_id"),
        slice(col(vecCol), 1, dims).as("ct"))
      .withColumn("__ctn", vnorm(s, "ct"))
    val shortl = ranked(
        ct.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
          .withColumn("cosine", cosineFromNorms(
            nDot(s, col("qt"), col("ct")), col("__qtn"), col("__ctn"))),
        shortlist)
      .select(col("query_id"), col("neighbor_id"), col("qv"))
    // stage 2: full-width re-rank of the shortlist only (vectors
    // fetched by id — bounded rows, not a corpus scan)
    val full = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"))
    topK(shortl.join(full, Seq("neighbor_id"))
      .withColumn("__qn", vnorm(s, "qv"))
      .withColumn("__cn", vnorm(s, "cv"))
      .withColumn("cosine", cosineFromNorms(
        nDot(s, col("qv"), col("cv")), col("__qn"), col("__cn"))), k)
  }
}
