package graft.ml

import breeze.linalg.{DenseVector => BDV}
import breeze.optimize.{CachedDiffFunction, DiffFunction, LBFGS}
import org.apache.spark.ml.linalg.{DenseMatrix, Matrix, SparseMatrix, Vector, Vectors}
import java.util.concurrent.{ExecutionException, ExecutorService, Executors,
  ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** The multinomial softmax fit behind [[Trainer]], run inside ONE task
  * over the whole training sample. It minimizes exactly the objective
  * of Spark's `LogisticRegression` (multinomial, with intercept,
  * `standardization = false`, L2 only) with the same breeze L-BFGS, so
  * the fitted model is Spark's to rounding. Only the evaluation
  * differs: Spark runs one job per loss/gradient evaluation, broadcasts
  * the coefficients and tree-aggregates a dense classes × features
  * gradient; here the task walks CSR arrays in memory.
  *
  * Spark's formulation, term by term:
  *  - labels in StringIndexer order: frequency descending, ties by
  *    string order; rows with a null label are dropped;
  *  - each feature scaled by 1/σ_j (unbiased, n − 1); a feature with
  *    σ_j = 0 contributes nothing and is not penalized;
  *  - virtual centering: margin_k = b_k + Σ_j w_kj (x_j − μ_j)/σ_j, the
  *    μ part folded into one offset per class per evaluation so rows
  *    stay sparse;
  *  - loss = mean −log softmax(margin)_y + ½·regParam·Σ (w_kj/σ_j)²;
  *  - start at w = 0, b_k = log1p(n_k) − mean_k log1p(n_k);
  *  - back-transform coef_kj = w_kj/σ_j, intercept_k = b_k − Σ_j
  *    w_kj μ_j/σ_j, then center the intercepts on zero.
  * Spark also centers each feature's coefficients over the classes when
  * regParam = 0; starting from w = 0 every gradient sums to zero over
  * the classes, so they are centered already.
  *
  * Threads: each evaluation walks the rows in fixed blocks of
  * [[BlockRows]]. Within a block, `threads` workers (the task thread
  * plus a daemon pool, shut down when the fit ends; [[Trainer]] passes
  * the session's local core count, 1 off a `local[...]` master) first
  * compute the rows' margins, softmax and multipliers, split by rows;
  * then they add the block into the gradient, split by classes, each
  * gradient element and each multiplier sum taking its rows in
  * ascending order. The loss is summed in row order. Every double therefore sees the additions of
  * the serial loop in the serial order, and the fit is bit-identical at
  * any thread count; scratch memory is one block × classes. Using more
  * cores than the task's one slot is acceptable because the fit runs
  * alone in a one-partition stage that nothing else waits on; trials
  * that [[Tuning]] runs concurrently share the cores, which changes
  * their timing and no result.
  *
  * Parameters live column-major as in Spark: w_kj at j·K + k, the K
  * intercepts last. */
private[graft] object SoftmaxFit {

  /** What leaves the fit task: O(classes × features), never rows. */
  final case class Result(labels: Array[String], coefficients: Matrix,
                          intercepts: Vector, objectiveHistory: Array[Double])

  /** Rows per block of a loss/gradient evaluation. */
  private val BlockRows = 2048

  /** Name prefix of the fit's worker threads. */
  private[graft] val ThreadPrefix = "graft-softmax-fit-"

  /** Fit over (label, (sorted feature indices, values)) rows on
    * `threads` threads; None when no row has a label. */
  def fit(rows: Iterator[(String, (Array[Int], Array[Double]))], numFeatures: Int,
          maxIter: Int, regParam: Double, tol: Double, threads: Int): Option[Result] = {
    val rowLabels = mutable.ArrayBuffer.empty[String]
    val indptr = mutable.ArrayBuilder.make[Int]
    val indices = mutable.ArrayBuilder.make[Int]
    val values = mutable.ArrayBuilder.make[Double]
    indptr += 0
    var nnz = 0
    rows.foreach { case (label, (idx, vals)) =>
      if (label != null) {
        rowLabels += label
        indices ++= idx
        values ++= vals
        nnz += idx.length
        indptr += nnz
      }
    }
    if (rowLabels.isEmpty) return None

    val counts = rowLabels.groupMapReduce(identity)(_ => 1L)(_ + _)
    val labels = counts.toArray.sortWith { case ((a, na), (b, nb)) =>
      if (na == nb) a < b else na > nb
    }.map(_._1)
    val numClasses = labels.length
    if (numClasses == 1) {
      // Spark's constant-label answer: no fit, zero coefficients, an
      // infinite intercept and a one-entry zero objective history
      return Some(Result(labels,
        new SparseMatrix(1, numFeatures, new Array[Int](2), Array.emptyIntArray,
          Array.emptyDoubleArray, isTransposed = true).compressed,
        Vectors.sparse(1, Array(0), Array(Double.PositiveInfinity)),
        Array(0.0)))
    }
    val labelIndex = labels.zipWithIndex.toMap
    val y = rowLabels.iterator.map(labelIndex).toArray
    val csr = Csr(indptr.result(), indices.result(), values.result())
    val (std, scaledMean) = scaling(csr, y.length, numFeatures)

    val init = new Array[Double](numClasses * (numFeatures + 1))
    val rawIntercepts = labels.map(l => math.log1p(counts(l).toDouble))
    val rawMean = rawIntercepts.sum / numClasses
    rawIntercepts.indices.foreach { k =>
      init(numClasses * numFeatures + k) = rawIntercepts(k) - rawMean
    }

    val lbfgs = new LBFGS[BDV[Double]](maxIter, 10, tol)
    val history = mutable.ArrayBuilder.make[Double]
    var state: lbfgs.State = null
    val workers = new Workers(threads)
    try {
      val loss = new Loss(csr.scaled(std), y, numClasses, numFeatures, std,
        scaledMean, regParam, workers)
      lbfgs.iterations(new CachedDiffFunction(loss), BDV(init)).foreach { s =>
        state = s
        history += s.adjustedValue
      }
    } finally workers.close()
    val (coefficients, intercepts) = backTransform(state.x.toArray, numClasses,
      numFeatures, std, scaledMean)
    Some(Result(labels, coefficients, intercepts, history.result()))
  }

  private final case class Csr(indptr: Array[Int], indices: Array[Int],
                               values: Array[Double]) {
    /** x_j/σ_j, entries of constant (σ_j = 0) features dropped. */
    def scaled(std: Array[Double]): Csr = {
      val ptr = new Array[Int](indptr.length)
      val idx = mutable.ArrayBuilder.make[Int]
      val vals = mutable.ArrayBuilder.make[Double]
      var kept = 0
      var i = 0
      while (i < indptr.length - 1) {
        var p = indptr(i)
        while (p < indptr(i + 1)) {
          val j = indices(p)
          if (std(j) != 0.0) { idx += j; vals += values(p) * (1.0 / std(j)); kept += 1 }
          p += 1
        }
        i += 1
        ptr(i) = kept
      }
      Csr(ptr, idx.result(), vals.result())
    }
  }

  /** Per-feature σ (unbiased; 0 below two rows) and μ/σ (0 where σ = 0). */
  private def scaling(csr: Csr, n: Int, numFeatures: Int): (Array[Double], Array[Double]) = {
    val mean = new Array[Double](numFeatures)
    val present = new Array[Int](numFeatures)
    csr.indices.indices.foreach { p =>
      mean(csr.indices(p)) += csr.values(p)
      present(csr.indices(p)) += 1
    }
    mean.indices.foreach(j => mean(j) /= n)
    val m2 = new Array[Double](numFeatures)
    csr.indices.indices.foreach { p =>
      val d = csr.values(p) - mean(csr.indices(p))
      m2(csr.indices(p)) += d * d
    }
    val std = Array.tabulate(numFeatures) { j =>
      if (n < 2) 0.0
      else math.sqrt((m2(j) + (n - present(j)) * mean(j) * mean(j)) / (n - 1))
    }
    val scaledMean = Array.tabulate(numFeatures) { j =>
      if (std(j) != 0.0) mean(j) * (1.0 / std(j)) else 0.0
    }
    (std, scaledMean)
  }

  /** The task thread plus a pool of `threads − 1` daemon threads. */
  private final class Workers(threads: Int) {
    require(threads >= 1, s"fit threads: $threads")
    private val pool: ExecutorService =
      if (threads <= 1) null
      else Executors.newFixedThreadPool(threads - 1, new ThreadFactory {
        private val made = new AtomicInteger
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, ThreadPrefix + made.incrementAndGet())
          t.setDaemon(true)
          t
        }
      })

    /** Run `f(from, until)` over `parts` contiguous ranges of [0, n),
      * parts = min(threads, n / grain) but at least one, the first on the
      * calling thread; returns when all have. */
    def split(n: Int, grain: Int)(f: (Int, Int) => Unit): Unit = {
      val parts = math.min(threads, math.max(1, n / grain))
      val rest = (1 until parts).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = f(t * n / parts, (t + 1) * n / parts)
        })
      }
      f(0, n / parts)
      rest.foreach { r =>
        try r.get() catch { case e: ExecutionException => throw e.getCause }
      }
    }

    def close(): Unit = if (pool != null) {
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  /** Mean softmax cross-entropy plus L2 over scaled rows: margins and
    * gradient updated only at each row's non-zeros, block by block on
    * `workers` (see the object's doc for the summation order). */
  private final class Loss(x: Csr, y: Array[Int], numClasses: Int,
                           numFeatures: Int, std: Array[Double],
                           scaledMean: Array[Double], regParam: Double,
                           workers: Workers)
      extends DiffFunction[BDV[Double]] {
    private val K = numClasses
    private val linear = numClasses * numFeatures
    // one block's rows: multipliers (softmax − one-hot) and losses
    private val mult = new Array[Double](BlockRows * K)
    private val rowLoss = new Array[Double](BlockRows)

    override def calculate(coef: BDV[Double]): (Double, BDV[Double]) = {
      val w = coef.toArray
      val grad = new Array[Double](w.length)
      // margin of an all-zero row: b_k − Σ_j w_kj μ_j/σ_j
      val offset = java.util.Arrays.copyOfRange(w, linear, linear + K)
      forEachCentered { (base, s) =>
        var k = 0
        while (k < K) { offset(k) -= w(base + k) * s; k += 1 }
      }
      val multiplierSum = new Array[Double](K)
      var lossSum = 0.0
      var from = 0
      while (from < y.length) {
        val until = math.min(from + BlockRows, y.length)
        workers.split(until - from, 64) { (lo, hi) =>
          var r = lo
          while (r < hi) { multipliers(w, offset, from + r, r); r += 1 }
        }
        var r = 0
        while (r < until - from) { lossSum += rowLoss(r); r += 1 }
        workers.split(K, 8) { (k0, k1) =>
          addBlock(grad, multiplierSum, from, until, k0, k1)
        }
        from = until
      }
      // the centering the sparse pass left out, and the intercepts
      forEachCentered { (base, s) =>
        var k = 0
        while (k < K) { grad(base + k) -= multiplierSum(k) * s; k += 1 }
      }
      var k = 0
      while (k < K) { grad(linear + k) += multiplierSum(k); k += 1 }
      val n = y.length.toDouble
      var j = 0
      while (j < grad.length) { grad(j) *= 1.0 / n; j += 1 }
      var regSum = 0.0
      if (regParam != 0.0) {
        j = 0
        while (j < linear) {
          val s = std(j / K)
          if (s != 0.0) {
            val t = w(j) / (s * s)
            regSum += w(j) * t
            grad(j) += regParam * t
          }
          j += 1
        }
      }
      (lossSum / n + 0.5 * regSum * regParam, BDV(grad))
    }

    /** Row i's multipliers into block slot r of `mult`, its loss into
      * `rowLoss(r)`. */
    private def multipliers(w: Array[Double], offset: Array[Double], i: Int,
                            r: Int): Unit = {
      val at = r * K
      System.arraycopy(offset, 0, mult, at, K)
      var p = x.indptr(i)
      while (p < x.indptr(i + 1)) {
        val v = x.values(p)
        val base = x.indices(p) * K
        var k = 0
        while (k < K) { mult(at + k) += v * w(base + k); k += 1 }
        p += 1
      }
      var max = mult(at)
      var k = 1
      while (k < K) { if (mult(at + k) > max) max = mult(at + k); k += 1 }
      val label = y(i)
      val labelMargin = mult(at + label) - max
      var sum = 0.0
      k = 0
      while (k < K) {
        mult(at + k) = math.exp(mult(at + k) - max)
        sum += mult(at + k)
        k += 1
      }
      rowLoss(r) = math.log(sum) - labelMargin
      k = 0
      while (k < K) {
        mult(at + k) = mult(at + k) / sum - (if (k == label) 1.0 else 0.0)
        k += 1
      }
    }

    /** Classes [k0, k1) of rows [from, until): multiplier sums and
      * gradient, each element's rows in ascending order. */
    private def addBlock(grad: Array[Double], multiplierSum: Array[Double],
                         from: Int, until: Int, k0: Int, k1: Int): Unit = {
      var i = from
      while (i < until) {
        val at = (i - from) * K
        var k = k0
        while (k < k1) { multiplierSum(k) += mult(at + k); k += 1 }
        var p = x.indptr(i)
        while (p < x.indptr(i + 1)) {
          val v = x.values(p)
          val base = x.indices(p) * K
          k = k0
          while (k < k1) { grad(base + k) += mult(at + k) * v; k += 1 }
          p += 1
        }
        i += 1
      }
    }

    private def forEachCentered(f: (Int, Double) => Unit): Unit = {
      var j = 0
      while (j < numFeatures) {
        if (scaledMean(j) != 0.0) f(j * K, scaledMean(j))
        j += 1
      }
    }
  }

  /** Scaled-space solution → the (row-major K × F) coefficients and K
    * intercepts Spark's model carries, compressed as Spark compresses. */
  private def backTransform(solution: Array[Double], numClasses: Int,
                            numFeatures: Int, std: Array[Double],
                            scaledMean: Array[Double]): (Matrix, Vector) = {
    val K = numClasses
    val coef = new Array[Double](K * numFeatures)
    val adapt = new Array[Double](K)
    (0 until numFeatures).foreach { j =>
      (0 until K).foreach { k =>
        val w = solution(j * K + k)
        adapt(k) += w * scaledMean(j)
        if (std(j) != 0.0) coef(k * numFeatures + j) = w / std(j)
      }
    }
    val intercepts = Array.tabulate(K)(k => solution(K * numFeatures + k) - adapt(k))
    val interceptMean = intercepts.sum / K
    (new DenseMatrix(K, numFeatures, coef, isTransposed = true).compressed,
      Vectors.dense(intercepts.map(_ - interceptMean)).compressed)
  }
}
