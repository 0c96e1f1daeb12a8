package graft.ml

import breeze.linalg.{DenseVector => BDV}
import breeze.optimize.{CachedDiffFunction, DiffFunction, LBFGS}
import org.apache.spark.ml.linalg.{DenseMatrix, Matrix, SparseMatrix, Vector, Vectors}
import scala.collection.mutable

/** The multinomial softmax fit behind [[Trainer]], run inside ONE task
  * over the whole training sample. It minimizes exactly the objective
  * of Spark's `LogisticRegression` (multinomial, with intercept,
  * `standardization = false`, L2 only) with the same breeze L-BFGS, so
  * the fitted model is Spark's to rounding. Only the evaluation
  * differs: Spark runs one job per loss/gradient evaluation, broadcasts
  * the coefficients and tree-aggregates a dense classes × features
  * gradient; here one thread walks CSR arrays in memory.
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
  * Parameters live column-major as in Spark: w_kj at j·K + k, the K
  * intercepts last. */
private[ml] object SoftmaxFit {

  /** What leaves the fit task: O(classes × features), never rows. */
  final case class Result(labels: Array[String], coefficients: Matrix,
                          intercepts: Vector, objectiveHistory: Array[Double])

  /** Fit over (label, term-frequency vector) rows; None when no row
    * has a label. */
  def fit(rows: Iterator[(String, Vector)], numFeatures: Int, maxIter: Int,
          regParam: Double, tol: Double): Option[Result] = {
    val rowLabels = mutable.ArrayBuffer.empty[String]
    val indptr = mutable.ArrayBuilder.make[Int]
    val indices = mutable.ArrayBuilder.make[Int]
    val values = mutable.ArrayBuilder.make[Double]
    indptr += 0
    rows.foreach { case (label, features) =>
      if (label != null) {
        rowLabels += label
        features.foreachActive { (j, v) => indices += j; values += v }
        indptr += indices.length
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

    val loss = new Loss(csr.scaled(std), y, numClasses, numFeatures, std,
      scaledMean, regParam)
    val lbfgs = new LBFGS[BDV[Double]](maxIter, 10, tol)
    val history = mutable.ArrayBuilder.make[Double]
    var state: lbfgs.State = null
    lbfgs.iterations(new CachedDiffFunction(loss), BDV(init)).foreach { s =>
      state = s
      history += s.adjustedValue
    }
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

  /** Mean softmax cross-entropy plus L2 over scaled rows: one
    * single-threaded pass per evaluation, margins and gradient updated
    * only at each row's non-zeros. */
  private final class Loss(x: Csr, y: Array[Int], numClasses: Int,
                           numFeatures: Int, std: Array[Double],
                           scaledMean: Array[Double], regParam: Double)
      extends DiffFunction[BDV[Double]] {
    private val K = numClasses
    private val linear = numClasses * numFeatures

    override def calculate(coef: BDV[Double]): (Double, BDV[Double]) = {
      val w = coef.toArray
      val grad = new Array[Double](w.length)
      // margin of an all-zero row: b_k − Σ_j w_kj μ_j/σ_j
      val offset = java.util.Arrays.copyOfRange(w, linear, linear + K)
      forEachCentered { (base, s) =>
        var k = 0
        while (k < K) { offset(k) -= w(base + k) * s; k += 1 }
      }
      val m = new Array[Double](K)
      val multiplierSum = new Array[Double](K)
      var lossSum = 0.0
      var i = 0
      while (i < y.length) {
        System.arraycopy(offset, 0, m, 0, K)
        val start = x.indptr(i)
        val end = x.indptr(i + 1)
        var p = start
        while (p < end) {
          val v = x.values(p)
          val base = x.indices(p) * K
          var k = 0
          while (k < K) { m(k) += v * w(base + k); k += 1 }
          p += 1
        }
        var max = m(0)
        var k = 1
        while (k < K) { if (m(k) > max) max = m(k); k += 1 }
        val label = y(i)
        val labelMargin = m(label) - max
        var sum = 0.0
        k = 0
        while (k < K) { m(k) = math.exp(m(k) - max); sum += m(k); k += 1 }
        lossSum += math.log(sum) - labelMargin
        // m becomes the multiplier: softmax − one-hot(label)
        k = 0
        while (k < K) {
          m(k) = m(k) / sum - (if (k == label) 1.0 else 0.0)
          multiplierSum(k) += m(k)
          k += 1
        }
        p = start
        while (p < end) {
          val v = x.values(p)
          val base = x.indices(p) * K
          k = 0
          while (k < K) { grad(base + k) += m(k) * v; k += 1 }
          p += 1
        }
        i += 1
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
