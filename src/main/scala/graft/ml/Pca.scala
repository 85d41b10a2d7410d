package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Leading principal component via the distributed Gram-reduction
  * pattern (the `RowMatrix.computePrincipalComponents` shape in plain
  * DataFrames): the ONLY corpus-sized work is the covariance build —
  * upper-triangle cross products exploded long-form (i, j, x·y), so
  * map-side combine collapses every partition to ≤ d(d+1)/2 rows
  * before the one shuffle, at ANY corpus size — and the d×d
  * eigenproblem is then driver-sized by construction (64×64 doubles;
  * MLlib makes the same local-eigen choice, S10 tiny-summary policy).
  * Fixed power-iteration rounds extract (λ₁, pc1).
  *
  * Determinism contract (the embed_kmeans discipline): the distributed
  * moments are plan-rounded to 6 dp (avg order collapses), covariance
  * is derived from ROUNDED moments only — so any engine replaying the
  * chain iterates bit-identical matrices — and each driver round
  * re-rounds the matvec and the normalized components with HALF_UP
  * (Spark's plan-round semantics) while folding norms in ascending-dim
  * order, exactly what the DuckDB oracle's
  * `list_sum(list(... ORDER BY i))` does. The uniform start
  * 1/√64 = 0.125 is exactly representable, and the positive start
  * fixes the eigenvector's sign convention.
  *
  * Shared by embed_pca (emits the model) and embed_pca_apply /
  * whitening (applies it) — one fit per input per session, shared as a
  * [[graft.ops.Artifacts.value]] by the embed queries.
  */
object Pca {

  /** mu and w are 0-indexed over dims 1..d; both round-6 by the
    * contract above, so they may ship as plan literals.
    */
  final case class Pca1(mu: Array[Double], w: Array[Double], lam: Double)

  private def r6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Fit over a frame with a double-array column `v` of width `dim`. */
  def fit1(vframe: DataFrame, dim: Int = 64, iters: Int = 8): Pca1 = {
    val v = vframe.select(col("v"))
    val mu = v.select(posexplode(col("v")).as(Seq("i0", "x")))
      .groupBy((col("i0") + 1).as("i")).agg(round(avg(col("x")), 6).as("m"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
    val axy = v
      .select(col("v"), posexplode(col("v")).as(Seq("i0", "x")))
      .select(col("i0"), col("x"),
        posexplode(expr(s"slice(v, i0 + 1, $dim - i0)")).as(Seq("j0", "y")))
      .select((col("i0") + 1).as("i"), (col("i0") + 1 + col("j0")).as("j"),
        (col("x") * col("y")).as("p"))
      .groupBy(col("i"), col("j")).agg(round(avg(col("p")), 6).as("axy"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    // driver-side d×d eigen on the rounded (bit-shared) matrix
    val cmat = Array.tabulate(dim, dim) { (a, b) =>
      val (i, j) = (math.min(a, b) + 1, math.max(a, b) + 1)
      axy((i, j)) - mu(i) * mu(j)
    }
    var rv = Array.fill(dim)(0.125)
    for (_ <- 1 to iters) {
      val y = Array.tabulate(dim) { i =>
        var acc = 0.0; var j = 0
        while (j < dim) { acc += cmat(i)(j) * rv(j); j += 1 }
        r6(acc)
      }
      var nn = 0.0; y.foreach(x => nn += x * x)
      val nv = math.sqrt(nn)
      rv = y.map(x => r6(x / nv))
    }
    val cy = Array.tabulate(dim) { i =>
      var acc = 0.0; var j = 0
      while (j < dim) { acc += cmat(i)(j) * rv(j); j += 1 }
      r6(acc)
    }
    var rl = 0.0; var i = 0
    while (i < dim) { rl += cy(i) * rv(i); i += 1 }
    Pca1(Array.tabulate(dim)(d => mu(d + 1)), rv, r6(rl))
  }

  /** Top-m components via DEFLATION (Hotelling 1933's sequential
    * extraction): after each power-iteration convergence the captured
    * rank-1 subspace is subtracted (C ← C − λ·w wᵀ, plain left-assoc
    * arithmetic — both engines compute `c - (λ·wᵢ)·wⱼ` on bit-identical
    * inputs, so no extra rounding is needed) and the next component is
    * extracted from the residual matrix. Everything stays driver-sized:
    * the corpus work is still the ONE Gram reduction [[fit1]] does; the
    * m×(d×d) deflation chain is 64×64 doubles. Components come out
    * orthogonal up to the round-6 contract (WhitenSpec pins planted
    * two-axis recovery and whitened decorrelation).
    */
  final case class PcaM(mu: Array[Double], w: Array[Array[Double]], lam: Array[Double])

  def fitM(vframe: DataFrame, dim: Int = 64, iters: Int = 8, m: Int = 3): PcaM = {
    require(m >= 1 && m <= dim, s"m out of range: $m")
    val v = vframe.select(col("v"))
    val mu = v.select(posexplode(col("v")).as(Seq("i0", "x")))
      .groupBy((col("i0") + 1).as("i")).agg(round(avg(col("x")), 6).as("m"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
    val axy = v
      .select(col("v"), posexplode(col("v")).as(Seq("i0", "x")))
      .select(col("i0"), col("x"),
        posexplode(expr(s"slice(v, i0 + 1, $dim - i0)")).as(Seq("j0", "y")))
      .select((col("i0") + 1).as("i"), (col("i0") + 1 + col("j0")).as("j"),
        (col("x") * col("y")).as("p"))
      .groupBy(col("i"), col("j")).agg(round(avg(col("p")), 6).as("axy"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    val cmat = Array.tabulate(dim, dim) { (a, b) =>
      val (i, j) = (math.min(a, b) + 1, math.max(a, b) + 1)
      axy((i, j)) - mu(i) * mu(j)
    }
    val ws = Array.ofDim[Array[Double]](m)
    val ls = Array.ofDim[Double](m)
    for (c <- 0 until m) {
      var rv = Array.fill(dim)(0.125)
      for (_ <- 1 to iters) {
        val y = Array.tabulate(dim) { i =>
          var acc = 0.0; var j = 0
          while (j < dim) { acc += cmat(i)(j) * rv(j); j += 1 }
          r6(acc)
        }
        var nn = 0.0; y.foreach(x => nn += x * x)
        val nv = math.sqrt(nn)
        rv = y.map(x => r6(x / nv))
      }
      val cy = Array.tabulate(dim) { i =>
        var acc = 0.0; var j = 0
        while (j < dim) { acc += cmat(i)(j) * rv(j); j += 1 }
        r6(acc)
      }
      var rl = 0.0; var i = 0
      while (i < dim) { rl += cy(i) * rv(i); i += 1 }
      ws(c) = rv
      ls(c) = r6(rl)
      // deflate: C ← C − λ·w wᵀ (left-assoc (λ·wᵢ)·wⱼ, oracle-mirrored)
      var a = 0
      while (a < dim) {
        var b = 0
        while (b < dim) { cmat(a)(b) = cmat(a)(b) - ls(c) * rv(a) * rv(b); b += 1 }
        a += 1
      }
    }
    PcaM(Array.tabulate(dim)(d => mu(d + 1)), ws, ls)
  }
}
