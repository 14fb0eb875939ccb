package graft

import graft.ext.{Clustering, GmmKd}
import org.apache.spark.sql.functions._

/** Joint (d, K) GMM: the (2, 2) point must reproduce Clustering.gmmFit2d's
  * fitted output exactly (s96 keeps that member), planted mixtures at the
  * (2, 3), (1, 4), (2, 4) and (3, 2) points must be recovered, and the
  * arity guards must hold. The (1, 3) point is covered by
  * ClusteringSpec's gmm k=3 tests. */
class GmmKdSpec extends SparkSpec {

  // two anisotropic 2-D clusters (milli units), correlated differently
  private def xs2d = {
    import spark.implicits._
    val a = (1 to 150).map { i =>
      (10000L + (i % 7) * 900L, 20000L + (i % 7) * 700L + (i % 3) * 400L)
    }
    val b = (1 to 100).map { i =>
      (60000L - (i % 11) * 500L, 9000L + (i % 11) * 1100L)
    }
    (a ++ b).toDF("x", "y")
  }

  // three planted anisotropic 2-D clusters, well-separated on x; each
  // has TWO independent lattice indices so no per-region covariance is
  // singular (a rank-1 lattice makes det Σ = 0 and ln(det) NaN — the
  // gmmRespExpr non-degeneracy contract)
  private def xs2d3 = {
    import spark.implicits._
    val a = (1 to 140).map { i => (8000L + (i % 9) * 600L, 30000L + (i % 9) * 500L + (i % 4) * 900L) }
    val b = (1 to 90).map { i => (52000L + (i % 7) * 800L, 10000L - (i % 7) * 600L + (i % 5) * 700L) }
    val c = (1 to 60).map { i => (99000L + (i % 5) * 400L, 70000L + (i % 5) * 1200L + (i % 3) * 1100L) }
    (a ++ b ++ c).toDF("x", "y")
  }

  test("(2, 2) reproduces gmmFit2d's fitted output exactly") {
    val legacy = Clustering.gmmFit2d(xs2d, iters = 3).orderBy("comp").collect().toSeq
    val joint = GmmKd.gmmFitKd(xs2d, d = 2, kTot = 2, iters = 3).orderBy("comp").collect().toSeq
    assert(joint === legacy)
  }

  test("(2, 3) recovers a planted anisotropic 3-mixture") {
    val out = GmmKd.gmmFitKd(xs2d3, d = 2, kTot = 3, iters = 6)
      .orderBy("comp").collect()
    assert(out.length === 3)
    val weights = out.map(_.getLong(1))
    assert(weights.sum === 1000000L, s"weights must sum to 1e6: ${weights.toSeq}")
    // component means (milli) must land near the planted x-centers
    // 8000+~2400, 52000+~2400, 99000+~800 in x-ascending comp order
    val mx = out.map(_.getLong(2))
    assert(math.abs(mx(0) - 10400) < 2500, s"comp1 mean_x ${mx(0)}")
    assert(math.abs(mx(1) - 54400) < 2500, s"comp2 mean_x ${mx(1)}")
    assert(math.abs(mx(2) - 99800) < 2500, s"comp3 mean_x ${mx(2)}")
    // hard counts recover the planted sizes exactly (clusters are
    // far apart relative to their spreads)
    assert(out.map(_.getLong(7)).toSeq === Seq(140L, 90L, 60L))
    // every covariance diagonal is positive (the floor never binds on
    // a live component here)
    assert(out.map(_.getLong(4)).forall(_ > 1L))
    assert(out.map(_.getLong(6)).forall(_ > 1L))
  }

  test("(1, 4) and (2, 4) fit four planted components; guards reject bad shapes") {
    import spark.implicits._
    val four = ((1 to 90).map(i => 5L + (i % 3)) ++ (1 to 70).map(i => 40L + (i % 5)) ++
      (1 to 50).map(i => 90L + (i % 7)) ++ (1 to 30).map(i => 160L + (i % 4)))
      .map(Tuple1(_)).toDF("x")
    val out = GmmKd.gmmFitKd(four, d = 1, kTot = 4, iters = 3).orderBy("comp").collect()
    assert(out.length === 4)
    assert(out.map(_.getLong(1)).sum === 1000000L)
    assert(out.map(_.getLong(4)).toSeq === Seq(90L, 70L, 50L, 30L),
      "hard counts must recover the four planted sizes")
    // means ascend with the planted centers
    val means = out.map(_.getLong(2))
    assert(means.sameElements(means.sorted), s"means not ascending: ${means.toSeq}")
    intercept[IllegalArgumentException](GmmKd.gmmFitKd(four, d = 4, kTot = 2))
    intercept[IllegalArgumentException](GmmKd.gmmFitKd(four, d = 1, kTot = 5))
  }

  test("(3, 2) separates two planted anisotropic 3-D clusters") {
    import spark.implicits._
    // two 3-D lattice clouds (milli units), each with three independent
    // indices so no covariance is singular; separated on every axis
    val a = (1 to 160).map { i =>
      (9000L + (i % 7) * 700L, 25000L + (i % 5) * 900L + (i % 3) * 400L,
        40000L - (i % 11) * 500L + (i % 4) * 300L)
    }
    val b = (1 to 90).map { i =>
      (61000L + (i % 9) * 600L, 70000L - (i % 7) * 800L + (i % 4) * 500L,
        12000L + (i % 5) * 1100L + (i % 3) * 700L)
    }
    val xs = (a ++ b).toDF("x", "y", "z")
    val out = GmmKd.gmmFitKd(xs, d = 3, kTot = 2, iters = 3).orderBy("comp").collect()
    assert(out.length === 2)
    assert(out.head.schema.fieldNames.toSeq === Seq("comp", "weight_micro",
      "mean_x_milli", "mean_y_milli", "mean_z_milli", "var_x_micro",
      "cov_xy_micro", "cov_xz_micro", "var_y_micro", "cov_yz_micro",
      "var_z_micro", "n_hard"))
    // hard counts recover the planted sizes exactly; weights complement
    assert(out.map(_.getLong(11)).toSeq === Seq(160L, 90L))
    assert(out.map(_.getLong(1)).sum === 1000000L)
    // means land near the planted centers on every axis (milli)
    val m1 = (out(0).getLong(2), out(0).getLong(3), out(0).getLong(4))
    val m2 = (out(1).getLong(2), out(1).getLong(3), out(1).getLong(4))
    assert(math.abs(m1._1 - 11100) < 2000 && math.abs(m1._2 - 27200) < 2000 &&
      math.abs(m1._3 - 38000) < 2500, s"comp1 means $m1")
    assert(math.abs(m2._1 - 63400) < 2000 && math.abs(m2._2 - 68000) < 2500 &&
      math.abs(m2._3 - 15000) < 2500, s"comp2 means $m2")
    // diagonals positive, determinant of comp-1's fitted Sigma positive
    // (the generated 3x3 cofactor algebra is a real inverse)
    val (v1, c12, c13, v2, c23, v3) = (out(0).getLong(5), out(0).getLong(6),
      out(0).getLong(7), out(0).getLong(8), out(0).getLong(9), out(0).getLong(10))
    val det = v1.toDouble * (v2.toDouble * v3 - c23.toDouble * c23) -
      c12.toDouble * (c12.toDouble * v3 - c23.toDouble * c13) +
      c13.toDouble * (c12.toDouble * c23 - v2.toDouble * c13)
    assert(det > 0, s"fitted 3x3 covariance must be positive-definite: det $det")
  }

  test("binary responsibility text is byte-identical to gmm2RespExpr at d = 2") {
    assert(GmmKd.respExpr(2, 2, 1) === Clustering.gmm2RespExpr)
  }
}
