package graft

import graft.ext.Recommend
import org.apache.spark.sql.functions._

/** ALS parity/property fixture (the ClusteringSpec discipline): a
  * two-block rating matrix — users {1,2,5} love items {10,11,12}, users
  * {3,4} love {20,21,22}, with one low cross-block rating per user so
  * the blocks stay connected and every user has a held-out IN-BLOCK item
  * the model must complete. The exact-parity test re-derives the first
  * solve's factors with driver-side arithmetic, pinning the quantized
  * normal-equation math bit-for-bit. */
class RecommendSpec extends SparkSpec {

  private def ratings = {
    import spark.implicits._
    Seq(
      (1L, 10L, 5L), (1L, 11L, 5L), (1L, 20L, 1L),
      (2L, 10L, 5L), (2L, 12L, 5L), (2L, 21L, 1L),
      (3L, 20L, 5L), (3L, 21L, 5L), (3L, 10L, 1L),
      (4L, 21L, 5L), (4L, 22L, 5L), (4L, 11L, 1L),
      (5L, 11L, 5L), (5L, 12L, 5L), (5L, 22L, 1L)
    ).toDF("u", "i", "r")
  }

  test("als completes every user's held-out in-block item as the top recommendation") {
    val (users, items) = Recommend.alsRank(ratings, rank = 2, iters = 4)
    val rec = Recommend.recommendTop1(ratings, users, items)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each user's unrated block partner must beat all cross-block items
    assert(rec === Map(1L -> 12L, 2L -> 11L, 3L -> 22L, 4L -> 20L, 5L -> 10L),
      s"in-block completion failed: $rec")
  }

  test("recommendTopK scores ALL items (rated included), ranks k per user, exact dot products") {
    val (users, items) = Recommend.alsRank(ratings, rank = 2, iters = 4)
    val topAll = Recommend.recommendTopK(users, items, k = 100)
      .collect()
    // every (user, item) pair is scored — recommendProducts does NOT
    // exclude rated pairs (the contract difference vs recommendTop1)
    val nItems = items.count()
    assert(topAll.length === (users.count() * nItems).toInt)
    // top-k output agrees with a driver-side re-ranking of the exact scores
    val uf = users.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val fi = items.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val top2 = Recommend.recommendTopK(users, items, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    top2.foreach { case (u, rnk, i, s) =>
      val expect = fi.toSeq.map { case (ii, (g1, g2)) =>
        (ii, uf(u)._1 * g1 + uf(u)._2 * g2) }
        .sortBy { case (ii, sc) => (-sc, ii) }
      assert((i, s) === expect(rnk.toInt - 1),
        s"user $u rank $rnk: got ($i, $s), want ${expect(rnk.toInt - 1)}")
    }
    assert(top2.count(_._2 == 1L) === uf.size && top2.count(_._2 == 2L) === uf.size)
  }

  test("first user solve matches a driver-side re-derivation exactly (quantized parity)") {
    val Q = Recommend.QuantScale.toDouble
    val lam = Recommend.Lambda
    // init factors exactly as initFactorExprsK(2, "i") does
    def init(i: Long): (Long, Long) =
      (Recommend.QuantScale + (i % 7) * (Recommend.QuantScale / 8),
        ((i % 5) - 2) * (Recommend.QuantScale / 4))
    val byUser = ratings.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val expected = byUser.map { case (u, rs) =>
      var (a11, a12, a22, b1, b2) = (0L, 0L, 0L, 0L, 0L)
      rs.foreach { case (_, i, r) =>
        val (y1, y2) = init(i)
        a11 += y1 * y1; a12 += y1 * y2; a22 += y2 * y2
        b1 += r * y1; b2 += r * y2
      }
      val (va11, va12, va22) = (a11 / (Q * Q) + lam, a12 / (Q * Q), a22 / (Q * Q) + lam)
      val (vb1, vb2) = (b1 / Q, b2 / Q)
      val det = (va11 * va22) - (va12 * va12)
      def quant(x: Double): Long = java.math.BigDecimal.valueOf(x * Q)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      u -> (quant(((va22 * vb1) - (va12 * vb2)) / det),
        quant(((va11 * vb2) - (va12 * vb1)) / det))
    }
    val (users, _) = Recommend.alsRank(ratings, rank = 2, iters = 1)
    // iters=1 runs user-solve(init items) then item-solve; users is the
    // first half-step's output, directly comparable
    val got = users.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === expected)
  }

  test("nonneg als: all factors >= 0, constraint binds, planted-model rmse not worse") {
    import spark.implicits._
    // planted NONNEGATIVE rank-2 model on a dense-ish grid: the
    // constrained alternation has a true nonnegative optimum
    val planted = (for (u <- 1L to 8L; i <- 10L to 17L if (u + i) % 3 != 0)
      yield (u, i, (1 + u % 3) * (1 + i % 4) + (u % 2) * (i % 3))).toDF("u", "i", "r")
    val (nu, ni) = Recommend.alsNonneg(planted, iters = 3)
    val nuF = nu.collect().map(r => (r.getLong(1), r.getLong(2)))
    val niF = ni.collect().map(r => (r.getLong(1), r.getLong(2)))
    assert((nuF ++ niF).forall(t => t._1 >= 0L && t._2 >= 0L),
      "every solved factor must be nonnegative")
    // the clamp must actually fire: the unconstrained fit on the same
    // data goes negative somewhere (sign-diverse init), so the two
    // factor sets differ
    val (uu, ui) = Recommend.alsRank(planted, rank = 2, iters = 3)
    val uuF = uu.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val clampedDiffers =
      uuF != nu.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(clampedDiffers, "constraint never bound — fixture too easy")
    def rmse(users: org.apache.spark.sql.DataFrame,
             items: org.apache.spark.sql.DataFrame): Double = {
      val q2 = (1L << 16).toDouble * (1L << 16).toDouble
      planted.join(users, "u").join(
          items.withColumnRenamed("f1q", "g1q").withColumnRenamed("f2q", "g2q"), "i")
        .select(pow(col("r") - (col("f1q") * col("g1q") +
          col("f2q") * col("g2q")) / lit(q2), 2).as("e"))
        .agg(avg("e")).head().getDouble(0)
    }
    val (rn, ru) = (rmse(nu, ni), rmse(uu, ui))
    // the constrained optimum can never beat the unconstrained one on
    // the SAME training objective (measured: 0.033 vs 0.0054 here) —
    // the contract is that the nonneg fit still explains the planted
    // signal: mse far below the label-variance (mean-predictor)
    // baseline, and in the unconstrained fit's neighborhood
    val varBase = planted.select(pow(col("r") - mean("r").over(), 2).as("e"))
      .agg(avg("e")).head().getDouble(0)
    assert(rn < varBase / 50,
      s"nonneg mse $rn should be far below the mean-predictor baseline $varBase")
    assert(rn < ru * 25,
      s"nonneg mse $rn should stay in the unconstrained fit's ($ru) neighborhood")
  }

  test("als factors are deterministic across partitionings") {
    val (u1, i1) = Recommend.alsRank(ratings.repartition(1), rank = 2, iters = 2)
    val (u7, i7) = Recommend.alsRank(ratings.repartition(7, col("i")), rank = 2, iters = 2)
    assert(u1.orderBy("u").collect().toSeq === u7.orderBy("u").collect().toSeq)
    assert(i1.orderBy("i").collect().toSeq === i7.orderBy("i").collect().toSeq)
  }

  test("recommendTop1 never surfaces an already-rated pair") {
    val (users, items) = Recommend.alsRank(ratings, rank = 2, iters = 2)
    val rated = ratings.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Recommend.recommendTop1(ratings, users, items).collect().foreach { r =>
      assert(!rated.contains((r.getLong(0), r.getLong(1))))
    }
  }

  test("svdpp matches a driver-side scalar re-derivation exactly (quantized parity)") {
    val Qs = Recommend.QuantScale
    val Q = Qs.toDouble; val Q2 = Q * Q
    val (g1, g2, g6, g7) = (0.007, 0.007, 0.005, 0.015)
    val data = ratings.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val mu = data.map(_._3).sum.toDouble / data.length
    def rnd(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    // init
    val uIds = data.map(_._1).distinct
    val iIds = data.map(_._2).distinct
    var p = uIds.map(u => u -> Array(((u % 7) + 1) * (Qs / 8), ((u % 5) + 1) * (Qs / 8))).toMap
    var z = uIds.map(u => u -> Array(0L, 0L)).toMap
    var q = iIds.map(i => i -> Array(((i % 7) + 1) * (Qs / 8), ((i % 5) + 1) * (Qs / 8))).toMap
    var y = iIds.map(i => i -> Array(((i % 3) + 1) * (Qs / 8), ((i % 11) + 1) * (Qs / 16))).toMap
    def biasInit(ratingsAt: Map[Long, Array[Long]]): Map[Long, Long] =
      ratingsAt.map { case (k, rs) => k -> rnd(((rs.sum.toDouble / rs.length) - mu) * Q) }
    var bu = biasInit(data.groupBy(_._1).view.mapValues(_.map(_._3)).toMap)
    var bi = biasInit(data.groupBy(_._2).view.mapValues(_.map(_._3)).toMap)
    val nsq = data.groupBy(_._1).view.mapValues(rs => 1.0 / math.sqrt(rs.length.toDouble)).toMap
    val degU = data.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val degI = data.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    def upd(cur: Long, s: Long, sDiv: Double, gamma: Double, reg: Double, deg: Long): Long =
      rnd(((cur / Q) + gamma * ((s / sDiv) - (reg * (deg * (cur / Q))))) * Q)
    for (_ <- 1 to 2) {
      // phase 1
      z = uIds.map { u =>
        val mine = data.filter(_._1 == u).map(_._2)
        val sy = Array(mine.map(i => y(i)(0)).sum, mine.map(i => y(i)(1)).sum)
        u -> Array(p(u)(0) + rnd(nsq(u) * sy(0)), p(u)(1) + rnd(nsq(u) * sy(1)))
      }.toMap
      // phase 2: per-edge quantized errors
      val scored = data.map { case (u, i, r) =>
        val pred = math.min(math.max(
          mu + (bu(u) / Q) + (bi(i) / Q) + ((q(i)(0) * z(u)(0) + q(i)(1) * z(u)(1)) / Q2),
          1.0), 5.0)
        val errq = rnd((r - pred) * Q)
        (u, i, errq, rnd(errq * nsq(u)))
      }
      val (p2, z2, bu2) = (uIds.map { u =>
        val es = scored.filter(_._1 == u)
        val sq = Array(es.map(e => e._3 * q(e._2)(0)).sum, es.map(e => e._3 * q(e._2)(1)).sum)
        val ty = Array(es.map(e => y(e._2)(0)).sum, es.map(e => y(e._2)(1)).sum)
        val serr = es.map(_._3).sum
        (u -> Array(upd(p(u)(0), sq(0), Q2, g2, g7, degU(u)), upd(p(u)(1), sq(1), Q2, g2, g7, degU(u))),
          u -> Array(
            rnd(((z(u)(0) / Q) + g2 * ((nsq(u) * (sq(0) / Q2)) - (g7 * (ty(0) / Q)))) * Q),
            rnd(((z(u)(1) / Q) + g2 * ((nsq(u) * (sq(1) / Q2)) - (g7 * (ty(1) / Q)))) * Q)),
          u -> upd(bu(u), serr, Q, g1, g6, degU(u)))
      }.unzip3 match { case (a, b, c) => (a.toMap, b.toMap, c.toMap) })
      val (q2n, y2n, bi2) = (iIds.map { i =>
        val es = scored.filter(_._2 == i)
        val sz = Array(es.map(e => e._3 * z(e._1)(0)).sum, es.map(e => e._3 * z(e._1)(1)).sum)
        val sw = Array(es.map(e => e._4 * q(i)(0)).sum, es.map(e => e._4 * q(i)(1)).sum)
        val serr = es.map(_._3).sum
        (i -> Array(upd(q(i)(0), sz(0), Q2, g2, g7, degI(i)), upd(q(i)(1), sz(1), Q2, g2, g7, degI(i))),
          i -> Array(upd(y(i)(0), sw(0), Q2, g2, g7, degI(i)), upd(y(i)(1), sw(1), Q2, g2, g7, degI(i))),
          i -> upd(bi(i), serr, Q, g1, g6, degI(i)))
      }.unzip3 match { case (a, b, c) => (a.toMap, b.toMap, c.toMap) })
      p = p2; z = z2; bu = bu2; q = q2n; y = y2n; bi = bi2
    }
    val (users, items, gotMu) = Recommend.svdpp(ratings, iters = 2)
    assert(gotMu === mu)
    users.collect().foreach { r =>
      val u = r.getLong(0)
      assert((r.getLong(1), r.getLong(2)) === (p(u)(0), p(u)(1)), s"p mismatch for user $u")
      assert((r.getLong(3), r.getLong(4)) === (z(u)(0), z(u)(1)), s"z mismatch for user $u")
      assert(r.getLong(5) === bu(u), s"bias mismatch for user $u")
    }
    items.collect().foreach { r =>
      val i = r.getLong(0)
      assert((r.getLong(1), r.getLong(2)) === (q(i)(0), q(i)(1)), s"q mismatch for item $i")
      assert((r.getLong(3), r.getLong(4)) === (y(i)(0), y(i)(1)), s"y mismatch for item $i")
      assert(r.getLong(5) === bi(i), s"bias mismatch for item $i")
    }
  }

  test("svdpp is deterministic across partitionings and improves training rmse") {
    val (uA, iA, _) = Recommend.svdpp(ratings.repartition(1), iters = 2)
    val (uB, iB, _) = Recommend.svdpp(ratings.repartition(5, col("u")), iters = 2)
    assert(uA.orderBy("u").collect().toSeq === uB.orderBy("u").collect().toSeq)
    assert(iA.orderBy("i").collect().toSeq === iB.orderBy("i").collect().toSeq)
    def rmse(iters: Int): Double = {
      val (us, is, mu) = Recommend.svdpp(ratings, iters = iters)
      val Q = Recommend.QuantScale.toDouble
      ratings.join(us, "u").join(is, "i")
        .select(pow(col("r") - least(greatest(
          lit(mu) + (col("buq") / lit(Q)) + (col("biq") / lit(Q))
            + ((col("q1q") * col("z1q") + col("q2q") * col("z2q")) / lit(Q * Q)),
          lit(1.0)), lit(5.0)), 2).as("e"))
        .agg(avg("e")).head().getDouble(0)
    }
    assert(rmse(2) < rmse(1), "a further gradient iteration must improve training fit here")
  }

  test("alternating solves reduce reconstruction error on the training set") {
    val (u1, i1) = Recommend.alsRank(ratings, rank = 2, iters = 1)
    val (u2, i2) = Recommend.alsRank(ratings, rank = 2, iters = 2)
    def sse(users: org.apache.spark.sql.DataFrame,
            items: org.apache.spark.sql.DataFrame): Double = {
      val q2 = (Recommend.QuantScale * Recommend.QuantScale).toDouble
      ratings
        .join(users.select(col("u"), col("f1q").as("x1"), col("f2q").as("x2")), "u")
        .join(items.select(col("i"), col("f1q").as("y1"), col("f2q").as("y2")), "i")
        .select(pow(col("r") - (col("x1") * col("y1") + col("x2") * col("y2")) / lit(q2), 2).as("e"))
        .agg(sum("e")).head().getDouble(0)
    }
    assert(sse(u2, i2) <= sse(u1, i1) + 1e-6,
      "a further ALS round must not worsen training fit")
  }

  test("implicit als: first user solve matches a driver-side re-derivation with YtY + confidences") {
    val Q = Recommend.QuantScale.toDouble
    val lam = Recommend.Lambda
    val alpha = 40L
    def init(i: Long): (Long, Long) =
      (Recommend.QuantScale + (i % 7) * (Recommend.QuantScale / 8),
        ((i % 5) - 2) * (Recommend.QuantScale / 4))
    val all = ratings.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the 1-row Gramian over ALL distinct items (the YtY precompute)
    var (g11, g12, g22) = (0L, 0L, 0L)
    all.map(_._2).distinct.foreach { i =>
      val (y1, y2) = init(i)
      g11 += y1 * y1; g12 += y1 * y2; g22 += y2 * y2
    }
    val expected = all.groupBy(_._1).map { case (u, rs) =>
      var (s11, s12, s22, b1, b2) = (0L, 0L, 0L, 0L, 0L)
      rs.foreach { case (_, i, r) =>
        val (y1, y2) = init(i)
        s11 += alpha * r * y1 * y1; s12 += alpha * r * y1 * y2; s22 += alpha * r * y2 * y2
        b1 += (1L + alpha * r) * y1; b2 += (1L + alpha * r) * y2
      }
      val (va11, va12, va22) =
        ((g11 + s11) / (Q * Q) + lam, (g12 + s12) / (Q * Q), (g22 + s22) / (Q * Q) + lam)
      val (vb1, vb2) = (b1 / Q, b2 / Q)
      val det = (va11 * va22) - (va12 * va12)
      def quant(x: Double): Long = java.math.BigDecimal.valueOf(x * Q)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      u -> (quant(((va22 * vb1) - (va12 * vb2)) / det),
        quant(((va11 * vb2) - (va12 * vb1)) / det))
    }
    val (users, _) = Recommend.alsImplicitRank(ratings, rank = 2, iters = 1, alpha = alpha)
    val got = users.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === expected)
  }

  test("implicit als factors are deterministic across partitionings and score in-block higher") {
    val (u1, i1) = Recommend.alsImplicitRank(ratings.repartition(1), rank = 2, iters = 2)
    val (u7, i7) = Recommend.alsImplicitRank(ratings.repartition(7, col("i")), rank = 2, iters = 2)
    assert(u1.orderBy("u").collect().toSeq === u7.orderBy("u").collect().toSeq)
    assert(i1.orderBy("i").collect().toSeq === i7.orderBy("i").collect().toSeq)
    // user 1 (block A: items 10-12, weak link to 20) must score its
    // held-out in-block item 12 above the cross-block item 22
    val uf = u1.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val fi = i1.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def score(u: Long, i: Long) = uf(u)._1 * fi(i)._1 + uf(u)._2 * fi(i)._2
    assert(score(1L, 12L) > score(1L, 22L),
      s"in-block preference lost: ${score(1L, 12L)} vs ${score(1L, 22L)}")
  }

  test("alsRank at rank 3 still completes held-out in-block items; guards reject bad args") {
    val (users, items) = Recommend.alsRank(ratings, rank = 3, iters = 4)
    assert(items.columns.toSeq === Seq("i", "f1q", "f2q", "f3q"))
    val uf = users.collect().map(r => r.getLong(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val fi = items.collect().map(r => r.getLong(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    def score(u: Long, i: Long) = uf(u).zip(fi(i)).map { case (a, b) => a * b }.sum
    // user 1's held-out in-block item must outscore the cross-block one
    assert(score(1L, 12L) > score(1L, 22L))
    // determinism across partitionings (the integer-sum argument at rank 3)
    val (u7, _) = Recommend.alsRank(ratings.repartition(7, col("i")), rank = 3, iters = 4)
    assert(users.orderBy("u").collect().toSeq === u7.orderBy("u").collect().toSeq)
    intercept[IllegalArgumentException](Recommend.alsRank(ratings, rank = 5))
    intercept[IllegalArgumentException](Recommend.alsSolveLayersK(3, -0.1))
  }

  test("alsImplicitRank at rank 3 still scores held-out in-block items higher") {
    val (u3, i3) = Recommend.alsImplicitRank(ratings, rank = 3, iters = 2)
    val uf = u3.collect().map(r => r.getLong(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val fi = i3.collect().map(r => r.getLong(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    def score(u: Long, i: Long) = uf(u).zip(fi(i)).map { case (a, b) => a * b }.sum
    // user 1 must keep preferring its held-out in-block item at rank 3
    assert(score(1L, 12L) > score(1L, 22L))
  }
}
