package graft

import graft.ext.{Clustering, GmmKd}
import org.apache.spark.sql.functions._

/** Relational Lloyd k-means: partitioning invariants plus value parity
  * with an independent driver-side reimplementation of the same spec
  * (quantized integers, mean centroids, ties to lowest label). */
class ClusteringSpec extends SparkSpec {

  test("k-means clusters partition the corpus; labels come from the seed set") {
    val out = Clustering.kmeans(
      Tables.embeddings(spark, sf001), "vec_id", "embedding", 64).collect()
    assert(out.map(_.getLong(1)).sum === 500L)
    assert(out.map(_.getLong(0)).toSet.subsetOf(Set(0L, 1L, 2L, 3L)))
    out.foreach(r => assert(r.getLong(2) >= 0L))
  }

  test("sampled k-means assigns the FULL corpus from sample-trained centroids") {
    val e = Tables.embeddings(spark, sf001)
    val out = Clustering.kmeansSampled(e, "vec_id", "embedding", 64).collect()
    assert(out.map(_.getLong(1)).sum === e.count()) // every vector assigned
    // cluster labels are seed ids, and seeds come from the vec_id % 4 sample
    assert(out.forall(_.getLong(0) % 4 == 0))
  }

  test("distributed assignment equals a driver-side Lloyd reimplementation") {
    val vq = Clustering.quantized(
        Tables.embeddings(spark, sf001), "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).sortBy(_._1)
    // independent reference: same seed (ids < k), mean centroids, 2 iters
    val k = 4
    var centers: Seq[(Long, Array[Double])] =
      vq.take(k).map { case (id, v) => (id, v.map(_.toDouble)) }.toSeq
    def assign(v: Array[Long]): Long =
      centers.minBy { case (_, c) =>
        c.zip(v).map { case (ci, xi) => val d = xi - ci; d * d }.sum
      }._1 // minBy keeps the FIRST minimum = lowest label (centers sorted)
    for (_ <- 1 to 2) {
      val byCluster = vq.groupBy { case (_, v) => assign(v) }
      centers = byCluster.toSeq.sortBy(_._1).map { case (cl, members) =>
        val n = members.length.toDouble
        (cl, (0 until 64).map(d => members.map(_._2(d)).sum.toDouble / n).toArray)
      }
    }
    val expected = vq.groupBy { case (_, v) => assign(v) }
      .map { case (cl, ms) => (cl, ms.length.toLong, ms.map(_._1).min) }
      .toSet
    val got = Clustering.kmeans(
        Tables.embeddings(spark, sf001), "vec_id", "embedding", 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
  }

  test("corpus-wide rp-lsh near-dup pairs are verified and symmetric-free") {
    val e = Tables.embeddings(spark, sf001)
    val pairs = graft.ext.Similarity
      .rpNeardupPairs(e, "vec_id", "embedding", dims = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, c) =>
      assert(a < b, s"pair ($a,$b) not ordered")
      assert(c >= 0.4, s"pair ($a,$b) cosine $c below threshold")
    }
    assert(pairs.map(p => (p._1, p._2)).distinct.length === pairs.length)
  }

  test("bisecting k-means: hand-tracked splits, tie-break, tree labels") {
    import spark.implicits._
    // 1-dim, fully hand-trackable: two well-separated groups of four,
    // each splitting again at level 2. Level 1: seeds v1=0, v2=100 ->
    // leaves {0,1,2,3} (cl 2) and {100..103} (cl 3). Level 2 inside cl 2:
    // seeds 0 and 1; after round 1 centers (0, 2); value 1 then TIES
    // (dist 1 vs 1) and the strict-< rule keeps sub 0; final centers
    // (0.5, 2.5) -> leaves {0,1} and {2,3}. Symmetric on the 100s.
    val emb = Seq(
      (1L, Seq(0.0)), (2L, Seq(100.0)), (3L, Seq(1.0)), (4L, Seq(101.0)),
      (5L, Seq(2.0)), (6L, Seq(102.0)), (7L, Seq(3.0)), (8L, Seq(103.0))
    ).toDF("vec_id", "embedding")
    val out = Clustering.bisectingKmeans(emb, "vec_id", "embedding", dims = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out === Map(
      4L -> (2L, 1L, 0.5),      // values {0, 1}: mean of squares 0.5
      5L -> (2L, 5L, 6.5),      // {2, 3}
      6L -> (2L, 2L, 10100.5),  // {100, 101}
      7L -> (2L, 6L, 10506.5))) // {102, 103}
  }

  test("bisecting k-means is partitioning-deterministic on the embeddings corpus") {
    val e = Tables.embeddings(spark, sf001)
    val a = Clustering.bisectingKmeans(e.repartition(1), "vec_id", "embedding", 64)
      .orderBy("cluster").collect().toSeq
    val b = Clustering.bisectingKmeans(e.repartition(13), "vec_id", "embedding", 64)
      .orderBy("cluster").collect().toSeq
    assert(a === b)
    assert(a.map(_.getLong(1)).sum === 500L) // every vector in exactly one leaf
    // binary-tree leaf labels from two full levels
    assert(a.map(_.getLong(0)).toSet.subsetOf(Set(4L, 5L, 6L, 7L)))
  }

  test("gmm separates an asymmetric 1-d two-cluster fixture") {
    import spark.implicits._
    // 20 points near 10, 10 points near 50 (asymmetric sizes per the
    // p13 rule): EM from the mean-/+sd init must land means near the
    // cluster centers, weight near 2/3, and hard-assign exactly 20/10.
    val xs = ((1L to 20L).map(i => 10L + (i % 3) - 1) ++
      (1L to 10L).map(i => 50L + (i % 3) - 1)).toDF("x")
    val got = Clustering.gmmFit1d(xs, iters = 3).orderBy("comp").collect()
    assert(got.length === 2)
    val (w1, m1, h1) = (got(0).getLong(1), got(0).getLong(2), got(0).getLong(3))
    val (w2, m2, h2) = (got(1).getLong(1), got(1).getLong(2), got(1).getLong(3))
    assert(w1 + w2 === 1000000L)
    assert(math.abs(m1 - 10000L) < 1000, s"comp1 mean near 10: $m1")
    assert(math.abs(m2 - 50000L) < 1000, s"comp2 mean near 50: $m2")
    assert(math.abs(w1 - 666667L) < 30000, s"comp1 weight near 2/3: $w1")
    assert((h1, h2) === ((20L, 10L)))
  }

  test("gmm k=3 recovers three clusters with unequal variances; pooled variance would misassign") {
    import spark.implicits._
    // narrow cluster at 100 (±1), WIDE cluster at 140 (±20), far
    // cluster at 300 (±3) — sizes 30/30/40
    val xs = ((1 to 30).map(i => 100L + (i % 3) - 1) ++
      (1 to 30).map(i => 140L + ((i * 7) % 41) - 20) ++
      (1 to 40).map(i => 300L + (i % 7) - 3)).toDF("x")
    val got = GmmKd.gmmFitKd(xs, d = 1, kTot = 3, iters = 6)
      .orderBy("comp").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.length === 3)
    val Array((w1, m1, v1, h1), (w2, m2, v2, h2), (w3, m3, v3, h3)) = got
    assert(w1 + w2 + w3 === 1000000L)
    assert(math.abs(m1 - 100000L) < 2000, s"narrow mean $m1")
    assert(math.abs(m2 - 140000L) < 6000, s"wide mean $m2")
    assert(math.abs(m3 - 300000L) < 2000, s"far mean $m3")
    // heteroscedasticity recovered: the wide component's variance is an
    // order of magnitude above the narrow one's — the thing s35's
    // POOLED model cannot express
    assert(v2 > 20 * v1, s"wide var $v2 must dwarf narrow var $v1")
    assert((h1, h2, h3) === ((30L, 30L, 40L)), s"hard counts ${(h1, h2, h3)}")
    // probe x = 112: 12 units from the narrow mean (~12 sigma) but
    // ~1.4 sigma into the wide cluster — per-component variance assigns
    // comp 2; a pooled-sigma rule would take the Euclidean-closest mean
    def ll(x: Double, w: Long, m: Long, v: Long) = {
      val (mu, s2) = (m / 1000.0, v / 1000.0)
      math.log(w.toDouble) - 0.5 * math.log(s2) - (x - mu) * (x - mu) / (2 * s2)
    }
    val lls = Seq(ll(112, w1, m1, v1), ll(112, w2, m2, v2), ll(112, w3, m3, v3))
    assert(lls.indexOf(lls.max) === 1, s"x=112 must go to the wide component: $lls")
    assert(math.abs(112.0 - m1 / 1000.0) < math.abs(112.0 - m2 / 1000.0),
      "…although it is Euclidean-closer to the narrow mean")
  }

  test("gmm k=3 state is deterministic across partitionings") {
    import spark.implicits._
    val xs = (1L to 300L).map(i => (i * i) % 157).toDF("x")
    val a = GmmKd.gmmFitKd(xs.repartition(1), d = 1, kTot = 3, iters = 2)
      .orderBy("comp").collect()
    val b = GmmKd.gmmFitKd(xs.repartition(17, col("x")), d = 1, kTot = 3, iters = 2)
      .orderBy("comp").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("gmm2d recovers a planted anisotropic mixture a diagonal fit misassigns") {
    import spark.implicits._
    // Two equal-size ridge clusters: A centered (0,0) elongated along
    // +diag (cov_xy > 0), B centered (4,-4) elongated along the
    // ANTI-diagonal (cov_xy < 0). 41 ridge positions x 3 perpendicular
    // offsets each = 123 points per component, milli-quantized.
    val a = for (i <- 0 to 40; p <- Seq(-150L, 0L, 150L)) yield {
      val t = (i - 20L) * 100L; (t + p, t - p)
    }
    val b = for (i <- 0 to 40; p <- Seq(-150L, 0L, 150L)) yield {
      val t = (i - 20L) * 100L; (4000L + t + p, -4000L - t + p)
    }
    val xs = (a ++ b).toDF("x", "y")
    val got = Clustering.gmmFit2d(xs, iters = 5).orderBy("comp").collect()
    assert(got.length === 2)
    def row(r: org.apache.spark.sql.Row) =
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7))
    val (w1, m1x, m1y, v1x, c1, v1y, h1) = row(got(0))
    val (w2, m2x, m2y, v2x, c2, v2y, h2) = row(got(1))
    assert(w1 + w2 === 1000000L)
    assert(math.abs(w1 - 500000L) < 30000, s"weight ~ 1/2: $w1")
    assert(math.abs(m1x) < 300 && math.abs(m1y) < 300, s"A mean ($m1x, $m1y)")
    assert(math.abs(m2x - 4000) < 300 && math.abs(m2y + 4000) < 300,
      s"B mean ($m2x, $m2y)")
    // anisotropy recovered WITH orientation: A correlates +, B -
    assert(c1 > 1000000L, s"A cov_xy must be strongly positive: $c1")
    assert(c2 < -1000000L, s"B cov_xy must be strongly negative: $c2")
    assert((h1, h2) === ((123L, 123L)))
    // the probe (1.9, -1.9): Euclidean-closer to A's mean, but lying
    // along B's major axis — the FULL model must assign B while the
    // diagonal-Σ degeneration of the SAME fit assigns A. This is the
    // case a diagonal GMM provably cannot get right.
    def assign(zeroCov: Boolean): Int = {
      val (px, py) = (1.9, -1.9)
      def q(mx: Long, my: Long, vx: Long, cxy: Long, vy: Long): (Double, Double) = {
        val (sxx, sxy, syy) =
          (vx / 1e6, if (zeroCov) 0.0 else cxy / 1e6, vy / 1e6)
        val (dx, dy) = (px - mx / 1000.0, py - my / 1000.0)
        val det = sxx * syy - sxy * sxy
        ((dx * dx * syy - 2 * dx * dy * sxy + dy * dy * sxx) / det, det)
      }
      val (q1, d1) = q(m1x, m1y, v1x, c1, v1y)
      val (q2, d2) = q(m2x, m2y, v2x, c2, v2y)
      val l = math.log(w2.toDouble / w1) + 0.5 * math.log(d1 / d2) +
        0.5 * (q1 - q2)
      if (1.0 / (1.0 + math.exp(l)) >= 0.5) 1 else 2
    }
    assert(assign(zeroCov = false) === 2, "full covariance assigns B")
    assert(assign(zeroCov = true) === 1, "diagonal degeneration misassigns to A")
  }

  test("gmm2d is deterministic across partitionings") {
    import spark.implicits._
    val xs = (1L to 400L).map(i => ((i * i) % 157, (i * 7) % 211)).toDF("x", "y")
    val a = Clustering.gmmFit2d(xs.repartition(1), iters = 2).orderBy("comp").collect()
    val b = Clustering.gmmFit2d(xs.repartition(17, col("x")), iters = 2).orderBy("comp").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("gmm state is deterministic across partitionings") {
    import spark.implicits._
    val xs = (1L to 300L).map(i => (i * i) % 157).toDF("x")
    val a = Clustering.gmmFit1d(xs.repartition(1), iters = 2).orderBy("comp").collect()
    val b = Clustering.gmmFit1d(xs.repartition(17, col("x")), iters = 2).orderBy("comp").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("plsa separates parity-disjoint vocabularies into the two topics") {
    import spark.implicits._
    // odd docs (parity init th=750000 -> topic 1) say only u/v; even
    // docs say only x/y: after 2 EM iterations each topic's top words
    // must be exactly its parity's vocabulary.
    val docs = (1L to 20L).map { i =>
      (i, if (i % 2 == 1) "u v u" else "x y x")
    }.toDF("doc_id", "text")
    val got = Clustering.plsaTopicsK(docs, "doc_id", "text", kTot = 2, iters = 2, topK = 2)
      .collect().groupBy(_.getLong(0))
      .map { case (t, rs) => t -> rs.map(_.getString(2)).toSet }
    assert(got(1L) === Set("u", "v"))
    assert(got(2L) === Set("x", "y"))
    // partitioning determinism of the full integer-exact chain
    val a = Clustering.plsaTopicsK(docs.repartition(1), "doc_id", "text", 2, 2, 4)
      .orderBy("topic", "rnk").collect()
    val b = Clustering.plsaTopicsK(docs.repartition(7, col("doc_id")), "doc_id", "text", 2, 2, 4)
      .orderBy("topic", "rnk").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("kmeans|| oversampling reaches the far cluster; weights partition the corpus") {
    import spark.implicits._
    // two tight clusters far apart; the seed (min id) sits in cluster A,
    // so cluster B carries almost all the cost mass and MUST be sampled
    val docs = ((1L to 50L).map(i => (i, Array.fill(8)(0.001f * (i % 3)))) ++
      (51L to 100L).map(i => (i, Array.fill(8)(5.0f + 0.001f * (i % 3)))))
      .toDF("vec_id", "embedding")
    val got = Clustering.kmeansParallelInit(docs, "vec_id", "embedding",
      l = 6, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._3).sum === 100L, "weights must partition every point")
    assert(got.exists(c => c._1 > 50L && c._2 >= 1L),
      s"oversampling must reach the far cluster: ${got.mkString(",")}")
    assert(got.count(_._2 === 0L) === 1 && got.head._1 === 1L)
    // deterministic across partitionings
    val a = Clustering.kmeansParallelInit(docs.repartition(1), "vec_id", "embedding", 6, 2)
      .orderBy("cand_id").collect()
    val b = Clustering.kmeansParallelInit(docs.repartition(7, col("vec_id")),
      "vec_id", "embedding", 6, 2).orderBy("cand_id").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("smoothed lda separates parity vocabularies; smoothing keeps cross-topic mass positive") {
    import spark.implicits._
    // 100-token docs: the doc-side prior α−1 = 25 is 25e6 micro, so doc
    // counts must dominate it (nj·1e6 = 1e8 here) for the parity seed to
    // propagate — with 3-token docs the symmetric prior swamps the signal
    val docs = (1L to 20L).map { i =>
      (i, (if (i % 2 == 1) "u v " else "x y ") * 50)
    }.toDF("doc_id", "text")
    val all = Clustering.ldaTopicsK(docs, "doc_id", "text", kTot = 2, iters = 2, topK = 4)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    val top = all.groupBy(_._1).map { case (t, rs) =>
      t -> rs.sortBy(-_._3).take(2).map(_._2).toSet
    }
    assert(top(1L) === Set("u", "v"))
    assert(top(2L) === Set("x", "y"))
    // η = 1.1 smoothing: even the off-parity terms keep strictly positive
    // emission in BOTH topics (the PLSA limit drives these to ~0; with
    // α,η > 1 every responsibility is interior so no count collapses)
    assert(all.forall(_._3 > 0L), s"expected all phi > 0: ${all.mkString(",")}")
    // partitioning determinism of the full chain (integer state + one
    // fixed-parenthesization double ratio per cell)
    val a = Clustering.ldaTopicsK(docs.repartition(1), "doc_id", "text", 2, 2, 4)
      .orderBy("topic", "rnk").collect()
    val b = Clustering.ldaTopicsK(docs.repartition(7, col("doc_id")), "doc_id", "text", 2, 2, 4)
      .orderBy("topic", "rnk").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("online lda separates parity vocabularies; lambda moves off its seed; deterministic") {
    import spark.implicits._
    // odd docs speak {u, v} (γ seed leans topic 1), even docs {x, y}
    // (leans topic 2); after two minibatch blends λ must rank each
    // parity's vocabulary on top of its own topic, whatever the token
    // hash parities seeded — the doc-side 5x et asymmetry dominates the
    // ≤2x eb init spread
    val docs = (1L to 40L).map { i =>
      (i, (if (i % 2 == 1) "u v " else "x y ") * 10)
    }.toDF("doc_id", "text")
    val out = Clustering.onlineLdaTopicsK(docs, "doc_id", "text", kTot = 2, iters = 2, topK = 4)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    val top = out.groupBy(_._1).map { case (t, rs) =>
      t -> rs.sortBy(-_._3).take(2).map(_._2).toSet
    }
    assert(top(1L) === Set("u", "v"), out.mkString(","))
    assert(top(2L) === Set("x", "y"), out.mkString(","))
    // the blend really ran: no token is still at a seed value
    val seeds = Set(1000000L, 1500000L)
    assert(out.forall(r => !seeds.contains(r._3)), out.mkString(","))
    // partitioning determinism (integer state; the only double is the
    // fixed-parenthesization rho blend rounded once per cell)
    val a = Clustering.onlineLdaTopicsK(docs.repartition(1), "doc_id", "text", 2, 2, 4)
      .orderBy("topic", "rnk").collect()
    val b = Clustering.onlineLdaTopicsK(docs.repartition(7, col("doc_id")), "doc_id", "text", 2, 2, 4)
      .orderBy("topic", "rnk").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("online lda perplexity: parity corpus beats a shuffled one; partitioning-deterministic") {
    import spark.implicits._
    // the separable parity corpus the model CAN fit...
    val sep = (1L to 40L).map { i =>
      (i, (if (i % 2 == 1) "u v " else "x y ") * 10)
    }.toDF("doc_id", "text")
    // ...vs the same tokens dealt so every doc mixes both vocabularies
    val mixed = (1L to 40L).map(i => (i, "u v x y " * 5)).toDF("doc_id", "text")
    val pSep = Clustering.onlineLdaPerplexity(sep, "doc_id", "text").head()
    val pMix = Clustering.onlineLdaPerplexity(mixed, "doc_id", "text").head()
    // both corpora have 4 tokens; a 2-topic model separates the parity
    // corpus (per-topic support ~2 tokens) but not the mixed one
    assert(pSep.getLong(3) < pMix.getLong(3),
      s"sep=${pSep.getLong(3)} mix=${pMix.getLong(3)}")
    assert(pSep.getLong(1) === 840L) // 40 docs x (20 tokens + the trailing-space empty)
    val again = Clustering.onlineLdaPerplexity(sep.repartition(7, col("doc_id")),
      "doc_id", "text").head()
    assert(again.getLong(2) === pSep.getLong(2)) // exact ll across partitionings
  }

  test("k-center coreset: farthest-point picks with exact radii; radii nonincreasing") {
    import spark.implicits._
    // a line 0 — 10 — 100: seed is the lowest id, pick 2 the far end,
    // pick 3 the middle, each radius the exact integer squared distance
    val pts = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(10.0, 0.0)), (3L, Seq(100.0, 0.0)))
      .toDF("vec_id", "embedding")
    val got = Clustering.kCenterCoreset(pts, "vec_id", "embedding", 3)
      .orderBy("sel_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val u = 1L << 20
    assert(got.toSeq === Seq((1L, 1L, 0L),
      (2L, 3L, 10000L * u * u), (3L, 2L, 100L * u * u)))
    // the Gonzalez invariant on the real corpus: radii nonincreasing
    // after the seed, picks distinct
    val sel = Clustering.kCenterCoreset(
        Tables.embeddings(spark, sf001), "vec_id", "embedding", 5)
      .orderBy("sel_rank").collect()
    assert(sel.map(_.getLong(1)).distinct.length === 5)
    val radii = sel.map(_.getLong(2)).drop(1)
    assert(radii.sliding(2).forall(w => w.length < 2 || w(0) >= w(1)), radii.toSeq)
  }
}
