package graft

import graft.ext.Learn
import org.apache.spark.sql.functions._

/** OLS + Naive Bayes fixtures: exact recovery on exactly-linear data,
  * partitioning determinism, and hand-checkable NB classification
  * including the prior-only no-token path and tie-breaks. */
class LearnSpec extends SparkSpec {

  test("ols recovers an exactly linear relation to the cent") {
    import spark.implicits._
    // y = 300 + 2*x1 + 5*x2 exactly — the normal equations must return
    // predictions equal to y after rounding (residuals are zero)
    val feats = (1L to 40L).map { i =>
      val (x1, x2) = (i % 7, (i * 3) % 11)
      (i, x1, x2, 300L + 2L * x1 + 5L * x2)
    }.toDF("id", "x1", "x2", "y")
    val betas = Learn.olsFit2(feats)
    val b = betas.head()
    assert(math.abs(b.getDouble(0) - 300.0) < 1e-6)
    assert(math.abs(b.getDouble(1) - 2.0) < 1e-9)
    assert(math.abs(b.getDouble(2) - 5.0) < 1e-9)
    Learn.olsPredict2(feats, betas, "id").collect().foreach { r =>
      assert(r.getLong(1) === r.getLong(2), s"exact fit must predict exactly: $r")
    }
  }

  test("ols betas are deterministic across partitionings") {
    import spark.implicits._
    val feats = (1L to 200L).map { i =>
      (i, i % 13, (i * 7) % 17, (i * i) % 1000) // deliberately NOT linear
    }.toDF("id", "x1", "x2", "y")
    val a = Learn.olsFit2(feats.repartition(1)).head()
    val b = Learn.olsFit2(feats.repartition(11, col("x1"))).head()
    assert(a === b) // bit-exact: integer sums, one double expression
  }

  test("naive bayes classifies by vocabulary, falls back to prior for unseen text") {
    import spark.implicits._
    val train = Seq(
      (1L, "wine cheese baguette wine", "fr"),
      (2L, "cheese wine croissant", "fr"),
      (3L, "beer sausage pretzel beer", "de"),
      (4L, "sausage beer schnitzel", "de"),
      (5L, "beer bratwurst", "de")
    ).toDF("doc_id", "text", "lang")
    val classify = Seq(
      (10L, "wine croissant", "fr"),     // clearly fr vocabulary
      (11L, "beer beer sausage", "de"),  // clearly de vocabulary
      (12L, "quantum flux capacitor", "xx") // all-OOV: priors + symmetric OOV decide
    ).toDF("doc_id", "text", "lang")
    val got = Learn.naiveBayes(train, classify, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got(10L) === "fr")
    assert(got(11L) === "de")
    // all-OOV text: every token takes the smoothed zero-count likelihood
    // 1/(T_c + V), which favors the SMALLER class per token, while the
    // prior favors the larger; hand-checking the trade-off here —
    // T_fr = 7, T_de = 9, V = 9 distinct training tokens (wine cheese
    // baguette croissant beer sausage pretzel schnitzel bratwurst):
    //   fr: ln(2/5) + 3·ln(1/16) = -9.234
    //   de: ln(3/5) + 3·ln(1/18) = -9.182   → de wins (prior dominates)
    val tFr = 7.0; val tDe = 9.0; val v = 9.0 // hand counts
    val scoreFr = math.log(2.0 / 5.0) + 3 * math.log(1.0 / (tFr + v))
    val scoreDe = math.log(3.0 / 5.0) + 3 * math.log(1.0 / (tDe + v))
    assert(scoreDe > scoreFr) // the hand arithmetic itself
    assert(got(12L) === "de")
  }

  test("frequent pair rules: apriori counts, confidence, and lift on a hand-checkable basket set") {
    import spark.implicits._
    // 10 baskets: {a,b} together in 6, {a,c} in 2, c alone twice more; d once
    val baskets = (
      (1 to 6).flatMap(i => Seq((i.toLong, "a"), (i.toLong, "b"))) ++
        Seq((7L, "a"), (7L, "c"), (8L, "a"), (8L, "c"), (9L, "c"), (10L, "c"), (10L, "d"))
      ).toDF("basket", "item")
    // thr = ceil(0.2 * 10) = 2: singletons a(8) b(6) c(4) pass, d(1) drops;
    // pairs: (a,b)=6, (a,c)=2 pass; (c,d) blocked by the prune anyway
    val rules = Learn.frequentPairRules(baskets, "basket", "item",
        minSupport = 0.2, minConfidence = 0.1)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rules.keySet === Set(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a")))
    // conf(a->b) = 6/8 = 0.75; lift = 6*10/(8*6) = 1.25
    assert(rules(("a", "b")) === (6L, 750000L, 1250000L))
    // conf(b->a) = 6/6 = 1.0; lift same by symmetry
    assert(rules(("b", "a")) === (6L, 1000000L, 1250000L))
    // conf(c->a) = 2/4 = 0.5; lift = 2*10/(4*8) = 0.625
    assert(rules(("c", "a")) === (2L, 500000L, 625000L))
  }

  test("frequent 2-sequences: order matters, time bounds decide, threshold binds") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // u1: a@1 b@2     -> a then b only
    // u2: a@1 b@2 a@3 -> a then b AND b then a (a recurs after b)
    // u3: b@1 a@2     -> b then a only
    // u4: a@1         -> no pair
    val events = Seq(
      (1L, "a", ts(1)), (1L, "b", ts(2)),
      (2L, "a", ts(1)), (2L, "b", ts(2)), (2L, "a", ts(3)),
      (3L, "b", ts(1)), (3L, "a", ts(2)),
      (4L, "a", ts(1))
    ).toDF("user_id", "event_type", "ts")
    // thr = ceil(0.5 * 4) = 2: (a,b) support 2 passes, (b,a) support 2 passes
    val got = Learn.frequentSequences2(events, "user_id", "event_type", "ts", 0.5)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got === Map(("a", "b") -> (2L, 500000L), ("b", "a") -> (2L, 500000L)))
    // at 75% both drop (ceil(0.75*4) = 3 > 2)
    assert(Learn.frequentSequences2(events, "user_id", "event_type", "ts", 0.75).count() === 0)
  }

  test("multiclass metrics: hand-checked confusion matrix, never-predicted class reports zero") {
    import spark.implicits._
    // actual:  a a a a b b c    pred: a a b a b a b   (c never predicted right,
    // and nothing is ever predicted c)
    val scored = Seq(
      ("a", "a"), ("a", "a"), ("a", "b"), ("a", "a"),
      ("b", "b"), ("b", "a"), ("c", "b")
    ).toDF("actual", "pred")
    val m = Learn.multiclassMetrics(scored, "actual", "pred")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // a: tp=3, predicted 4, actual 4 -> p = 750000, r = 750000, f1 = 750000
    assert(m("a") === (3L, 4L, 4L, 750000L, 750000L, 750000L))
    // b: tp=1, predicted 3, actual 2 -> p = 333333, r = 500000,
    // f1 = 2*333333*500000 div 833333 = 399999 (integer micro math)
    assert(m("b") === (1L, 3L, 2L, 333333L, 500000L, 399999L))
    // c: never predicted -> precision 0 by convention, recall 0, f1 0
    assert(m("c") === (0L, 0L, 1L, 0L, 0L, 0L))
  }

  test("chiSqGof recovers the hand-computed statistic and agrees with MLlib") {
    import spark.implicits._
    // counts a:10, b:20, c:30 -> n=60, k=3, e=20; contributions
    // (10-20)^2/20 = 5, 0, (30-20)^2/20 = 5 -> stat 10, dof 2
    val df = (Seq.fill(10)("a") ++ Seq.fill(20)("b") ++ Seq.fill(30)("c"))
      .toDF("cat")
    val rows = Learn.chiSqGof(df, "cat").orderBy("f").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq(("a", 10L, 5000000L), ("b", 20L, 0L), ("c", 30L, 5000000L)))
    assert(rows.forall(r => r.getLong(3) === 10000000L && r.getLong(4) === 2L))
    val ml = org.apache.spark.mllib.stat.Statistics.chiSqTest(
      org.apache.spark.mllib.linalg.Vectors.dense(10.0, 20.0, 30.0))
    assert(math.abs(rows.head.getLong(3) / 1e6 - ml.statistic) < 1e-9)
    assert(ml.degreesOfFreedom === 2)
  }

  test("chiSqGof is deterministic across partitionings") {
    import spark.implicits._
    val df = (1L to 500L).map(i => s"c${i % 7}").toDF("cat")
    val a = Learn.chiSqGof(df.repartition(1), "cat").orderBy("f").collect()
    val b = Learn.chiSqGof(df.repartition(13), "cat").orderBy("f").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("sequence triples: middle event must fall strictly inside the bounds window") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(m: Long) = new Timestamp(m * 60000L)
    // u1: a@1 b@2 c@3 -> a->b->c exists
    // u2: a@1 c@2 b@3 -> NO a->b->c (no b strictly inside (1, 2)); but
    //     a->c->b? needs c inside (tmin_a, tmax_b) = (1, 3): c@2 yes
    val ev = Seq(
      (1L, "a", t(1)), (1L, "b", t(2)), (1L, "c", t(3)),
      (2L, "a", t(1)), (2L, "c", t(2)), (2L, "b", t(3)))
      .toDF("u", "item", "ts")
    val got = Learn.frequentSequences3(ev, "u", "item", "ts", minSupport = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.contains(("a", "b", "c", 1L)), s"u1's ordered triple missing: ${got.toSeq}")
    assert(got.contains(("a", "c", "b", 1L)), s"u2's ordered triple missing: ${got.toSeq}")
    assert(!got.exists(g => g._1 == "a" && g._2 == "b" && g._3 == "c" && g._4 > 1L),
      "u2 must NOT count for a->b->c (its b is after c)")
    // threshold binds: at 100% support nothing survives (no triple in both users)
    val none = Learn.frequentSequences3(ev, "u", "item", "ts", minSupport = 1.0)
    assert(none.count() === 0L)
  }

  test("bernoulli nb: absence evidence classifies; unseen-vocab docs fall back to prior+base") {
    import spark.implicits._
    // class p: x appears in EVERY p-doc; class q never says x
    val train = Seq(
      (1L, "x y", "p"), (2L, "x z", "p"), (3L, "x y z", "p"),
      (4L, "y", "q"), (5L, "z y", "q"))
      .toDF("doc_id", "text", "lang")
    val test = Seq(
      (10L, "y z", "q"),   // no x: Bernoulli's absent-x term must favor q
      (11L, "x y", "p"),   // has x: p
      (12L, "w w", "q"))   // all tokens unseen: prior+base only
      .toDF("doc_id", "text", "lang")
    val got = Learn.bernoulliNaiveBayes(train, test, "doc_id", "text", "lang")
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got(10L) === "q", s"missing ubiquitous x must push away from p: $got")
    assert(got(11L) === "p")
    // doc 12: score = prior + negThetaSum only; driver-side re-derivation
    def q(x: Double) = math.round(math.log(x) * 1e6)
    // p: n=3, vocab x,y,z dfc = 3,2,2 -> absent ln((n+1-dfc)/(n+2))
    val baseP = q(1.0 / 5) + q(2.0 / 5) + q(2.0 / 5)
    val baseQ = q(3.0 / 4) + q(1.0 / 4) + q(2.0 / 4) // q: dfc x0 y2 z1, n=2
    val priorP = q(4.0 / 7); val priorQ = q(3.0 / 7) // (n_c+1)/(5+2)
    val expected12 = if (priorP + baseP >= priorQ + baseQ) "p" else "q"
    assert(got(12L) === expected12)
    val s12 = Learn.bernoulliNaiveBayes(train, test, "doc_id", "text", "lang")
      .filter(col("doc_id") === 12L).head().getLong(3)
    assert(s12 === math.max(priorP + baseP, priorQ + baseQ))
    // partitioning determinism
    val a = Learn.bernoulliNaiveBayes(train.repartition(1), test, "doc_id", "text", "lang")
      .orderBy("doc_id").collect()
    val b = Learn.bernoulliNaiveBayes(train.repartition(7, col("lang")), test,
      "doc_id", "text", "lang").orderBy("doc_id").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("word2vec: one step matches a full driver-side re-derivation; partitioning-deterministic") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "b d e"), (3L, "a c e a"))
      .toDF("doc_id", "text")
    // --- driver-side mirror of every formula ---
    def rnd(x: Double): Long = // SQL round: half away from zero
      if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong
    val toks = Seq((1L, "a", 0), (1L, "b", 1), (1L, "c", 2),
      (2L, "b", 0), (2L, "d", 1), (2L, "e", 2),
      (3L, "a", 0), (3L, "c", 1), (3L, "e", 2), (3L, "a", 3))
    // counts: a3 b2 c2 e2 d1 -> ranks (count desc, tok)
    val rank = Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "e" -> 3L, "d" -> 4L)
    val toksByRank = rank.map(_.swap)
    def h(t: String) = t.head.toInt * 97 + t.last.toInt * 31 + t.length * 7
    def initU(t: String) = (65536L + (h(t) % 7) * 8192L, ((h(t) % 5) - 2L) * 16384L)
    def initV(t: String) = (65536L + (h(t) % 5) * 8192L, ((h(t) % 7) - 3L) * 16384L)
    val pairs = for {
      (d1, t1, p1) <- toks; (d2, t2, p2) <- toks
      if d1 == d2 && p2 >= p1 - 2 && p2 <= p1 + 2 && p2 != p1
    } yield (t1, t2, toksByRank((rank(t1) + rank(t2) * 7 + 3) % 5))
    def sig(dot: Long): Long = rnd(1e6 / (1.0 + math.exp(-(dot.toDouble / 4294967296.0))))
    val du = collection.mutable.Map[String, (Long, Long)]().withDefaultValue((0L, 0L))
    val dv = collection.mutable.Map[String, (Long, Long)]().withDefaultValue((0L, 0L))
    pairs.foreach { case (cw, ct, nw) =>
      val (u1, u2) = initU(cw); val (p1, p2) = initV(ct); val (n1, n2) = initV(nw)
      val sp = sig(u1 * p1 + u2 * p2); val sn = sig(u1 * n1 + u2 * n2)
      val (d1, d2) = du(cw)
      du(cw) = (d1 + (1000000L - sp) * p1 - sn * n1, d2 + (1000000L - sp) * p2 - sn * n2)
      val (e1, e2) = dv(ct)
      dv(ct) = (e1 + (1000000L - sp) * u1, e2 + (1000000L - sp) * u2)
      val (f1, f2) = dv(nw)
      dv(nw) = (f1 - sn * u1, f2 - sn * u2)
    }
    def upd(w: Long, g: Long) = w + rnd(0.025 * (g.toDouble / 1000000.0))
    val want = rank.keys.toSeq.sortBy(rank).map { t =>
      val (u1, u2) = initU(t); val (v1, v2) = initV(t)
      val (g1, g2) = du(t); val (gv1, gv2) = dv(t)
      (t, rank(t) + 1, upd(u1, g1), upd(u2, g2), upd(v1, gv1), upd(v2, gv2))
    }
    val got = Learn.word2vecD(docs, "doc_id", "text", vocabN = 30, topK = 20, dims = 2)
      .orderBy("rnk").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq === want)
    // partitioning determinism
    val a = Learn.word2vecD(docs.repartition(1), "doc_id", "text", dims = 2).orderBy("rnk").collect()
    val b = Learn.word2vecD(docs.repartition(7, col("doc_id")), "doc_id", "text", dims = 2)
      .orderBy("rnk").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("word2vecD at dims = 3 keeps the dims = 2 vocabulary and widens the vectors") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "b d e"), (3L, "a c e a"),
      (4L, "d c b"), (5L, "e a d b"))
      .toDF("doc_id", "text")
    val d2 = Learn.word2vecD(docs, "doc_id", "text", vocabN = 30, topK = 20, dims = 2)
      .orderBy("rnk").collect().toSeq
    // dims = 3: same vocabulary/ranks, wider vectors, every third
    // component live (the sign-diverse init leaves it nonzero for some
    // token, and the update machinery touches it)
    val d3 = Learn.word2vecD(docs, "doc_id", "text", vocabN = 30, topK = 20, dims = 3)
      .orderBy("rnk").collect()
    assert(d3.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      d2.map(r => (r.getString(0), r.getLong(1))))
    assert(d3.length === d2.length && d3.head.length === 8)
    assert(d3.exists(_.getLong(4) !== 0L), "u3q must carry signal")
    intercept[IllegalArgumentException](
      Learn.word2vecD(docs, "doc_id", "text", dims = 5))
  }

  test("ksUniform matches a driver-side scalar KS and MLlib's statistic") {
    import spark.implicits._
    // deterministic non-uniform values (quadratic growth skews the ECDF
    // off the uniform CDF) with one planted tie
    val vals = (1L to 200L).map(i => (i, (i * i) % 997 + 100)) :+ (201L, 150L) :+ (202L, 150L)
    val df = vals.toDF("id", "y")
    val got = Learn.ksUniform(df, "id", "y").head()
    val (n, dMicro) = (got.getLong(0), got.getLong(1))
    assert(n === vals.size)
    // scalar re-derivation: classic D over the sorted sample
    val ys = vals.map(_._2.toDouble).sorted
    val (lo, hi) = (ys.head, ys.last)
    val nn = ys.size.toDouble
    val dScalar = ys.zipWithIndex.map { case (y, i0) =>
      val f = (y - lo) / (hi - lo)
      math.max((i0 + 1) / nn - f, f - i0 / nn)
    }.max
    assert(math.abs(dMicro / 1e6 - dScalar) <= 1e-6,
      s"relational D $dMicro vs scalar ${dScalar}")
    // MLlib anchor (parallelized fixture: parquet-backed .rdd under the
    // bench harness hits a Kryo serializer gap on columnar internals, so
    // the query-path keeps to DataFrames and the anchor lives here)
    val ks = org.apache.spark.mllib.stat.Statistics.kolmogorovSmirnovTest(
      spark.sparkContext.parallelize(vals.map(_._2.toDouble), 4),
      (x: Double) => (x - lo) / (hi - lo))
    assert(math.abs(dMicro / 1e6 - ks.statistic) <= 1e-5,
      s"relational D $dMicro vs mllib ${ks.statistic}")
  }

  test("ridge regression: lambda 0 equals OLS bit-exact, large lambda shrinks weights to the prior") {
    import spark.implicits._
    val feats = (1L to 100L).map { i =>
      (i, i % 7, (i * 3) % 11, (i * i) % 500)
    }.toDF("id", "x1", "x2", "y")
    val ols = Learn.olsFit2(feats).head()
    val ridge0 = Learn.ridgeFit2(feats, lambda = 0.0).head()
    assert(ols === ridge0) // +0.0 on the diagonal is the identity
    // heavy penalty: weights vanish, the unpenalized intercept absorbs
    // the mean
    val heavy = Learn.ridgeFit2(feats, lambda = 1e9).head()
    assert(math.abs(heavy.getDouble(1)) < 1e-3 && math.abs(heavy.getDouble(2)) < 1e-3)
    val meanY = feats.agg(avg("y")).head().getDouble(0)
    assert(math.abs(heavy.getDouble(0) - meanY) < 0.1)
    // moderate penalty strictly shrinks the weight norm
    val mid = Learn.ridgeFit2(feats, lambda = 10.0).head()
    def norm2(r: org.apache.spark.sql.Row) =
      r.getDouble(1) * r.getDouble(1) + r.getDouble(2) * r.getDouble(2)
    assert(norm2(mid) < norm2(ols))
  }

  test("spearman: monotone = 1, reversed = -1, textbook tied-rank value, partitioning-exact") {
    import spark.implicits._
    val mono = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("x", "y")
    assert(Learn.spearman(mono, "x", "y").head().getLong(1) === 1000000L)
    val anti = Seq((1L, 30L), (2L, 20L), (3L, 10L)).toDF("x", "y")
    assert(Learn.spearman(anti, "x", "y").head().getLong(1) === -1000000L)
    // textbook tie case: x = [1,2,2,3], y = [1,2,3,4] -> rho =
    // 72/sqrt(72*80) = 0.9486832... (the doubled average ranks
    // [2,5,5,8] vs [2,4,6,8] make every sum exact)
    val tied = Seq((1L, 1L), (2L, 2L), (2L, 3L), (3L, 4L)).toDF("x", "y")
    val got = Learn.spearman(tied, "x", "y").head()
    assert(got.getLong(0) === 4L)
    assert(got.getLong(1) === 948683L)
    // bit-identical under any partitioning (prefix-sum machinery +
    // exact decimal sums)
    val big = (1L to 500L).map(i => ((i * 7) % 97, (i * i) % 89)).toDF("x", "y")
    val a = Learn.spearman(big.repartition(1), "x", "y").head()
    val b = Learn.spearman(big.repartition(17), "x", "y").head()
    assert(a === b)
  }

  test("spearmanMatrix: every pair equals the pairwise spearman; tied textbook value included") {
    import spark.implicits._
    val df = (1L to 200L)
      .map(i => ((i * 7) % 97, (i * i) % 89, i % 13)).toDF("x", "y", "z")
    val m = Learn.spearmanMatrix(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m.size === 3)
    for (((a, b), rho) <- m)
      assert(rho === Learn.spearman(df.select(col(a), col(b)), a, b).head().getLong(1),
        s"pair ($a, $b)")
  }

  test("logistic regression learns a separable boundary and matches a scalar GD mirror") {
    import spark.implicits._
    // y = (x2 >= 0) over a CENTERED x2 in [-5, 4]: linearly separable with
    // the boundary near the origin, so 8 full-batch iterations fully
    // separate it (an uncentered copy converges too, just slower); x1 is
    // a small nuisance feature
    val raw = (1L to 60L).map { i =>
      (i, i % 3, (i % 10) - 5, if ((i % 10) - 5 >= 0) 1000000L else 0L)
    }
    val feats = raw.toDF("id", "x1", "x2", "yq")
    val w = Learn.logisticFitK(feats, d = 2, iters = 8, Learn.constStep(1.0))
    val wr = w.head()
    val got = (wr.getLong(0), wr.getLong(1), wr.getLong(2))
    // scalar mirror of the identical arithmetic: Math.exp IS Spark's exp,
    // gradient sums are exact Longs, and the quantized update rounds
    // half-away-from-zero like SQL round
    def rnd(x: Double): Long =
      if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong
    var mw = (0L, 0L, 0L)
    for (_ <- 1 to 8) {
      var g0 = 0L; var g1 = 0L; var g2 = 0L
      raw.foreach { case (_, x1, x2, yq) =>
        val z = (mw._1 + mw._2 * x1 + mw._3 * x2).toDouble / 65536.0
        val pq = math.round(1000000.0 / (1.0 + math.exp(-z))) // positive: half-up == half-away
        g0 += yq - pq; g1 += (yq - pq) * x1; g2 += (yq - pq) * x2
      }
      def upd(wq: Long, g: Long): Long =
        wq + rnd((1.0 * ((g.toDouble / 1000000.0) / raw.size)) * 65536.0)
      mw = (upd(mw._1, g0), upd(mw._2, g1), upd(mw._3, g2))
    }
    assert(got === mw)
    assert(got._3 > 0, "must learn the separating direction")
    val scored = Learn.logisticPredictK(feats, w, 2, "id").collect()
    val acc = scored.count(r => r.getLong(3) == r.getLong(1)).toDouble / scored.length
    assert(acc === 1.0, s"separable fixture must fully separate, got $acc")
  }

  test("lbfgs: iteration 1 equals the plain gradient step; converges on the separable fixture") {
    import spark.implicits._
    val raw = (1L to 60L).map { i =>
      (i, i % 3, (i % 10) - 5, if ((i % 10) - 5 >= 0) 1000000L else 0L)
    }
    val feats = raw.toDF("id", "x1", "x2", "yq")
    // zero history -> sy = 0 -> the curvature guard must route iteration 1
    // through the identical plain ascent step
    val one = Learn.lbfgsFit2(feats, iters = 1, step = 0.5, lr0 = 1.0).head()
    val gd = Learn.logisticStepK(feats, Learn.zeroWeights(spark, 2), 2, Learn.constStep(1.0)).head()
    assert((one.getLong(0), one.getLong(1), one.getLong(2)) ===
      ((gd.getLong(0), gd.getLong(1), gd.getLong(2))))
    // after 6 iterations the separable boundary is learned
    val w = Learn.lbfgsFit2(feats, iters = 6)
    val scored = Learn.logisticPredictK(feats, w, 2, "id").collect()
    val acc = scored.count(r => r.getLong(1) === r.getLong(3)).toDouble / scored.length
    assert(acc >= 0.95, s"lbfgs should separate the fixture, accuracy $acc")
    // partitioning determinism of the full staged two-loop
    val a = Learn.lbfgsFit2(feats.repartition(1), iters = 4).head()
    val b = Learn.lbfgsFit2(feats.repartition(13, col("x2")), iters = 4).head()
    assert(a === b)
  }

  test("gbt log-loss: separable fixture classified; margins bounded by the gradient cap") {
    import spark.implicits._
    // same separable boundary as the logistic fixture, labels in {-1, 1}
    val raw = (1L to 60L).map { i =>
      (i, i % 3, (i % 10) - 5, if ((i % 10) - 5 >= 0) 1L else -1L)
    }
    val rows = raw.toDF("id", "x1", "x2", "ys")
    val model = Learn.gbtLogLossFit2(rows, rounds = 3, lr = 0.5)
    assert(model.size === 3)
    val scored = Learn.gbtLogLossPredict(rows, "id", model).collect()
    val acc = scored.count(r => r.getLong(1) === r.getLong(3)).toDouble / scored.length
    assert(acc >= 0.95, s"log-loss boosting should separate the fixture: $acc")
    // each stump leaf is an lr-scaled mean of milli residuals; the raw
    // gradient magnitude caps at 4.0 -> every leaf within lr*4000
    model.foreach { case (_, _, _, lq, rq) =>
      assert(math.abs(lq) <= 2000 && math.abs(rq) <= 2000, s"leaf out of range: $lq/$rq")
    }
    // partitioning determinism (integer histograms + one double mean per leaf)
    val m2 = Learn.gbtLogLossFit2(rows.repartition(13, col("x2")), rounds = 3, lr = 0.5)
    assert(m2 === model)
  }

  test("logistic fit is bit-identical across partitionings") {
    import spark.implicits._
    val feats = (1L to 200L).map { i =>
      (i, i % 5, (i * 7) % 23, if ((i * 3) % 11 > 5) 1000000L else 0L)
    }.toDF("id", "x1", "x2", "yq")
    val a = Learn.logisticFitK(feats.repartition(1), 2, iters = 4, Learn.constStep(1.0)).head()
    val b = Learn.logisticFitK(feats.repartition(13, col("x2")), 2, iters = 4,
      Learn.constStep(1.0)).head()
    assert(a === b)
  }

  test("full-batch loop: two jobs per extra iteration, and the input cache is released") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val rows = (1L to 60L).map(i => (i % 3, (i % 10) - 5))
    val lr = rows.map { case (x1, x2) => (x1, x2, if (x2 >= 0) 1000000L else 0L) }
      .toDF("x1", "x2", "yq")
    val sm = rows.map { case (x1, x2) => (x1, x2, if (x2 <= -3) 0L else if (x2 <= 2) 1L else 2L) }
      .toDF("x1", "x2", "y")
    val sv = rows.map { case (x1, x2) => (x1, x2, if (x2 >= 0) 1L else -1L) }
      .toDF("x1", "x2", "ys")
    val fits = Seq[(String, DataFrame, Int => DataFrame)](
      ("logistic", lr, n => Learn.logisticFitK(lr, 2, n, Learn.constStep(1.0))),
      ("softmax", sm, n => Learn.softmaxFitK(sm, 3, n, 1.0)),
      ("svm", sv, n => Learn.svmFitK(sv, 2, n, Learn.svmStep(0.5))))
    for ((name, feats, fit) <- fits) {
      // only the last checkpoint is eager: an extra iteration adds its
      // weight broadcast and its gradient aggregate to that one action;
      // an eager pin per step would add a third
      assert(jobsStartedBy(fit(4)) - jobsStartedBy(fit(3)) === 2, name)
      assert(spark.sharedState.cacheManager.lookupCachedData(
        feats.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty,
        s"$name: the fit left its input cached")
    }
  }

  test("decision tree: hand-checked splits, tie-breaks, and leaf populations") {
    import spark.implicits._
    val rows = Seq((1L, 10L, 1L), (1L, 20L, 1L), (2L, 10L, 1L),
      (2L, 20L, 0L), (3L, 10L, 0L), (3L, 20L, 0L)).toDF("x1", "x2", "y")
    val (leaves, splits) = Learn.decisionTree2(rows)
    val sp = splits.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // root: feat1<=1 scores (4+0)*1000/2 + (1+9)*1000/4 = 4500 and
    // feat1<=2 ties at (9+1)*1000/4 + (0+4)*1000/2 = 4500 (feat2<=10 only
    // reaches 3332); the (feat, val) tie-break picks (1, 1)
    assert(sp(1L) === (1L, 1L))
    // node 2 is pure-positive: every candidate ties, feat 1 has no valid
    // split (single value), so (2, 10) is chosen
    assert(sp(2L) === (2L, 10L))
    // node 3: feat1<=2 and feat2<=10 tie at 1000 + 2000 = 3000; feat 1 wins
    assert(sp(3L) === (1L, 2L))
    val lv = leaves.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // majority prediction; node 6's exact 1-of-2 tie predicts 0
    assert(lv === Map(4L -> (1L, 1L, 1L), 5L -> (1L, 1L, 1L),
      6L -> (2L, 1L, 0L), 7L -> (2L, 0L, 0L)))
  }

  test("linear svm separates a separable boundary; violator set is the exact integer margin test") {
    import spark.implicits._
    // ys = sign(x2 >= 0) over centered x2 — separable; 8 hinge steps
    // must fully separate it
    val raw = (1L to 60L).map { i =>
      (i, i % 3, (i % 10) - 5, if ((i % 10) - 5 >= 0) 1L else -1L)
    }
    val feats = raw.toDF("id", "x1", "x2", "ys")
    val w = Learn.svmFitK(feats, d = 2, iters = 8, Learn.svmStep(0.5))
    val wr = w.head()
    // scalar mirror of the identical arithmetic: integer margin test,
    // half-away-from-zero quantized update
    def rnd(x: Double): Long =
      if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong
    var mw = (0L, 0L, 0L)
    for (_ <- 1 to 8) {
      var g0 = 0L; var g1 = 0L; var g2 = 0L
      raw.foreach { case (_, x1, x2, ys) =>
        if (ys * (mw._1 + mw._2 * x1 + mw._3 * x2) < 65536L) {
          g0 += ys; g1 += ys * x1; g2 += ys * x2
        }
      }
      def upd(wq: Long, g: Long): Long =
        wq + rnd((0.5 * (g.toDouble / raw.size)) * 65536.0)
      mw = (upd(mw._1, g0), upd(mw._2, g1), upd(mw._3, g2))
    }
    assert((wr.getLong(0), wr.getLong(1), wr.getLong(2)) === mw)
    val scored = Learn.svmPredictK(feats, w, 2, "id").collect()
    val acc = scored.count(r => r.getLong(3) == r.getLong(1)).toDouble / scored.length
    assert(acc === 1.0, s"separable svm must fully separate, got $acc")
  }

  test("svm fit is bit-identical across partitionings") {
    import spark.implicits._
    val feats = (1L to 200L).map { i =>
      (i, i % 5, ((i * 7) % 23) - 11, if ((i * 3) % 11 > 5) 1L else -1L)
    }.toDF("id", "x1", "x2", "ys")
    val a = Learn.svmFitK(feats.repartition(1), 2, iters = 4, Learn.svmStep(0.5)).head()
    val b = Learn.svmFitK(feats.repartition(13, col("x2")), 2, iters = 4, Learn.svmStep(0.5)).head()
    assert(a === b)
  }

  test("gbt stumps: exact recovery of a stump-shaped target, residuals drain to zero") {
    import spark.implicits._
    // ym depends on x2 alone through one threshold, so stump 1 fits it
    // EXACTLY (f0 = 20000 over the balanced halves, leaves -/+10000) and
    // rounds 2-3 see all-zero residuals (every candidate ties at score 0,
    // leaves round to 0)
    val rows = (1L to 40L).map { i =>
      (i, i % 3, i % 8, if (i % 8 <= 3) 10000L else 30000L)
    }.toDF("id", "x1", "x2", "ym")
    val (f0, model) = Learn.gbtFit2(rows, rounds = 3)
    assert(f0 === 20000L)
    assert(model.head._2 === 2L && model.head._3 === 3L) // split x2 <= 3
    assert(model.head._4 === -10000L && model.head._5 === 10000L)
    assert(model(1)._4 === 0L && model(1)._5 === 0L) // drained
    assert(model(2)._4 === 0L && model(2)._5 === 0L)
    val out = Learn.gbtPredict2(rows, "id", f0, model).collect()
    out.foreach(r => assert(r.getLong(2) === r.getLong(1), s"exact fit must predict exactly: $r"))
  }

  test("gbt fit is deterministic across partitionings") {
    import spark.implicits._
    val rows = (1L to 300L).map { i =>
      (i, i % 5, (i * 7) % 23, ((i * i) % 400) * 100)
    }.toDF("id", "x1", "x2", "ym")
    val a = Learn.gbtFit2(rows.repartition(1), rounds = 3)
    val b = Learn.gbtFit2(rows.repartition(13), rounds = 3)
    assert(a === b)
  }

  test("random forest: every bagged tree separates a separable label; the vote is unanimous") {
    import spark.implicits._
    // y = (x2 >= 5) is perfectly splittable at the root by every tree,
    // whichever third of the rows its bag leaves out (each x2 value
    // survives in every bag), so all three trees vote the label
    val rows = (1L to 90L).map { i =>
      (i, i % 4, i % 10, if (i % 10 >= 5) 1L else 0L)
    }.toDF("id", "x1", "x2", "y")
    val out = Learn.randomForest2(rows, rows, "id").collect()
    assert(out.length === 90)
    out.foreach { r =>
      assert(r.getLong(3) === r.getLong(1), s"separable forest must predict the label: $r")
      assert(r.getLong(2) === 3 * r.getLong(1), s"vote must be unanimous: $r")
    }
  }

  test("frequent triples: apriori subset prune and hand-counted support") {
    import spark.implicits._
    val baskets = (
      (1 to 5).flatMap(i => Seq((i.toLong, "a"), (i.toLong, "b"), (i.toLong, "c"))) ++
        Seq((6L, "a"), (6L, "b"), (7L, "a"), (7L, "c"),
          (8L, "b"), (8L, "c"), (8L, "d"), (9L, "d"),
          (10L, "a"), (10L, "b"), (10L, "c"), (10L, "d"))
      ).toDF("basket", "item")
    val got = Learn.frequentTriples(baskets, "basket", "item", minSupport = 0.3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getLong(4))).toMap
    // thr = ceil(0.3*10) = 3; (a,b,c) occurs in baskets 1-5 and 10 = 6;
    // every triple containing d has an infrequent 2-subset (ad=1, bd=cd=2)
    // and is pruned before counting, even though d itself is frequent (3)
    assert(got === Map(("a", "b", "c") -> (6L, 600000L)))
  }

  test("naive bayes output carries the actual label and one row per doc") {
    import spark.implicits._
    val train = Seq((1L, "a b", "x"), (2L, "c d", "y")).toDF("doc_id", "text", "lang")
    val out = Learn.naiveBayes(train, train, "doc_id", "text", "lang").collect()
    assert(out.length === 2)
    assert(out.map(r => r.getLong(0) -> r.getString(1)).toMap === Map(1L -> "x", 2L -> "y"))
    // training docs classify as their own label (their vocab is exclusive)
    assert(out.forall(r => r.getString(1) === r.getString(2)))
  }

  test("entropy impurity: a perfect split scores exactly zero milli-nats and wins the root") {
    import spark.implicits._
    // x1 <= 1 separates y perfectly (weighted child entropy 0 — the
    // maximum of the negated score); x2 is informative but imperfect
    val rows = Seq(
      (0L, 0L, 0L), (0L, 1L, 0L), (1L, 0L, 0L), (1L, 1L, 0L),
      (2L, 0L, 1L), (2L, 1L, 1L), (3L, 0L, 1L), (3L, 1L, 1L))
      .toDF("x1", "x2", "y")
    val (leaves, splits) = Learn.decisionTree2(rows, maxDepth = 1, impurity = "entropy")
    val root = splits.head()
    assert((root.getLong(1), root.getLong(2)) === ((1L, 1L))) // feat 1, thr 1
    assert(root.getLong(3) === 0L)                            // perfect: 0 milli-nats
    val lv = leaves.orderBy("leaf").collect()
    assert(lv.map(r => (r.getLong(0), r.getLong(3))).toSeq === Seq((2L, 0L), (3L, 1L)))
    // hand-check a NON-perfect score: splitting 8 rows (4 pos) on x2 <= 0
    // gives two (2 pos / 2 neg) children: score = 4·ln(1/2)·2 rounded
    val (_, s2) = Learn.decisionTree2(rows.withColumn("x1", lit(0L)),
      maxDepth = 1, impurity = "entropy")
    val r2 = s2.head()
    assert(r2.getLong(1) === 2L)
    assert(r2.getLong(3) === math.round(8.0 * math.log(0.5) * 1000.0))
  }

  test("variance impurity regression tree: hand-checked argmax, mean leaves, signed targets") {
    import spark.implicits._
    val rows = Seq((1L, 10L, 1000L), (1L, 20L, 1000L), (2L, 10L, 1000L),
      (2L, 20L, 5000L), (3L, 10L, 5000L), (3L, 20L, 5000L)).toDF("x1", "x2", "ym")
    val (leaves, splits) = Learn.regressionTree2(rows, maxDepth = 1)
    val root = splits.head()
    // x1<=1: (2000 div 2)·2000 + (16000 div 4)·16000 = 66,000,000 TIES
    // x1<=2's (8000 div 4)·8000 + (10000 div 2)·10000; x2<=10 only
    // reaches (7000 div 3)·7000 + (11000 div 3)·11000 = 56,657,000.
    // The (feat, val) tie-break picks thr 1.
    assert((root.getLong(1), root.getLong(2), root.getLong(3)) ===
      ((1L, 1L, 66000000L)))
    val lv = leaves.orderBy("leaf").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(lv === Map(2L -> (2L, 2000L, 1000L), 3L -> (4L, 16000L, 4000L)))
    // signed targets route through the abs-floor-div currency: children
    // at constant −3000 / +3000 score (6000 div 2)·6000 twice
    val signed = Seq((1L, 0L, -3000L), (1L, 0L, -3000L),
      (2L, 0L, 3000L), (2L, 0L, 3000L)).toDF("x1", "x2", "ym")
    val (slv, ssp) = Learn.regressionTree2(signed, maxDepth = 1)
    assert(ssp.head().getLong(3) === 36000000L)
    assert(slv.orderBy("leaf").collect().map(_.getLong(3)).toSeq ===
      Seq(-3000L, 3000L))
    // partitioning-deterministic
    val (l13, _) = Learn.regressionTree2(rows.repartition(13, col("x2")), maxDepth = 1)
    assert(l13.orderBy("leaf").collect().toSeq ===
      leaves.orderBy("leaf").collect().toSeq)
  }

  test("boosted regression trees: a perfectly fitting round zeroes the chain") {
    import spark.implicits._
    // x1 separates two constant-target groups; the depth-2 round-1 tree
    // fits exactly, so every later round's leaves are all zero and the
    // ensemble projection reproduces ym bit-for-bit
    val rows = Seq((1L, 1L, 10L, 2000L), (2L, 1L, 20L, 2000L),
      (3L, 2L, 10L, 7000L), (4L, 2L, 20L, 7000L))
      .toDF("o_orderkey", "x1", "x2", "ym")
    val model = Learn.gbtTreesFit2(rows, rounds = 2, maxDepth = 2)
    assert(model(1)._2.values.forall(_ === 0L))
    val preds = Learn.gbtTreesPredict2(rows, "o_orderkey", model)
      .orderBy("o_orderkey").collect()
    assert(preds.map(r => (r.getLong(1), r.getLong(2)))
      .forall { case (y, p) => y === p })
  }

  test("regression forest: constant target is reproduced exactly, partitioning-deterministic") {
    import spark.implicits._
    // every tree's every leaf mean is the constant, so the ensemble mean
    // is too — any deviation would expose a drifting member
    val rows = (1L to 60L).map(i => (i, i % 5, (i * 7) % 23, 4200L))
      .toDF("o_orderkey", "x1", "x2", "ym")
    val out = Learn.randomForestReg2(rows, rows, "o_orderkey").collect()
    assert(out.length === 60)
    assert(out.forall(r => r.getLong(5) === 4200L))
    assert(out.forall(r => Seq(2, 3, 4).forall(c => r.getLong(c) === 4200L)))
    val p = Learn.randomForestReg2(rows.repartition(11, col("x2")), rows,
      "o_orderkey").orderBy("o_orderkey").collect()
    assert(p.map(_.getLong(5)).toSeq ===
      out.sortBy(_.getLong(0)).map(_.getLong(5)).toSeq)
  }

  test("absolute-error boosting: floored-median init, sign-gradient stump, tie takes +1") {
    import spark.implicits._
    // median of (1000, 2000, 3000, 10000) interpolates to 2500 — the L1
    // init is robust to the 10000 outlier where s26's mean init is not
    val rows = Seq((1L, 1L, 0L, 1000L), (2L, 2L, 0L, 2000L),
      (3L, 3L, 0L, 3000L), (4L, 4L, 0L, 10000L)).toDF("id", "x1", "x2", "ym")
    val (f0, model) = Learn.gbtAbsFit2(rows, rounds = 1, lr = 0.5)
    assert(f0 === 2500L)
    // sign residuals (−1000, −1000, 1000, 1000): x1<=2 scores
    // (2000 div 2)·2000 twice = 4,000,000, beating x1<=1/x1<=3 at
    // 1,333,000; x2 is constant (no valid split). Leaves ±round(0.5·1000)
    assert(model === Seq((1, 1L, 2L, -500L, 500L)))
    val preds = Learn.gbtPredict2(rows, "id", f0, model).orderBy("id").collect()
    assert(preds.map(_.getLong(2)).toSeq === Seq(2000L, 2000L, 3000L, 3000L))
    // a row sitting exactly at F takes the reference's else-branch +1
    val tied = Seq((1L, 1L, 0L, 2000L), (2L, 2L, 0L, 2000L),
      (3L, 3L, 0L, 1000L)).toDF("id", "x1", "x2", "ym")
    val (tf0, tmodel) = Learn.gbtAbsFit2(tied, rounds = 1, lr = 1.0)
    assert(tf0 === 2000L)
    // residuals (+1000, +1000, −1000): x1<=2 isolates the two tied rows
    // (leaf +1000) from the below-median row (leaf −1000)
    assert(tmodel === Seq((1, 1L, 2L, 1000L, -1000L)))
  }

  test("mlp backprop reduces xor loss and is partitioning-deterministic") {
    import spark.implicits._
    // XOR x 8 copies: the problem no linear model separates; the
    // difference-detector init starts o CONSTANT (sigmoid(a)+sigmoid(-a)
    // = 1 makes every initial output 731059), so any separation is
    // learned by the backprop steps
    val xor = (0 until 8).flatMap { r =>
      Seq((r * 4 + 1L, 0L, 0L, 0L), (r * 4 + 2L, 0L, 1L, 1000000L),
        (r * 4 + 3L, 1L, 0L, 1000000L), (r * 4 + 4L, 1L, 1L, 0L))
    }.toDF("id", "x1", "x2", "yq")
    def loss(iters: Int): Long =
      Learn.mlpFitPredictDh(xor, d = 2, h = 2, iters, lr = 8.0, "id", 1000L)
        .selectExpr("sum(abs((label * 1000000) - o_micro)) AS l").head().getLong(0)
    val l0 = loss(0)
    val l40 = loss(40)
    assert(l40 < l0)
    // at init the output really is constant 731059
    val init = Learn.mlpFitPredictDh(xor, 2, 2, 0, 8.0, "id", 1000L)
      .select("o_micro").distinct().collect().map(_.getLong(0)).toSeq
    assert(init === Seq(731059L))
    // the quantized chain is bit-identical under any partitioning
    val a = Learn.mlpFitPredictDh(xor.repartition(1), 2, 2, 3, 8.0, "id", 1000L).collect()
    val b = Learn.mlpFitPredictDh(xor.repartition(7, col("x2")), 2, 2, 3, 8.0, "id", 1000L).collect()
    assert(a.toSeq === b.toSeq)
  }

  test("one-vs-rest separates three corner classes; ties break to the smallest class") {
    import spark.implicits._
    // classes at corners (0,0), (10,0), (0,10) — each binary
    // cls-vs-rest problem is linearly separable, so every row must
    // predict its own class and the winning score must be the row max
    val pts = (1L to 60L).map { i =>
      val c = i % 3
      val (x1, x2) = c match {
        case 0 => (0L + i % 2, 0L + (i / 3) % 2)
        case 1 => (10L + i % 2, 0L + (i / 3) % 2)
        case _ => (0L + i % 2, 10L + (i / 3) % 2)
      }
      (i, x1, x2, c)
    }.toDF("id", "x1", "x2", "cls")
    val out = Learn.oneVsRest(pts, Seq(0, 1, 2), iters = 12, lr = 1.0, "id", 60L)
      .collect()
    assert(out.length === 60)
    assert(out.forall(r => r.getLong(5) === r.getLong(1))) // pred == cls
    assert(out.forall { r =>
      val scores = Seq(r.getLong(2), r.getLong(3), r.getLong(4))
      scores(r.getLong(5).toInt) === scores.max
    })
    // all-zero weights (0 iterations) tie every class at p = 500000:
    // the pinned tie rule must pick class 0 everywhere
    val tied = Learn.oneVsRest(pts, Seq(0, 1, 2), iters = 0, lr = 1.0, "id", 60L)
      .collect()
    assert(tied.forall(r => r.getLong(5) === 0L))
  }

  test("cross-validation picks the exact-fit lambda and refits it on the full data") {
    import spark.implicits._
    // y = 2 + 3·x1 + 5·x2 EXACTLY: lambda 0 has zero residuals on every
    // held-out fold, so CV must choose it, and the full-data refit must
    // recover (2, 3, 5) in micro units; the penalized fits cannot reach
    // zero error
    val feats = (1L to 30L).map { i =>
      val (x1, x2) = (i % 7, (i * 3) % 11)
      (i % 3, x1, x2, 2 + 3 * x1 + 5 * x2)
    }.toDF("fold", "x1", "x2", "y")
    val cv = Learn.gridRidgeCv(feats, "fold", 3, Seq(0.0, 4.0)).collect()
    assert(cv.length === 2)
    val byLam = cv.map(r => r.getLong(0) -> r).toMap
    assert(byLam(0L).getLong(1) === 0L)      // zero avg RMSE
    assert(byLam(0L).getLong(2) === 1L)      // chosen
    assert(byLam(4000000L).getLong(1) > 0L)  // ridge can't fit exactly
    assert(byLam(4000000L).getLong(2) === 0L)
    assert((cv.head.getLong(3), cv.head.getLong(4), cv.head.getLong(5)) ===
      ((2000000L, 3000000L, 5000000L)))
    // TVS variant scores fold 0 only but picks the same exact fit here
    val tvs = Learn.gridRidgeCv(feats, "fold", 3, Seq(0.0, 4.0), tvsFold = Some(0))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(tvs === Map(0L -> 1L, 4000000L -> 0L))
    // partitioning determinism
    val a = Learn.gridRidgeCv(feats.repartition(1), "fold", 3, Seq(0.0, 4.0)).collect()
    val b = Learn.gridRidgeCv(feats.repartition(7, col("y")), "fold", 3, Seq(0.0, 4.0)).collect()
    assert(a.toSeq === b.toSeq)
  }

  test("kernel density: peak at the sample, symmetric tails, mean-of-contributions") {
    import spark.implicits._
    // one sample at 0, h=1: density(0) = 1/sqrt(2pi) = 0.398942...,
    // density(±1) = exp(-0.5)/sqrt(2pi) = 0.241970... — pico-quantized
    val one = Seq(0L).toDF("vm")
    val d = Learn.kernelDensity(one, "vm", 1.0, Seq(-1L, 0L, 1L))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(d(0L) === 398942280401L)
    assert(d(-1L) === d(1L))
    assert(d(1L) === 241970724519L)
    // two samples: the estimate is the MEAN of contributions (floored)
    val two = Seq(0L, 2L).toDF("vm")
    val d2 = Learn.kernelDensity(two, "vm", 1.0, Seq(1L)).head()
    assert(d2.getLong(1) === 2L)
    assert(d2.getLong(3) === 241970724519L) // both contributions equal here
    // partitioning determinism
    val big = (1L to 500L).map(i => i % 37).toDF("vm")
    val a = Learn.kernelDensity(big.repartition(1), "vm", 5.0, Seq(10L, 20L)).collect()
    val b = Learn.kernelDensity(big.repartition(11, col("vm")), "vm", 5.0, Seq(10L, 20L)).collect()
    assert(a.toSeq === b.toSeq)
  }

  test("colStats matches hand-computed accumulators and derived stats") {
    import spark.implicits._
    // x = (0, 2, 4): n=3, nnz=2, s=6, ss=20; mean 2.0, sample var
    // (20 - 36/3)/2 = 4.0, L2 = sqrt(20) = 4.47213595...
    val df = Seq(0L, 2L, 4L).toDF("x")
    val r = Learn.colStats(df, Seq("vals" -> "x")).head()
    assert((r.getString(0), r.getLong(1), r.getLong(2)) === (("vals", 3L, 2L)))
    assert((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)) ===
      ((0L, 4L, 6L, 6L, 20L)))
    assert((r.getLong(8), r.getLong(9), r.getLong(10)) === ((2000L, 4000L, 4472L)))
    // partitioning determinism of the one-scan aggregate
    val a = Learn.colStats(df.repartition(1), Seq("vals" -> "x")).head()
    val b = Learn.colStats(df.repartition(5, col("x")), Seq("vals" -> "x")).head()
    assert(a === b)
  }

  test("pearson expression hits exactly +-1e6 on perfectly (anti)correlated pairs") {
    import spark.implicits._
    // y = 3x exactly -> +1.0; z = 5 - x exactly -> -1.0
    val sums = Seq((1L, 3L, 4L), (2L, 6L, 3L), (3L, 9L, 2L), (4L, 12L, 1L))
      .toDF("x", "y", "z")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("z") * col("z")).as("szz"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("z")).as("sxz"))
    val r = sums.selectExpr(
      s"${Learn.pearsonExpr("sx", "sy", "sxx", "syy", "sxy")} AS cxy",
      s"${Learn.pearsonExpr("sx", "sz", "sxx", "szz", "sxz")} AS cxz").head()
    assert(r.getLong(0) === 1000000L)
    assert(r.getLong(1) === -1000000L)
  }

  test("welch t-test matches the hand-computed statistic and df") {
    import spark.implicits._
    // g1 = {10,12,14} (var 4), g2 = {20,22,24,26} (var 20/3):
    // t = -6.35085296..., Welch-Satterthwaite df = 4.95918367...
    val df = (Seq(10L, 12L, 14L).map(("a", _)) ++
      Seq(20L, 22L, 24L, 26L).map(("b", _)) ++ Seq(("c", 999L))).toDF("g", "v")
    val r = Learn.welchTTest(df, "g", "a", "b", "v").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((3L, 36L, 440L)))
    assert((r.getLong(3), r.getLong(4), r.getLong(5)) === ((4L, 92L, 2136L)))
    assert(r.getLong(6) === -6350853L) // group c never entered the sums
    assert(r.getLong(7) === 4959184L)
    // Student variant on the same sums: sp² = 5.6, t = -6.08611668...,
    // df exactly n1+n2-2
    val st = Learn.welchTTest(df, "g", "a", "b", "v", method = "student").head()
    assert(st.getLong(6) === -6086117L)
    assert(st.getLong(7) === 5L)
  }

  test("isotonic fit pools adjacent violators to the block mean") {
    import spark.implicits._
    // means by x: (2, 3, 1) — x2 and x3 violate, and pooling them (2)
    // still violates nothing against x1's 2; the PAVA solution pools
    // ALL three blocks iff the running constraint requires it:
    // min over suffixes at x1 = mean(1..3) = (4+3+1)/4 = 2 -> level 2;
    // x2,x3 pool to (3+1)/2 = 2 as well. All levels exactly 2.
    val df = Seq((1L, 1L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("x", "y")
    val got = Learn.isotonicFit(df, "x", "y").orderBy("x").collect()
    assert(got.map(_.getLong(3)).toSeq === Seq(2000000L, 2000000L, 2000000L))
    // a clean staircase is returned untouched
    val mono = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("x", "y")
    assert(Learn.isotonicFit(mono, "x", "y").orderBy("x").collect()
      .map(_.getLong(3)).toSeq === Seq(10000000L, 20000000L, 30000000L))
  }

  test("isotonic levels are monotone and partition-deterministic") {
    import spark.implicits._
    val df = (1L to 400L).map(i => (i % 23, (i * i) % 97)).toDF("x", "y")
    val a = Learn.isotonicFit(df.repartition(1), "x", "y").orderBy("x").collect()
    val b = Learn.isotonicFit(df.repartition(7, col("y")), "x", "y").orderBy("x").collect()
    assert(a.toSeq === b.toSeq)
    val levels = a.map(_.getLong(3)).toSeq
    assert(levels === levels.sorted, "fitted levels must be non-decreasing")
  }

  test("chi-squared selector ranks a label-exclusive token over uniform ones") {
    import spark.implicits._
    // "x" appears exactly in the two label-a docs: 2x2-style chi2 = 4.
    // "u" is perfectly balanced (chi2 = 0); "c" is in EVERY doc (zero
    // absent margin -> guard path, chi2 = 0). k=2 selects x plus the
    // alphabetically-first zero token, output re-sorted ascending.
    val docs = Seq((1L, "x c u", "a"), (2L, "x c", "a"),
      (3L, "c u", "b"), (4L, "c", "b")).toDF("doc_id", "text", "lang")
    val got = Learn.chiSqSelect(docs, "doc_id", "text", "lang", 2)
      .orderBy("tok").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === Seq(("c", 0L), ("x", 4000000L)))
  }

  test("AFT survival: one descent step re-derived by hand; predict at the zero start") {
    import spark.implicits._
    // two rows: an observed event at t=1 (ε=0 contributes nothing to β)
    // and a censored t=3 (ε=ln 3, e^ε=3 — pure hazard mass)
    val feats = Seq((1L, 1L, 1L, 0L), (2L, 3L, 0L, 2L))
      .map { case (id, t, del, x1) => (id, t, del, x1, if (id == 2) 1L else 0L) }
      .toDF("id", "t", "del", "x1", "x2")
    val p1 = Learn.aftStep(feats.select("t", "del", "x1", "x2"),
      Learn.aftInit(spark), step = 0.001).head()
    // hand-derivation (micro units, HALF-AWAY rounding like both engines):
    // row1: c0=c1=c2=0, cs=+1e6; row2: e^ε=3 → c0=−3e6, c1=−6e6, c2=−3e6,
    // cs=round(−3·ln3·1e6)=−3295837; sums over n=2, step 1e-3 descent:
    assert((p1.getLong(0), p1.getLong(1), p1.getLong(2), p1.getLong(3))
      === ((1148L, 1500L, 3000L, 1500L)))
    // predict at the zero start: λ=1 → pred 1000 milli; Weibull median
    // λ·exp(ln(ln 2)·σ) = ln 2 at σ=1 → 693 milli
    val pr = Learn.aftPredict(feats.filter(col("id") === 1)
        .select(col("id"), col("t"), col("del"), col("x1"), col("x2")),
      Learn.aftInit(spark), "id").head()
    assert(pr.getAs[Long]("pred_milli") === 1000L)
    assert(pr.getAs[Long]("median_milli") === 693L)
    // partitioning determinism: micro-quantized contributions sum exactly
    val many = (1L to 200L).map(i =>
      (i, 1L + i % 40, i % 2, 1L + i % 5, i % 3)).toDF("id", "t", "del", "x1", "x2")
    val a = Learn.aftFit2(many.select("t", "del", "x1", "x2"), iters = 3).head()
    val b = Learn.aftFit2(many.repartition(7).select("t", "del", "x1", "x2"), iters = 3).head()
    assert(a === b)
  }

  test("lasso zeroes a pure-noise feature exactly; the signal survives") {
    import spark.implicits._
    // y = 7*x2 exactly; x1 is tiny alternating noise orthogonal-ish to y.
    val feats = (1L to 300L).map { i =>
      val x2 = i % 20
      (i, (i % 2) * 2 - 1, x2, 7L * x2)
    }.toDF("o_orderkey", "x1", "x2", "y")
    val w = Learn.lassoFit2(feats, iters = 12, lr = 0.01, lambda = 30.0).head()
    assert(w.getLong(1) === 0L, s"noise weight must be EXACTLY zero, got $w")
    assert(math.abs(w.getLong(2) / 65536.0 - 7.0) < 0.7, s"signal weight survives: $w")
    // scoring emits integer predictions in y-units
    val p = Learn.linPredict2(feats, Learn.lassoFit2(feats, 12, 0.01, 30.0), "o_orderkey")
      .orderBy("o_orderkey").head()
    assert(p.schema.fieldNames.toSeq === Seq("o_orderkey", "y", "predq"))
  }

  test("wlsK: integer weight w equals the row repeated w times, bit-exactly") {
    import spark.implicits._
    import graft.ext.Solve
    val base = (1L to 80L).map { i =>
      (i, i % 7, (i * 3) % 11, 1L + (i % 4), 15L + 4 * (i % 7) - 2 * ((i * 3) % 11) + (i % 3))
    }
    val weighted = base.toDF("o_orderkey", "x1", "x2", "w", "y")
    // expand: each row repeated w times, weight 1
    val expanded = base.flatMap { case (i, x1, x2, w, y) =>
      (1L to w).map(r => (i * 10 + r, x1, x2, 1L, y))
    }.toDF("o_orderkey", "x1", "x2", "w", "y")
    val wBeta = Solve.wlsK(weighted, d = 2, idCol = "o_orderkey", weightCol = "w")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // score the ORIGINAL keyed rows under the expanded fit: moments are
    // exactly equal integers, so the solved betas and predictions match
    val eBetaPred = Solve.wlsK(expanded, d = 2, idCol = "o_orderkey", weightCol = "w")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    base.foreach { case (i, _, _, w, _) =>
      (1L to w).foreach(r => assert(eBetaPred(i * 10 + r) === wBeta(i),
        s"row $i rep $r"))
    }
    // zero-weight rows drop from the fit but still score: zeroing one
    // row's weight changes the fit exactly like deleting it
    val zeroed = weighted.withColumn("w",
      expr("CASE WHEN o_orderkey = 5 THEN CAST(0 AS BIGINT) ELSE w END"))
    val deleted = weighted.filter(col("o_orderkey") =!= 5)
    val pz = Solve.wlsK(zeroed, 2, "o_orderkey", "w")
      .filter(col("o_orderkey") =!= 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val pd = Solve.wlsK(deleted, 2, "o_orderkey", "w")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(pz === pd)
  }

  test("olsK randomized: predictions match a driver-side normal-equation solve across widths") {
    import spark.implicits._
    import graft.ext.Solve
    for ((seed, d) <- Seq((7, 3), (13, 4), (29, 5))) {
      val rows = (1L to 160L).map { i =>
        val xs = (1 to d).map(j => ((i * (seed + 3 * j)) % 17) - 8L)
        val y = 20L + xs.zipWithIndex.map { case (x, j) => (j + 2) * x }.sum +
          ((i * 31) % 7) - 3
        (i, xs, y)
      }
      val df = rows.map { case (i, xs, y) =>
        (i, xs.padTo(5, 0L)(0), xs.padTo(5, 0L)(1), xs.padTo(5, 0L)(2),
          xs.padTo(5, 0L)(3), xs.padTo(5, 0L)(4), y)
      }.toDF("o_orderkey", "x1", "x2", "x3", "x4", "x5", "y")
        .selectExpr(Seq("o_orderkey") ++ (1 to d).map(i => s"x$i") ++ Seq("y"): _*)
      val got = Solve.olsK(df, d = d, idCol = "o_orderkey").collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      // plain-double driver solve of the same normal equations
      val n = rows.length.toDouble
      val aug = Array.tabulate(d + 1, d + 2) { (r, c) =>
        def x(row: (Long, Seq[Long], Long), j: Int) =
          if (j == 0) 1.0 else row._2(j - 1).toDouble
        if (c <= d) rows.map(t => x(t, r) * x(t, c)).sum
        else rows.map(t => x(t, r) * t._3).sum
      }
      for (k <- 0 to d; r2 <- k + 1 to d) {
        val f = aug(r2)(k) / aug(k)(k)
        for (c <- k to d + 1) aug(r2)(c) -= f * aug(k)(c)
      }
      val beta = Array.fill(d + 1)(0.0)
      for (r2 <- d to 0 by -1)
        beta(r2) = (aug(r2)(d + 1) -
          (r2 + 1 to d).map(j => aug(r2)(j) * beta(j)).sum) / aug(r2)(r2)
      rows.foreach { case (i, xs, _) =>
        val want = beta(0) + xs.zipWithIndex.map { case (x, j) => beta(j + 1) * x }.sum
        assert(math.abs(got(i) - math.round(want)) <= 1L,
          s"seed $seed d $d row $i: ${got(i)} vs $want")
      }
    }
  }

  test("softmaxFitK: K = 4 predicts all four bands") {
    import spark.implicits._
    // 4 bands of a separable score: every class must appear in the
    // predictions and accuracy must clear the dominant-class rate
    val four = (1L to 400L).map { i =>
      val z = (i % 21) - 10
      (i, z, (i * 3) % 5 - 2,
        if (z > 5) 3L else if (z > 0) 2L else if (z > -5) 1L else 0L)
    }.toDF("o_orderkey", "x1", "x2", "y")
    val w4 = Learn.softmaxFitK(four.select("x1", "x2", "y"), kTot = 4,
      iters = 20, lr = 1.0)
    val preds = Learn.softmaxPredictK(four, w4, 4, "o_orderkey").collect()
    val predCol = preds.head.length - 1
    assert(preds.map(_.getLong(predCol)).toSet === Set(0L, 1L, 2L, 3L),
      "all four classes predicted")
    val acc = preds.count(r => r.getLong(predCol) === r.getLong(1)).toDouble / preds.length
    assert(acc > 0.75, s"4-band accuracy $acc")
    // probabilities are a micro partition of unity (p0 exact complement)
    preds.foreach { r =>
      assert((2 to 5).map(r.getLong).sum === 1000000L)
    }
  }

  test("svmFitK: the x3 margin signal separates") {
    import spark.implicits._
    // the label is a pure sign function of x3 (centered): the d = 3
    // hinge must separate ~perfectly; x1/x2 are uncorrelated noise
    val three = (1L to 400L).map { i =>
      (i, i % 4 - 2, (i * 3) % 5 - 2, (i % 11) - 5,
        if ((i % 11) - 5 >= 0) 1L else -1L)
    }.toDF("o_orderkey", "x1", "x2", "x3", "ys")
    val w3 = Learn.svmFitK(three, d = 3, iters = 10, Learn.svmStep(0.5))
    val preds = Learn.svmPredictK(three, w3, 3, "o_orderkey").collect()
    val acc = preds.count(r => r.getLong(3) === r.getLong(1)).toDouble / preds.length
    assert(acc > 0.95, s"3-feature hinge must separate on x3: acc $acc")
    assert(w3.head().getLong(3) > 0, "x3 weight carries the positive signal")
  }

  test("logisticFitK: the third feature separates") {
    import spark.implicits._
    // a label that is a pure function of x3: the d = 3 fit must push
    // weight onto x3 and classify ~perfectly where the 2-feature fit
    // (blind to x3) cannot beat the base rate
    val three = (1L to 400L).map { i =>
      (i, i % 4, (i * 3) % 5, i % 10, if (i % 10 <= 4) 1000000L else 0L)
    }.toDF("o_orderkey", "x1", "x2", "x3", "yq")
    val centered = three.selectExpr("o_orderkey", "x1", "x2",
      "CAST(x3 - 5 AS BIGINT) AS x3", "yq") // center so w0 need not chase the offset
    val w3 = Learn.logisticFitK(centered, d = 3, iters = 12, Learn.constStep(1.0))
    val preds = Learn.logisticPredictK(centered, w3, 3, "o_orderkey").collect()
    val acc = preds.count(r => r.getLong(3) === r.getLong(1)).toDouble / preds.length
    assert(acc > 0.95, s"3-feature fit must separate on x3: acc $acc")
    assert(w3.head().getLong(3) < 0, "x3 weight carries the (negative) signal")
  }

  test("olsK: exact planted recovery at d = 3; d = 2 predictions equal the Cramer solve") {
    import spark.implicits._
    import graft.ext.Solve
    // y = 7 + 3*x1 - 2*x2 + 5*x3 EXACTLY: any correct least-squares
    // solve recovers the plant and the rounded predictions equal y
    val feats = (1L to 120L).map { i =>
      val (x1, x2, x3) = (i % 6, (i * 3) % 7, (i * 5) % 4)
      (i, x1, x2, x3, 7L + 3 * x1 - 2 * x2 + 5 * x3)
    }.toDF("o_orderkey", "x1", "x2", "x3", "y")
    val got = Solve.olsK(feats, d = 3, idCol = "o_orderkey").collect()
    assert(got.length === 120)
    got.foreach(r => assert(r.getLong(2) === r.getLong(1), s"exact fit: $r"))
    // d = 2 agreement with the historical closed-form Cramer path:
    // elimination and Cramer differ in expression order (ulps in the
    // betas), but the rounded integer predictions coincide
    val two = (1L to 200L).map { i =>
      (i, i % 9, (i * 7) % 13, 40L + 11 * (i % 9) - 3 * ((i * 7) % 13) + (i % 5))
    }.toDF("o_orderkey", "x1", "x2", "y")
    val a = Learn.olsPredict2(two, Learn.olsFit2(two), "o_orderkey")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val b = Solve.olsK(two, d = 2, idCol = "o_orderkey")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(a === b)
    intercept[IllegalArgumentException](Solve.olsK(feats, d = 9, idCol = "o_orderkey"))
    // ridge leg: the n*lambda weight diagonal reproduces ridgeFit2's
    // closed form at d = 2 (prediction equality, same convention:
    // intercept unpenalized), and strictly shrinks a planted weight
    val rr = Learn.olsPredict2(two, Learn.ridgeFit2(two, lambda = 2.0), "o_orderkey")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val rk = Solve.olsK(two, d = 2, idCol = "o_orderkey", lambda = 2.0)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rr === rk)
  }

  test("decisionTreeK: feature 3 wins the argmax; nFeats = 2 reproduces decisionTree2 exactly") {
    import spark.implicits._
    // y is a pure function of x3; x1/x2 carry weak noise correlations —
    // the generalized argmax must pick the third feature's threshold
    val rows = (1L to 200L).map { i =>
      val x3 = i % 10
      (i % 4, (i * 3) % 5, x3, if (x3 <= 4) 1L else 0L)
    }.toDF("x1", "x2", "x3", "y")
    val (leaves, splits) = Learn.decisionTreeK(rows, nFeats = 3, maxDepth = 1)
    val root = splits.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
    assert(root._2 === 3L && root._3 === 4L, s"root must cut x3 at 4: $root")
    val ls = leaves.orderBy("leaf").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ls.toSeq === Seq((2L, 100L, 100L), (3L, 100L, 0L)), s"pure leaves: ${ls.toSeq}")
    // the generalization is conservative: at nFeats = 2 the generated
    // stack/route text is byte-identical to the historical 2-feature
    // machinery, so the fitted trees agree exactly
    val two = (1L to 300L).map { i =>
      (i % 7, (i * 5) % 11, if ((i % 7) * 2 + (i * 5) % 11 > 9) 1L else 0L)
    }.toDF("x1", "x2", "y")
    val (l2, s2) = Learn.decisionTree2(two, maxDepth = 2)
    val (lk, sk) = Learn.decisionTreeK(two, nFeats = 2, maxDepth = 2)
    assert(l2.orderBy("leaf").collect().toSeq === lk.orderBy("leaf").collect().toSeq)
    assert(s2.orderBy("node").collect().toSeq === sk.orderBy("node").collect().toSeq)
  }

  test("depth 3 provably differs from depth 2: the third level purifies the striped band") {
    import spark.implicits._
    // y = 1 iff x1 in (10,20] or (30,40] over x1 = 1..50: four cuts
    // (10/20/30/40) are needed; a depth-2 tree (3 splits) must leave at
    // least one impure leaf, depth 3 (up to 7 splits) separates exactly.
    // x2 is constant noise no argmax may pick.
    val rows = (1L to 200L).map { i =>
      val x1 = i % 50 + 1
      (x1, 0L, if ((x1 > 10 && x1 <= 20) || (x1 > 30 && x1 <= 40)) 1L else 0L)
    }.toDF("x1", "x2", "y")
    def leaves(depth: Int) =
      Learn.decisionTree2(rows, maxDepth = depth)._1.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val l2 = leaves(2)
    val l3 = leaves(3)
    assert(l2.map(_._1).toSet !== l3.map(_._1).toSet,
      s"leaf sets must differ: ${l2.toSeq} vs ${l3.toSeq}")
    // level-synchronous refinement: depth 3's first two generations ARE
    // depth 2's, so its split set strictly extends depth 2's with
    // third-generation nodes (ids >= 4)
    def splits(depth: Int) = Learn.decisionTree2(rows, maxDepth = depth)._2
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val (s2, s3) = (splits(2), splits(3))
    assert(s2.subsetOf(s3) && s3.size > s2.size, s"$s2 vs $s3")
    assert((s3 -- s2).forall(_._1 >= 4L), "new splits are third-generation nodes")
    assert(s3.forall(_._2 === 1L), "constant x2 never wins an argmax")
    // the extra generation strictly reduces the weighted gini impurity —
    // the tree's own objective (four cuts are needed, so three splits
    // cannot reach zero and the third level keeps gaining)
    def gini(ls: Seq[(Long, Long, Long)]) =
      ls.map { case (_, n, np) => np.toDouble * (n - np) / n }.sum
    assert(gini(l3.toSeq) < gini(l2.toSeq) - 1e-9,
      s"depth 3 must be strictly purer: ${gini(l3.toSeq)} vs ${gini(l2.toSeq)}")
    assert(gini(l3.toSeq) > 0, "even depth 3 cannot purify a 4-cut band with 3 levels of this shape")
    // the third generation reaches at least one remaining TRUE stripe
    // edge (pure nodes may also take zero-gain splits at the default
    // minGainMilli = 0 — the gated s74 convention — so not every
    // threshold is an edge)
    assert((s3 -- s2).map(_._3).intersect(Set(10L, 20L, 30L, 40L)).nonEmpty,
      s"new splits $s3 -- $s2 must include a stripe edge")
  }

  test("elastic net: alpha = 1 IS lasso exactly; alpha = 0 converges to ridge; 0.5 sits between") {
    import spark.implicits._
    // y = 2*x1 - x2 in MILLI units on a small-magnitude grid: the
    // milli scale keeps linPredExpr's integer-rounded predictions from
    // biasing the fixed point (predq rounds to y-units); the zero
    // planted intercept matches the zero init so the weight directions
    // converge at the feature rates (lr = 0.15 is stable on this grid)
    val feats = (1L to 60L).map { i =>
      val (x1, x2) = (i % 5, (i * 3) % 7 - 3)
      (i, x1, x2, 1000L * (2 * x1 - x2))
    }.toDF("o_orderkey", "x1", "x2", "y").select("x1", "x2", "y")
    // alpha = 1: bit-identical to lassoFit2 (the step expr degenerates
    // to the bare soft-threshold, not a rounded division by 1.0)
    val l = Learn.lassoFit2(feats, iters = 8, lr = 0.01, lambda = 10.0).head()
    val e1 = Learn.elasticNetFit2(feats, iters = 8, lr = 0.01, lambda = 10.0,
      alpha = 1.0).head()
    assert(e1 === l)
    // alpha = 0: the ISTA fixed point solves (X'X + n*lambda*I)b = X'y —
    // ridgeFit2's closed form at the SAME lambda
    val e0 = Learn.elasticNetFit2(feats, iters = 120, lr = 0.15, lambda = 0.05,
      alpha = 0.0).head()
    val r = Learn.ridgeFit2(feats, lambda = 0.05).head()
    assert(math.abs(e0.getLong(1) / 65536.0 - r.getDouble(1)) < 10.0,
      s"w1 ${e0.getLong(1) / 65536.0} vs ridge ${r.getDouble(1)}") // milli scale: 10 = 0.01
    assert(math.abs(e0.getLong(2) / 65536.0 - r.getDouble(2)) < 10.0,
      s"w2 ${e0.getLong(2) / 65536.0} vs ridge ${r.getDouble(2)}")
    // heavy penalty: lasso kills the weak weight exactly, ridge keeps
    // it, the mix shrinks it monotonically in between
    val noisy = (1L to 300L).map { i =>
      val x2 = i % 20
      ((i % 2) * 2 - 1, x2, 7L * x2)
    }.toDF("x1", "x2", "y")
    def w1(alpha: Double) = math.abs(Learn.elasticNetFit2(noisy, iters = 12,
      lr = 0.01, lambda = 30.0, alpha = alpha).head().getLong(1))
    val (wl, wm, wr) = (w1(1.0), w1(0.5), w1(0.0))
    assert(wl === 0L, "alpha = 1 zeroes the noise weight exactly")
    assert(wl <= wm && wm <= wr, s"shrinkage monotone in alpha: $wl $wm $wr")
    intercept[IllegalArgumentException](
      Learn.elasticNetFit2(noisy, alpha = 1.5))
  }

  test("maxBins binning changes the chosen split: thresholds are sample quantiles, not raw values") {
    import spark.implicits._
    // x1 = 1..100, y = 1 iff x1 <= 37; x2 constant (never splittable).
    // Raw tree: the pure split at 37 wins. maxBins=4 exact binning puts
    // candidates only at ranks 25/50/75 -> edges {25, 50, 75}; the gini
    // argmax over those picks 50 (left 37/13, pure right beats 25's
    // pure-left). The split moving 37 -> 50 is binning on the gated path.
    val rows = (1L to 100L).map(i => (i, i, 0L, if (i <= 37) 1L else 0L))
      .toDF("id", "x1", "x2", "y")
    val rawThr = Learn.decisionTree2(rows, maxDepth = 1)._2.head()
    assert(rawThr.getLong(1) === 1L && rawThr.getLong(2) === 37L)
    val binned = Learn.binnedFeatures(rows, Seq("x1", "x2"), "id", maxBins = 4)
    // x1 collapsed to the 3 edges + sentinel; x2's single value binned to 0
    assert(binned.select("x1").distinct().collect().map(_.getLong(0)).sorted
      === Array(25L, 50L, 75L, Learn.binSentinel))
    val binThr = Learn.decisionTree2(binned, maxDepth = 1)._2.head()
    assert(binThr.getLong(1) === 1L && binThr.getLong(2) === 50L)
    // thresholds are exact order statistics at (cnt*b) DIV maxBins
    val lf = rows.selectExpr("id", "stack(2, 1L, x1, 2L, x2) AS (feat, val)")
    val thr = Learn.quantileBinThresholds(lf, "id", maxBins = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(thr === Set((1L, 25L), (1L, 50L), (1L, 75L), (2L, 0L)))
  }

  test("categorical splits: centroid order isolates a category no ordered encoding can") {
    import spark.implicits._
    // categories with positive rates a = 0.9, b = 0.1, c = 0.8: codepoint
    // order a < b < c, centroid order b < c < a. The optimal root split
    // {b} | {a, c} is not contiguous in codepoint order, so an
    // ordered-integer tree (a=1, b=2, c=3) cannot express it.
    val rows = (
      (1 to 10).map(i => ("a", 0L, if (i <= 9) 1L else 0L)) ++
      (1 to 10).map(i => ("b", 0L, if (i <= 1) 1L else 0L)) ++
      (1 to 10).map(i => ("c", 0L, if (i <= 8) 1L else 0L))
    ).toDF("cat", "x2", "y")
    val ranks = Learn.centroidCategoryRanks(rows, "cat", "y")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(ranks === Map("b" -> 1L, "c" -> 2L, "a" -> 3L))
    val leaves = Learn.categoricalTree2(rows, "cat", "x2", "y", maxDepth = 1)
      .collect().sortBy(_.getLong(0))
    // root split is the membership set {b}: leaf 2 = b (10 rows, 1 pos),
    // leaf 3 = {a, c} (20 rows, 17 pos)
    assert(leaves.map(_.getString(5)).toSet === Set("b"))
    val l2 = leaves.find(_.getLong(0) == 2L).get
    val l3 = leaves.find(_.getLong(0) == 3L).get
    assert((l2.getLong(1), l2.getLong(2), l2.getLong(3)) === ((10L, 1L, 0L)))
    assert((l3.getLong(1), l3.getLong(2), l3.getLong(3)) === ((20L, 17L, 1L)))
    // the ordered-integer tree over codepoint codes picks a strictly
    // worse split: its best gini score is below the categorical one
    val ordered = rows.selectExpr(
      "CAST(CASE cat WHEN 'a' THEN 1 WHEN 'b' THEN 2 ELSE 3 END AS BIGINT) AS x1",
      "x2", "y")
    val ordScore = Learn.decisionTree2(ordered, maxDepth = 1)._2
      .head().getLong(3)
    val centroid = rows.join(
        Learn.centroidCategoryRanks(rows, "cat", "y").select("cat", "crank"), "cat")
      .selectExpr("crank AS x1", "x2", "y")
    val catScore = Learn.decisionTree2(centroid, maxDepth = 1)._2
      .head().getLong(3)
    assert(catScore > ordScore,
      s"centroid split ($catScore) must beat the ordered best ($ordScore)")
  }

  test("weighted multiclass metrics match mllib within the per-label floor bound") {
    import spark.implicits._
    val pairs = Seq((0L, 0L), (0L, 0L), (0L, 1L), (1L, 1L), (1L, 2L),
      (2L, 2L), (2L, 2L), (2L, 0L), (1L, 1L), (0L, 0L))
    val got = Learn.multiclassWeighted(
      pairs.toDF("actual", "pred_label"), "actual", "pred_label").head()
    val m = new org.apache.spark.mllib.evaluation.MulticlassMetrics(
      spark.sparkContext.parallelize(
        pairs.map { case (a, p) => (p.toDouble, a.toDouble) }))
    assert(got.getLong(0) === 10L)
    // per-label micro floors happen before weighting: each weighted
    // value sits within a few micro of the reference double
    assert(math.abs(got.getLong(1) - m.accuracy * 1e6) <= 1)
    assert(math.abs(got.getLong(2) - m.weightedPrecision * 1e6) <= 5)
    assert(math.abs(got.getLong(3) - m.weightedRecall * 1e6) <= 5)
    assert(math.abs(got.getLong(4) - m.weightedFMeasure * 1e6) <= 5)
    assert(math.abs(got.getLong(5) - m.weightedFalsePositiveRate * 1e6) <= 5)
  }

  test("multiclass categorical: subset enumeration isolates the middle-mean category") {
    import spark.implicits._
    // label means: a = 0.8 < b = 1.0 < c = 1.2, but b is PURE class 1 —
    // the gini-best split {b} | {a, c} is the middle of the mean order,
    // unreachable for any prefix/centroid scheme (the reason the
    // reference enumerates subsets for multiclass)
    val rows = (
      (1 to 6).map(_ => ("a", 0L)) ++ (1 to 4).map(_ => ("a", 2L)) ++
      (1 to 10).map(_ => ("b", 1L)) ++
      (1 to 4).map(_ => ("c", 0L)) ++ (1 to 6).map(_ => ("c", 2L))
    ).toDF("cat", "y")
    val l1 = Learn.multiclassCategoricalTree(rows, "cat", "y", maxDepth = 1)
      .collect().sortBy(_.getLong(0))
    assert(l1.map(_.getString(7)).toSet === Set("b"),
      s"root must isolate the middle-mean category: ${l1.mkString("; ")}")
    val left = l1.find(_.getLong(0) == 2L).get
    assert((left.getLong(1), left.getLong(2), left.getLong(3), left.getLong(4),
      left.getLong(5)) === ((10L, 0L, 10L, 0L, 1L)))
    // depth 2: the pure {b} node has no valid candidate (single
    // category, no numeric feature) and KEEPS its id (the stay-put
    // branch); the {a, c} node splits {a} off
    val l2 = Learn.multiclassCategoricalTree(rows, "cat", "y", maxDepth = 2)
      .collect().map(_.getLong(0)).sorted
    assert(l2.toSeq === Seq(2L, 6L, 7L), s"leaves ${l2.toSeq}")
  }

  test("multiclass tree: high-cardinality category fails fast without collecting the domain") {
    import spark.implicits._
    // a mistaken free-text column: the limit(14) probe must reject on
    // 14 rows, never materializing the full distinct domain
    val rows = (1L to 5000L).map(i => (s"comment-$i", i % 3)).toDF("cat", "y")
    val e = intercept[IllegalArgumentException] {
      Learn.multiclassCategoricalTree(rows, "cat", "y", maxDepth = 1)
    }
    assert(e.getMessage.contains("> 12"), e.getMessage)
  }

  test("multiclass tree: a numeric threshold beats every subset when the signal is ordered") {
    import spark.implicits._
    // label follows x2 (y = 0 iff x2 <= 4), categories carry no signal:
    // findBestSplits' mixed argmax must pick the kind-2 threshold 4
    val rows = (1L to 60L).map { i =>
      (Seq("a", "b", "c")((i % 3).toInt), i % 10, if (i % 10 <= 4) 0L else 2L)
    }.toDF("cat", "x2", "y")
    val leaves = Learn.multiclassCategoricalTree(rows, "cat", "y",
        maxDepth = 1, x2Col = "x2")
      .collect().sortBy(_.getLong(0))
    assert(leaves.map(r => (r.getLong(6), r.getString(7))).toSet === Set((2L, "4")),
      s"expected the numeric cut: ${leaves.mkString("; ")}")
    val left = leaves.find(_.getLong(0) == 2L).get
    assert((left.getLong(1), left.getLong(2), left.getLong(4)) === ((30L, 30L, 0L)))
  }

  test("categorical regression tree isolates a codepoint-middle category by target mean") {
    import spark.implicits._
    // means: b = 1004.5 << c = 8004.5 < a = 9004.5 — centroid order
    // b < c < a makes the variance-best root split {b}, which is not
    // contiguous in codepoint order a < b < c
    val rows = (1L to 10L).flatMap { i =>
      Seq(("a", 0L, 9000L + i), ("b", 0L, 1000L + i), ("c", 0L, 8000L + i))
    }.toDF("cat", "x2", "ym")
    val leaves = Learn.categoricalRegressionTree2(rows, "cat", "x2", "ym", maxDepth = 1)
      .collect().sortBy(_.getLong(0))
    assert(leaves.map(_.getString(5)).toSet === Set("b"))
    val left = leaves.find(_.getLong(0) == 2L).get
    assert(left.getLong(1) === 10L)
    assert(left.getLong(3) === 1006L) // round(mean of 1001..1010) = 1006 (half-up)
  }

  test("quantileBinThresholds default auto-sizes the hash sample from the row count") {
    import spark.implicits._
    // one feature, 45000 rows, maxBins = 2 -> target 20000 sampled rows
    // per feature -> auto sampleMod = ceil(45000 / 20000) = 3; the
    // default must match an explicit sampleMod = 3, not exact mode
    val lf = (1L to 45000L).map(i => (i, 1L, i)).toDF("id", "feat", "val")
    val auto = Learn.quantileBinThresholds(lf, "id", maxBins = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit3 = Learn.quantileBinThresholds(lf, "id", maxBins = 2, sampleMod = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Learn.quantileBinThresholds(lf, "id", maxBins = 2, sampleMod = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto === explicit3)
    assert(auto !== exact) // the sampled median differs from the exact one
  }

  test("minInstancesPerNode moves the chosen split; minGainMilli prunes a node to a leaf") {
    import spark.implicits._
    // y = 1 only at x1 = 10: the unconstrained best split isolates it
    // (thr 9, a 1-row child); minInstancesPerNode = 2 forbids that and
    // the argmax falls back to thr 8
    val rows = (1L to 10L).map(i => (i, 0L, if (i == 10) 1L else 0L))
      .toDF("x1", "x2", "y")
    val free = Learn.decisionTree2(rows, maxDepth = 1)._2.head()
    assert(free.getLong(2) === 9L)
    val floored = Learn.decisionTree2(rows, maxDepth = 1,
      minInstancesPerNode = 2L)._2.head()
    assert(floored.getLong(2) === 8L)
    // an impossible gain floor leaves the root unsplit: a 1-leaf tree
    val (leaves, splits) = Learn.decisionTree2(rows, maxDepth = 1,
      minGainMilli = 1000000L)
    assert(splits.count() === 0L)
    assert(leaves.collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("softmax regression separates three corner classes; probabilities complement exactly") {
    import spark.implicits._
    // three separable bands on x2
    val feats = (1L to 300L).map { i =>
      val x2 = (i % 15) - 7 // -7..7
      (i, i % 3, x2, if (x2 <= -3) 0L else if (x2 <= 2) 1L else 2L)
    }.toDF("id", "x1", "x2", "y")
    val w = Learn.softmaxFitK(feats, kTot = 3, iters = 20, lr = 2.0)
    val scored = Learn.softmaxPredict2(feats, w, "id").collect()
    val acc = scored.count(r => r.getLong(5) === r.getLong(1)).toDouble / scored.length
    assert(acc >= 0.95, s"softmax accuracy $acc")
    // p0 is the EXACT integer complement on every row
    assert(scored.forall(r => r.getLong(2) + r.getLong(3) + r.getLong(4) === 1000000L))
    // partitioning-deterministic
    val w2 = Learn.softmaxFitK(feats.repartition(7), kTot = 3, iters = 20, lr = 2.0)
    assert(w2.head().toSeq === w.head().toSeq)
  }

  test("decayed L2 SGD: lambda shrinks the boundary weight; decay changes the trajectory") {
    import spark.implicits._
    val feats = (1L to 200L)
      .map(i => (i, i % 3, (i % 10) - 5, if ((i % 10) - 5 >= 0) 1000000L else 0L))
      .toDF("id", "x1", "x2", "yq")
    val w0 = Learn.logisticFitK(feats, 2, iters = 8, Learn.decayL2Step(lr0 = 1.0, lambda = 0.0)).head()
    val wL = Learn.logisticFitK(feats, 2, iters = 8, Learn.decayL2Step(lr0 = 1.0, lambda = 0.5)).head()
    assert(math.abs(wL.getLong(2)) < math.abs(w0.getLong(2)), // x2 carries the boundary
      s"l2 did not shrink: ${w0.getLong(2)} -> ${wL.getLong(2)}")
    // the sqrt(t) decay genuinely diverges from the constant-step fit
    val wConst = Learn.logisticFitK(feats, 2, iters = 8, Learn.constStep(1.0)).head()
    assert(w0.toSeq !== wConst.toSeq)
  }

  test("minibatch SGD separates the boundary; trajectory genuinely differs from full batch") {
    import spark.implicits._
    // the CENTERED separable fixture of the full-batch spec, 200 rows
    val feats = (1L to 200L)
      .map(i => (i, i % 3, (i % 10) - 5, if ((i % 10) - 5 >= 0) 1000000L else 0L))
      .toDF("id", "x1", "x2", "yq")
    val wMb = Learn.logisticFitK(feats, 2, iters = 8, Learn.constStep(1.0),
      batch = Some(Learn.rotatingBatch("id", batches = 4)))
    val scored = Learn.logisticPredictK(feats, wMb, 2, "id").collect()
    val acc = scored.count(r => r.getLong(3) === r.getLong(1)).toDouble / scored.length
    assert(acc >= 0.9, s"minibatch accuracy $acc")
    // quarter-batch gradients are not the full-batch gradients: the
    // stochastic trajectory must land on different quantized weights
    val wFull = Learn.logisticFitK(feats, 2, iters = 8, Learn.constStep(1.0)).head()
    assert(wMb.head().toSeq !== wFull.toSeq)
    // deterministic: the same rotation reproduces the same weights
    val again = Learn.logisticFitK(feats.repartition(5), 2, 8, Learn.constStep(1.0),
      batch = Some(Learn.rotatingBatch("id", 4)))
    assert(again.head().toSeq === wMb.head().toSeq)
  }

  test("feature-restricted trees provably never split on the zeroed column") {
    import spark.implicits._
    // both features individually informative; zeroing x2 must leave a
    // split table that references ONLY feature 1 at every level
    val rows = (1L to 100L)
      .map(i => (i, i % 50, (i * 7) % 100, if (i % 50 < 25 && (i * 7) % 100 < 50) 1L else 0L))
      .toDF("id", "x1", "x2", "y")
    val (_, full) = Learn.decisionTree2(rows)
    assert(full.collect().map(_.getLong(1)).toSet === Set(1L, 2L)) // both used
    val (_, restricted) = Learn.decisionTree2(rows.withColumn("x2", lit(0L)))
    val feats = restricted.collect().map(_.getLong(1)).toSet
    assert(feats === Set(1L), s"restricted tree split on $feats")
  }

  test("antitonicFit: violators pool to the decreasing fit; exact dual of isotonic on -y") {
    import spark.implicits._
    // per-x means 11, 8, 9, 2: the 8 < 9 violation pools to 8.5
    val rows = Seq((1L, 10L), (1L, 12L), (2L, 8L), (3L, 9L), (4L, 2L)).toDF("x", "y")
    val got = Learn.antitonicFit(rows, "x", "y").orderBy("x").collect()
    assert(got.map(_.getLong(3)).toSeq ===
      Seq(11000000L, 8500000L, 8500000L, 2000000L))
    assert(got.map(_.getLong(2)).toSeq === Seq(22L, 8L, 9L, 2L)) // ORIGINAL sums
    // bit-exact duality with the isotonic fit of the negated target
    val iso = Learn.isotonicFit(rows.select(col("x"), (-col("y")).as("y")), "x", "y")
      .orderBy("x").collect()
    assert(got.map(-_.getLong(3)).toSeq === iso.map(_.getLong(3)).toSeq)
  }

  test("gbtFitValidated stops on a validation-error increase and slices to bestM") {
    import spark.implicits._
    // train: ym tracks x1 exactly; valid: the SAME x1 with inverted
    // targets — the round-1 stump that helps train hurts valid, so the
    // error rises and the reference's overfit branch stops immediately
    val train = (1L to 40L).map(i => (i, 0L, if (i <= 20) 1000L else 3000L))
      .toDF("x1", "x2", "ym")
    val valid = (1L to 40L).map(i => (i, 0L, if (i <= 20) 3000L else 1000L))
      .toDF("x1", "x2", "ym")
    val out = Learn.gbtFitValidated(train, valid, maxRounds = 5, tolMicro = 1000L)
      .orderBy("round").collect()
    assert(out.length === 2) // f0 row + the stopping round only
    assert(out(0).getLong(0) === 0L && out(0).getLong(6) === 1L) // f0 in model
    assert(out(1).getLong(0) === 1L)
    assert(out(1).getLong(7) === 1L) // stopped
    assert(out(1).getLong(6) === 0L) // the overfit round is NOT in the model
    assert(out(1).getLong(5) > out(0).getLong(5)) // the error really rose
  }
}
