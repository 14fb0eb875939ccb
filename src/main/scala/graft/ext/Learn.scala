package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Classic-MLlib learning thin-slice beyond clustering/recommendation:
  * closed-form linear regression and multinomial Naive Bayes — the two
  * remaining reference workhorses
  * (mllib/src/main/scala/org/apache/spark/mllib/regression/LinearRegression.scala:55
  * trains by SGD; mllib/src/main/scala/org/apache/spark/mllib/classification/NaiveBayes.scala:319
  * aggregates per-label term counts — exactly the relational shape used
  * here), both expressed so a DuckDB oracle reproduces every output bit.
  *
  * Determinism recipes (the house rules):
  *   - OLS skips SGD entirely: with two features the normal equations
  *     have a closed Cramer solve, and the nine sufficient statistics
  *     are exact integer sums — so the solve is ONE double expression
  *     whose formula string is shared VERBATIM between the Spark plan
  *     (`selectExpr`) and the oracle (both engines parse
  *     `CAST(x AS DOUBLE)` arithmetic), eliminating mirror drift by
  *     construction. SGD would converge to the same place slower and
  *     nondeterministically; the reference itself recommends the exact
  *     solve when it fits ("normal equation" solver in ml.regression).
  *   - Naive Bayes log-probabilities are quantized to micro-nats
  *     (`round(ln(...) * 1e6)` — the t13 recipe) so per-document score
  *     sums are exact integers under any partitioning, and the argmax
  *     ties break to the smallest label.
  */
object Learn {

  /** Cramer solve of the 2-feature OLS normal equations over the
    * sufficient-statistic columns (n, s1, s2, s11, s12, s22, sy, s1y,
    * s2y): determinant expressions as SQL strings, shared verbatim with
    * the oracle. Terms are cast to DOUBLE once; the 3x3 determinant is
    * the textbook cofactor expansion with fixed parenthesization. */
  private def det3(a: String, b: String, c: String,
                   d: String, e: String, f: String,
                   g: String, h: String, i: String): String =
    s"((($a * (($e * $i) - ($f * $h))) - ($b * (($d * $i) - ($f * $g)))) + ($c * (($d * $h) - ($e * $g))))"

  /** (b0, b1, b2) formula strings over the sufficient-statistic columns. */
  def olsBetaExprs: Seq[(String, String)] = {
    def d(col: String) = s"CAST($col AS DOUBLE)"
    val (n, s1, s2) = (d("n"), d("s1"), d("s2"))
    val (s11, s12, s22) = (d("s11"), d("s12"), d("s22"))
    val (sy, s1y, s2y) = (d("sy"), d("s1y"), d("s2y"))
    val det = det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
    Seq(
      "b0" -> s"(${det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22)} / $det)",
      "b1" -> s"(${det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22)} / $det)",
      "b2" -> s"(${det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y)} / $det)")
  }

  /** Per-row prediction formula over (b0, b1, b2, x1, x2) — shared with
    * the oracle like the betas. Integer cents out. */
  val olsPredExpr: String =
    "CAST(round((b0 + (b1 * CAST(x1 AS DOUBLE))) + (b2 * CAST(x2 AS DOUBLE))) AS BIGINT)"

  /** Ridge variant of [[olsBetaExprs]] (reference
    * mllib/src/main/scala/org/apache/spark/mllib/regression/
    * RidgeRegression.scala:52 trains the same L2-penalized objective by
    * SGD with a SquaredL2Updater; at 2 features the penalized normal
    * equations stay closed-form): minimizing (1/n)·Σ(y − Xβ)² +
    * λ·(b1² + b2²) adds n·λ to the two WEIGHT diagonal entries of X'X —
    * the intercept is NOT penalized here, the standard textbook
    * convention and a DELIBERATE deviation from the reference, whose
    * addIntercept path appends the bias as a regular weight that
    * SquaredL2Updater then shrinks along with the rest. λ = 0 reduces
    * exactly to
    * [[olsBetaExprs]]. The λ literal is embedded in the formula string,
    * so the oracle repeats it verbatim. */
  def ridgeBetaExprs(lambda: Double): Seq[(String, String)] = {
    def d(col: String) = s"CAST($col AS DOUBLE)"
    val (n, s1, s2) = (d("n"), d("s1"), d("s2"))
    val s11 = s"(${d("s11")} + ($lambda * ${d("n")}))"
    val s22 = s"(${d("s22")} + ($lambda * ${d("n")}))"
    val (s12, sy, s1y, s2y) = (d("s12"), d("sy"), d("s1y"), d("s2y"))
    val det = det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
    Seq(
      "b0" -> s"(${det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22)} / $det)",
      "b1" -> s"(${det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22)} / $det)",
      "b2" -> s"(${det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y)} / $det)")
  }

  /** Ridge fit over the same nine exact integer sufficient statistics as
    * [[olsFit2]] — ONE aggregation scan, the penalized Cramer solve as a
    * 1-row projection. */
  def ridgeFit2(feats: DataFrame, lambda: Double): DataFrame =
    feats.agg(
        count(lit(1)).as("n"),
        sum("x1").as("s1"), sum("x2").as("s2"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum("y").as("sy"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"))
      .selectExpr(ridgeBetaExprs(lambda).map { case (name, e) => s"$e AS $name" }: _*)

  /** Fit y ~ 1 + x1 + x2 by exact normal equations over a
    * (x1, x2, y) BIGINT table. One aggregation scan (nine integer sums,
    * map-side combined), one 1-row projection — no iteration, no feature
    * matrix materialization. Returns the 1-row (b0, b1, b2) doubles.
    * Requires a non-singular design (x1, x2 not collinear/constant) —
    * the standard OLS precondition. */
  def olsFit2(feats: DataFrame): DataFrame =
    feats.agg(
        count(lit(1)).as("n"),
        sum("x1").as("s1"), sum("x2").as("s2"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum("y").as("sy"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"))
      .selectExpr(olsBetaExprs.map { case (name, e) => s"$e AS $name" }: _*)

  /** Score `feats` (idCol, x1, x2, y) under a fitted 1-row beta table:
    * broadcast the betas, emit (idCol, y, predq). */
  def olsPredict2(feats: DataFrame, betas: DataFrame, idCol: String): DataFrame =
    feats.crossJoin(broadcast(betas))
      .selectExpr(idCol, "y", s"$olsPredExpr AS predq")

  /** Frequent item pairs + association rules (reference
    * mllib/src/main/scala/org/apache/spark/mllib/fpm/FPGrowth.scala:162
    * mines the full lattice via conditional FP-trees;
    * AssociationRules.scala:65 derives rules with confidence
    * freq(X∪Y)/freq(X)). At itemset size <= 2 — the market-basket
    * workhorse case — the relational equivalent is the Apriori/SON
    * shape, and it is all hash joins:
    *   1. frequent singletons: one distinct + one count per item;
    *   2. candidate pairs: a self-join on the basket id RESTRICTED to
    *      frequent singletons first (the apriori prune — infrequent
    *      items never enter the pair join, which is what keeps the
    *      self-join's fan-out bounded at scale);
    *   3. frequent pairs: count >= the support threshold;
    *   4. rules both directions, confidence in EXACT integer micro-units
    *      (cnt·1e6 div cnt — no doubles anywhere), filtered by min
    *      confidence, ties impossible by construction. Lift is derived
    *      FROM conf_micro ((conf_micro · nBaskets) div cnt_c), not the
    *      triple product n_pair·1e6·nBaskets — the triple overflows
    *      BIGINT past ~3M baskets (ANSI mode would throw at sf≳3); the
    *      reassociated form peaks at 1e6·nBaskets, safe to ~9e12
    *      baskets. The price of the overflow-safe form is a SECOND floor:
    *      lift_micro is the floor of the already-floored conf_micro
    *      scaled by nBaskets/cnt_c, so it can sit up to ~nBaskets/cnt_c
    *      micro-units below the single-floor value — still deterministic
    *      (the oracle repeats the identical two-step arithmetic), just
    *      not the exact floor of the real-valued lift.
    * minSupport is a basket fraction like the reference's; the absolute
    * threshold is ceil(frac · nBaskets). Returns
    * (antecedent, consequent, n_pair, conf_micro, lift_micro). */
  def frequentPairRules(baskets: DataFrame, basketCol: String, itemCol: String,
                        minSupport: Double = 0.05,
                        minConfidence: Double = 0.2): DataFrame = {
    val b = baskets.select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBaskets = b.select("basket").distinct().count()
    val thr = math.ceil(minSupport * nBaskets).toLong
    val minConfMicro = math.round(minConfidence * 1e6)
    val singles = b.groupBy("item").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= thr)
      .localCheckpoint() // consumed by the prune AND both rule joins
    val pruned = b.join(singles.select("item"), Seq("item"), "left_semi")
    val pairs = pruned.select(col("basket"), col("item").as("item_a"))
      .join(pruned.select(col("basket"), col("item").as("item_b")), "basket")
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= thr)
    val both = pairs.select(col("item_a").as("antecedent"), col("item_b").as("consequent"), col("n_pair"))
      .union(pairs.select(col("item_b").as("antecedent"), col("item_a").as("consequent"), col("n_pair")))
    val out = both
      .join(singles.select(col("item").as("antecedent"), col("cnt").as("cnt_a")), "antecedent")
      .join(singles.select(col("item").as("consequent"), col("cnt").as("cnt_c")), "consequent")
      .select(col("antecedent"), col("consequent"), col("n_pair"),
        expr("CAST((n_pair * 1000000) DIV cnt_a AS BIGINT)").as("conf_micro"),
        col("cnt_c"))
      .select(col("antecedent"), col("consequent"), col("n_pair"), col("conf_micro"),
        expr(s"CAST((conf_micro * $nBaskets) DIV cnt_c AS BIGINT)").as("lift_micro"))
      .filter(col("conf_micro") >= minConfMicro)
      .localCheckpoint()
    b.unpersist()
    out
  }

  /** One-sample Kolmogorov-Smirnov statistic vs the uniform CDF on the
    * data's own [min, max] (reference
    * mllib/src/main/scala/org/apache/spark/mllib/stat/test/KolmogorovSmirnovTest.scala:45
    * computes the same D = max(D+, D-) by sorting the RDD and scanning
    * the ECDF): the ECDF rank comes from [[Scale.globalRowIndex]]'s
    * two-pass distributed ranking (range repartition + broadcast
    * offsets — never a single-partition sort) over a packed unique
    * (value, id) sort key, so tied values rank deterministically, and
    * the row-number formulation still yields the classic D (a tie's
    * extreme ranks dominate both deviations and the per-row sweep
    * includes them). Per-row deviations are quantized to micro-units so
    * the max is an exact integer. `idCol` must be a non-negative id
    * below 10^8 (the key-packing headroom); `valCol` an exact BIGINT.
    * Returns one row (n, d_micro); LearnSpec pins parity with both a
    * driver-side scalar KS and MLlib's implementation. */
  def ksUniform(df: DataFrame, idCol: String, valCol: String): DataFrame = {
    val o = df.select(col(idCol).as("__id"), col(valCol).as("y"))
    val b = o.agg(min("y"), max("y"), count(lit(1)), min("__id"), max("__id")).head()
    val (lo, hi, nn) = (b.getLong(0), b.getLong(1), b.getLong(2))
    require(hi > lo, "ksUniform: degenerate support (all values equal)")
    // The packed key y·1e8 + id is a correct (y, id) lexicographic order
    // ONLY while ids stay in [0, 1e8) and |y|·1e8 + id fits a BIGINT —
    // enforced here (the bounds ride the scan above for free) instead of
    // silently misordering tied ranks once o_orderkey crosses 1e8 (~sf100).
    val (idLo, idHi) = (b.getLong(3), b.getLong(4))
    require(idLo >= 0L && idHi < 100000000L,
      s"ksUniform: id range [$idLo, $idHi] outside the packed-key headroom " +
        "[0, 1e8) — rank on a wider key before calling")
    require(math.max(math.abs(lo), math.abs(hi)) < 92233720368L,
      s"ksUniform: |value| bound ${math.max(math.abs(lo), math.abs(hi))} " +
        "would overflow the packed BIGINT sort key")
    val keyed = o.select(col("__id"), col("y"),
      (col("y") * lit(100000000L) + col("__id")).as("kskey"))
    Scale.globalRowIndex(keyed, "kskey")
      .selectExpr(
        s"greatest(" +
          s"CAST(round(((CAST(global_index AS DOUBLE) / CAST($nn AS DOUBLE)) - (CAST(y - $lo AS DOUBLE) / CAST($hi - $lo AS DOUBLE))) * 1e6) AS BIGINT), " +
          s"CAST(round(((CAST(y - $lo AS DOUBLE) / CAST($hi - $lo AS DOUBLE)) - (CAST(global_index - 1 AS DOUBLE) / CAST($nn AS DOUBLE))) * 1e6) AS BIGINT)) AS dd")
      .agg(max(col("dd")).as("d_micro"))
      .selectExpr(s"CAST($nn AS BIGINT) AS n", "d_micro")
  }

  /** Standard normal CDF as ONE shared formula string — the declared
    * erf-free convention for the [[ksNormal]] branch (reference
    * mllib/stat/test/KolmogorovSmirnovTest.scala's "norm" distribution
    * delegates to commons-math NormalDistribution, whose erf Spark SQL
    * and DuckDB lack): Abramowitz–Stegun 26.2.17, the five-term Horner
    * polynomial in t = 1/(1 + 0.2316419·|z|) times the normal density,
    * |error| < 7.5e-8 — two orders below the micro rounding the KS
    * statistic is gated at. Every literal CASTs through DOUBLE and the
    * text is embedded verbatim in both engines. */
  def normCdfExpr(z: String): String = {
    def d(x: String) = s"CAST($x AS DOUBLE)"
    val az = s"abs($z)"
    val t = s"(${d("1.0")} / (${d("1.0")} + (${d("0.2316419")} * $az)))"
    val horner = s"((((((((${d("1.330274429")} * $t) - ${d("1.821255978")}) * $t) + " +
      s"${d("1.781477937")}) * $t) - ${d("0.356563782")}) * $t) + ${d("0.31938153")})"
    val fa = s"(${d("1.0")} - ((${d("0.3989422804014327")} * " +
      s"exp(${d("-0.5")} * ($az * $az))) * ($horner * $t)))"
    s"(CASE WHEN $z < ${d("0.0")} THEN (${d("1.0")} - $fa) ELSE $fa END)"
  }

  /** One-sample Kolmogorov–Smirnov against a NORMAL(μ, σ) CDF —
    * reference KolmogorovSmirnovTest.scala's "norm" branch next to
    * [[ksUniform]]'s uniform one: D = max_i max(i/n − F(x_i),
    * F(x_i) − (i−1)/n) over the globally ranked sample, F the
    * [[normCdfExpr]] convention on z = (x − μ)/σ. Values arrive
    * milli-quantized (BIGINT), μ/σ as milli BIGINTs, so the rank key
    * and every F input are exact integers; ranking is the x05
    * range-repartition prefix sum (no global window). Same packed-key
    * headroom guards as ksUniform. Returns ONE row (n, d_micro). */
  def ksNormal(df: DataFrame, idCol: String, valCol: String,
               meanMilli: Long, sdMilli: Long): DataFrame = {
    require(sdMilli > 0, s"ksNormal: sdMilli must be positive, got $sdMilli")
    val o = df.select(col(idCol).as("__id"), col(valCol).as("y"))
    val b = o.agg(min("y"), max("y"), count(lit(1)), min("__id"), max("__id")).head()
    val nn = b.getLong(2)
    val (idLo, idHi) = (b.getLong(3), b.getLong(4))
    require(idLo >= 0L && idHi < 100000000L,
      s"ksNormal: id range [$idLo, $idHi] outside the packed-key headroom")
    require(math.max(math.abs(b.getLong(0)), math.abs(b.getLong(1))) < 92233720368L,
      "ksNormal: |value| bound would overflow the packed BIGINT sort key")
    val keyed = o.select(col("__id"), col("y"),
      (col("y") * lit(100000000L) + col("__id")).as("kskey"))
    val f = normCdfExpr(
      s"(CAST(y - $meanMilli AS DOUBLE) / CAST($sdMilli AS DOUBLE))")
    Scale.globalRowIndex(keyed, "kskey")
      .selectExpr(
        s"greatest(" +
          s"CAST(round(((CAST(global_index AS DOUBLE) / CAST($nn AS DOUBLE)) - $f) * 1e6) AS BIGINT), " +
          s"CAST(round(($f - (CAST(global_index - 1 AS DOUBLE) / CAST($nn AS DOUBLE))) * 1e6) AS BIGINT)) AS dd")
      .agg(max(col("dd")).as("d_micro"))
      .selectExpr(s"CAST($nn AS BIGINT) AS n", "d_micro")
  }

  // ---- the full-batch gradient loop (reference mllib/optimization/
  // GradientDescent.scala:215 runMiniBatchSGD: ONE loop over a pluggable
  // Gradient and Updater trains LogisticRegressionWithSGD, SVMWithSGD and
  // LassoWithSGD alike — per iteration one treeAggregate of per-row
  // gradients, then a driver weight update). Here the loop is
  // [[fullBatch]]; each family supplies only its one-step frame. --------

  /** A weight updater (reference optimization/Updater.scala): iteration t
    * (from 1), a quantized weight column and its gradient-sum column =>
    * the updated weight as one SQL expression, shared verbatim with the
    * oracle. */
  type Updater = (Int, String, String) => String

  /** `iters` steps from the 1-row state `init`; owns the materialization
    * policy every full-batch fit shares. The input is persisted with no
    * eager count (iteration 1's scan populates the cache). Each step's
    * 1-row state is localCheckpointed LAZILY: its single consumer is the
    * next step's broadcast, which materializes it inside its own job, so
    * a per-iteration eager action would be pure driver tax. Only the LAST
    * checkpoint is eager, materializing the whole chain through the
    * nested broadcasts in one action before the unpersist. This is safe
    * because every step frame references its state exactly once (the
    * state rides THROUGH the gradient aggregate as the max of a broadcast
    * constant); a second reference would race to materialize the same
    * lazy frame inside one job (the d18 pattern).
    *
    * eagerLast = false hands even the last pin to the caller
    * ([[oneVsRest]]: its class chains are independent lazy subtrees whose
    * broadcast cascades then materialize CONCURRENTLY under its one
    * models-union action; the inner persist is released unmaterialized,
    * so the chain's scans re-derive the label projection from the
    * caller's eagerly-populated feature cache — a narrow in-memory map). */
  private def fullBatch(feats: DataFrame, init: DataFrame, iters: Int,
                        eagerLast: Boolean = true)(
      step: (DataFrame, DataFrame, Int) => DataFrame): DataFrame = {
    val f = feats.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var w = init.localCheckpoint(false)
    for (t <- 1 to iters)
      w = step(f, w, t).localCheckpoint(eagerLast && t == iters)
    f.unpersist()
    w
  }

  /** The zero start (w0q..wdq) of the d-feature linear fits. */
  def zeroWeights(spark: org.apache.spark.sql.SparkSession, d: Int): DataFrame =
    spark.range(1).selectExpr((0 to d).map(i => s"CAST(0 AS BIGINT) AS w${i}q"): _*)

  /** The d-feature quantized margin w0q + Σ wiq·xi, left-folded with fixed
    * parenthesization — shared verbatim with the oracle. */
  def marginK(d: Int): String =
    (1 to d).map(i => s"(w${i}q * x$i)").foldLeft("w0q")((a, t) => s"($a + $t)")

  // ---- logistic regression (reference mllib/src/main/scala/org/apache/
  // spark/mllib/classification/LogisticRegression.scala:213, trained by
  // the GradientDescent loop above) ---------------------------------------

  /** Micro-probability of the positive class under quantized weights over
    * d features — the sigmoid formula string, shared VERBATIM between the
    * Spark plan and the oracle (both engines parse the identical text;
    * `exp` is the one libm call, and the 1e-6 quantization makes a
    * last-ulp engine difference visible only within ~1e-10 of a rounding
    * boundary — the s15 micro-nat ln precedent). Expects (w0q..wdq)
    * quantized 2^16-unit weights and BIGINT features x1..xd in scope. */
  def lrProbExprK(d: Int): String =
    s"CAST(round(1000000.0 / (1.0 + exp(-(CAST(${marginK(d)} AS DOUBLE) / 65536.0)))) AS BIGINT)"

  /** One weight's gradient-ascent update in quantized units — the mean
    * gradient (exact micro-integer sum / n) scaled by the constant step,
    * re-quantized. Shared verbatim with the oracle. */
  def lrUpdExpr(wq: String, g: String, lr: Double): String =
    s"$wq + CAST(round(($lr * ((CAST($g AS DOUBLE) / 1000000.0) / n)) * 65536.0) AS BIGINT)"

  /** The constant-step updater ([[lrUpdExpr]]). Deliberate deviations from
    * the reference, which the quantized fits all share: weights quantized
    * to 2^16 units after every update (all cross-partition sums are exact
    * integers; the one double expression per update has fixed
    * parenthesization, so DuckDB reproduces every weight bit-for-bit), and
    * a CONSTANT step instead of the reference's stepSize/sqrt(t) decay —
    * one fewer engine-shared libm term per iteration, and at full batch
    * (no stochastic noise to anneal) the decay buys nothing
    * ([[decayL2Step]] is the reference's form). */
  def constStep(lr: Double): Updater = (_, wq, g) => lrUpdExpr(wq, g, lr)

  /** One weight's DECAYED, L2-REGULARIZED ascent update — the
    * reference's two remaining GradientDescent knobs in one expression
    * (GradientDescent.scala:226 thisIterStepSize = stepSize/√iter;
    * Updater.scala:93 SquaredL2Updater w(1 − step·λ) − step·∇loss,
    * ascent form w + step·(ḡ − λ·w)): iteration t's step is a
    * DRIVER-COMPUTED double literal pinned CAST AS DOUBLE, so both
    * engines parse the identical value and the per-update arithmetic
    * stays one fixed-parenthesization double expression rounded once.
    * The intercept is regularized like the weights — the appendBias
    * path's behavior in the reference's simple-updater flow. */
  def lrUpdDecayL2Expr(wq: String, g: String, lr0: Double, t: Int,
                       lambda: Double): String = {
    val step = lr0 / math.sqrt(t.toDouble)
    s"$wq + CAST(round((CAST($step AS DOUBLE) * (((CAST($g AS DOUBLE) / 1000000.0) / n)" +
      s" - (CAST($lambda AS DOUBLE) * (CAST($wq AS DOUBLE) / 65536.0)))) * 65536.0) AS BIGINT)"
  }

  /** The √t-decayed, L2-regularized updater ([[lrUpdDecayL2Expr]]). */
  def decayL2Step(lr0: Double, lambda: Double): Updater =
    (t, wq, g) => lrUpdDecayL2Expr(wq, g, lr0, t, lambda)

  /** The logistic gradient aggregate: ONE scan of (x1..xd, yq) rows (yq
    * the micro-scaled 0/1e6 label) under the broadcast 1-row state `w`,
    * emitting n, the exact-integer gradient sums g0..gd (micro-unit
    * errors times integer features — map-side combined, bit-identical
    * under any partitioning) and every column of `w` carried through. */
  private def lrGradK(feats: DataFrame, w: DataFrame, d: Int): DataFrame = {
    val st = w.columns.toSeq
    feats.crossJoin(broadcast(w))
      .selectExpr(Seq(s"${lrProbExprK(d)} AS pq", "yq") ++
        (1 to d).map(i => s"x$i") ++ st: _*)
      .agg(count(lit(1)).as("n"),
        (sum(col("yq") - col("pq")).as("g0") +:
          (1 to d).map(i => sum((col("yq") - col("pq")) * col(s"x$i")).as(s"g$i"))) ++
          st.map(c => max(c).as(c)): _*)
  }

  /** ONE full-gradient step over `feats` from the 1-row (w0q..wdq) under
    * updater `upd` at iteration `t`: the family step of [[logisticFitK]]'s
    * batch loop and the streaming variant's per-micro-batch update
    * (reference mllib/classification/StreamingLogisticRegressionWithSGD
    * .scala:89 — trainOn re-runs algorithm.run per batch, i.e. a FULL
    * GradientDescent loop of numIterations (default 50) seeded from the
    * carried model; v12's one-step-per-batch form is a deliberate
    * thin-slice deviation — one oracle-gated update per batch). */
  def logisticStepK(feats: DataFrame, w: DataFrame, d: Int, upd: Updater,
                    t: Int = 1): DataFrame =
    lrGradK(feats, w, d).selectExpr(
      (0 to d).map(i => s"${upd(t, s"w${i}q", s"g$i")} AS w${i}q"): _*)

  /** runMiniBatchSGD's minibatch at fraction 1/`batches` (the reference's
    * actual stochastic path: optimization/GradientDescent.scala:177
    * `sample`s the fraction each iteration and :201 averages the gradient
    * over the SAMPLE's size, which n then is). Deterministic, declared:
    * iteration t keeps the hash residue class (h(id) + t − 1) mod
    * `batches` = 0 — ~1/batches of the rows, ROTATING so `batches`
    * consecutive iterations cover the corpus (the seeded Bernoulli sample
    * is exactly what the oracle gate cannot allow). Returns iteration t's
    * filter predicate. */
  def rotatingBatch(idCol: String, batches: Int): Int => String = t =>
    s"pmod(${Dedup.portableHash(s"cast($idCol as string)", "'sgd'")} + ${t - 1}, $batches) = 0"

  /** d-FEATURE binary logistic regression, y ~ sigmoid(w0 + Σ wi·xi)
    * (reference ml/classification/LogisticRegression fits arbitrary-width
    * vectors): `iters` gradient-ascent steps on the log likelihood over
    * (x1..xd, yq) rows, each ONE scan computing d + 1 exact gradient sums,
    * then a 1-row update projection under `upd`. `batch` restricts
    * iteration t's scan to the rows its predicate keeps
    * ([[rotatingBatch]]); without it every step is full batch
    * (miniBatchFraction = 1.0). Returns the 1-row (w0q..wdq). */
  def logisticFitK(feats: DataFrame, d: Int, iters: Int, upd: Updater,
                   batch: Option[Int => String] = None,
                   eagerLast: Boolean = true): DataFrame = {
    require(d >= 1 && d <= 16, s"logisticFitK: d = $d outside [1, 16]")
    fullBatch(feats, zeroWeights(feats.sparkSession, d), iters, eagerLast) { (f, w, t) =>
      logisticStepK(batch.fold(f)(b => f.filter(expr(b(t)))), w, d, upd, t)
    }
  }

  /** Score (idCol, x1..xd, yq) under d-feature logistic weights: emit
    * (idCol, label, p_micro, pred) — pred thresholds at p >= 0.5, exact on
    * the integer micro-probability. */
  def logisticPredictK(feats: DataFrame, weights: DataFrame, d: Int,
                       idCol: String): DataFrame =
    feats.crossJoin(broadcast(weights))
      .selectExpr(idCol, "CAST(yq DIV 1000000 AS BIGINT) AS label",
        s"${lrProbExprK(d)} AS p_micro")
      .withColumn("pred",
        expr("CAST(CASE WHEN p_micro >= 500000 THEN 1 ELSE 0 END AS BIGINT)"))

  // ---- MULTINOMIAL (softmax) logistic regression (reference
  // mllib/classification/LogisticRegression.scala:91: numClasses > 2
  // trains K−1 pivoted weight blocks — class 0 is the pivot — and
  // optimization/Gradient.scala:60 LogisticGradient's multinomial
  // branch computes exactly the p_k = e^{z_k}/(1 + Σ e^{z_j}) softmax
  // below; the s43 one-vs-rest row is the REDUCTION, this is the joint
  // model). House conventions: 2^16-quantized weights per block, micro
  // probabilities through ONE shared exp/denominator string, exact
  // integer gradient sums, constant step. ------------------------------

  private def smZ(k: Int): String =
    // least(·, 700) keeps exp finite for |z| beyond the IEEE overflow knee
    // (~709.78) — without it one wide margin turns the softmax into
    // Inf/Inf = NaN → null, unlike lrProbExprK's 1/(1+exp(−z)) which
    // saturates gracefully. Shared verbatim with the oracle, so both
    // engines clamp identically; a no-op at the gated magnitudes.
    s"least((CAST(((w0${k}q + (w1${k}q * x1)) + (w2${k}q * x2)) AS DOUBLE) / 65536.0), 700.0)"

  /** Class-k micro probability at K total classes (k ∈ 1..K−1; class 0
    * carries the remaining mass). */
  def smProbExprK(k: Int, kTot: Int): String = {
    val den = (1 until kTot).map(j => s"exp(${smZ(j)})")
      .reduce((a, b) => s"($a + $b)")
    s"CAST(round((exp(${smZ(k)}) / (1.0 + $den)) * 1000000.0) AS BIGINT)"
  }

  def softmaxInitK(spark: org.apache.spark.sql.SparkSession,
                   kTot: Int): DataFrame =
    spark.range(1).selectExpr(
      (for (k <- 1 until kTot; j <- 0 to 2) yield s"CAST(0 AS BIGINT) AS w$j${k}q"): _*)

  /** One full-batch softmax ascent step at K classes: 3·(K−1) exact
    * integer gradient sums Σ(1e6·[y = k] − p_k)·x_j in one scan, then the
    * shared [[lrUpdExpr]] per weight; the weights ride through the scan
    * and the aggregate. */
  private def softmaxStepK(feats: DataFrame, w: DataFrame, kTot: Int,
                           lr: Double): DataFrame = {
    val wCols = for (k <- 1 until kTot; j <- 0 to 2) yield s"w$j${k}q"
    val scored = feats.crossJoin(broadcast(w))
      .selectExpr(Seq("y", "x1", "x2") ++
        (1 until kTot).map(k => s"${smProbExprK(k, kTot)} AS pm$k") ++
        wCols: _*)
      .selectExpr(Seq("x1", "x2") ++
        (1 until kTot).map(k =>
          s"CAST(CASE WHEN y = $k THEN 1000000 ELSE 0 END AS BIGINT) - pm$k AS e$k") ++
        wCols: _*)
    val aggsTail =
      (for (k <- 1 until kTot; j <- 0 to 2) yield {
        val e = if (j == 0) sum(col(s"e$k"))
                else sum(col(s"e$k") * col(s"x$j"))
        e.as(s"g$j$k")
      }) ++ wCols.map(c => max(c).as(c))
    scored.agg(count(lit(1)).as("n"), aggsTail: _*)
      .selectExpr(
        (for (k <- 1 until kTot; j <- 0 to 2)
          yield s"${lrUpdExpr(s"w$j${k}q", s"g$j$k", lr)} AS w$j${k}q"): _*)
  }

  /** K-CLASS softmax regression over (x1, x2, y) (reference
    * LogisticRegression.scala:91 trains K−1 pivoted blocks for ANY
    * numClasses): `iters` [[softmaxStepK]]s on the batch loop. */
  def softmaxFitK(feats: DataFrame, kTot: Int, iters: Int = 6,
                  lr: Double = 1.0): DataFrame = {
    require(kTot >= 2 && kTot <= 10, s"softmaxFitK: K = $kTot outside [2, 10]")
    fullBatch(feats, softmaxInitK(feats.sparkSession, kTot), iters) { (f, w, _) =>
      softmaxStepK(f, w, kTot, lr)
    }
  }

  /** p0 as the exact complement of the block probabilities, floored at
    * 0: per-class rounding can push the K−1 block sum past 1e6 by up to
    * (K−1)/2 micro when the pivot class underflows, and the output
    * contract is a micro-probability. Shared verbatim with the oracle,
    * so the clamp is engine-identical. */
  def smP0ExprK(kTot: Int): String =
    "CAST(greatest(1000000 - " + (1 until kTot).map(k => s"p${k}_micro")
      .reduce((a, b) => s"($a + $b)") + ", 0) AS BIGINT) AS p0_micro"

  /** The argmax prediction with ties to the SMALLEST class: class k
    * wins on ≥ against larger classes and needs strict > against
    * smaller ones (which already had their chance). Shared with the
    * oracle. */
  def smArgmaxExprK(kTot: Int): String =
    "CAST(CASE " + (0 until kTot).map { k =>
      val beats = (0 until kTot).filter(_ != k).collect {
        case j if j > k => s"p${k}_micro >= p${j}_micro"
        case j if j < k => s"p${k}_micro > p${j}_micro"
      }
      if (k == kTot - 1) s"ELSE $k END AS BIGINT) AS pred"
      else s"WHEN ${beats.mkString(" AND ")} THEN $k"
    }.mkString(" ")

  /** Score under K−1 fitted blocks: micro p1..p_{K−1}, p0 the exact
    * complement, argmax prediction with ties to the SMALLEST class. */
  def softmaxPredictK(feats: DataFrame, weights: DataFrame, kTot: Int,
                      idCol: String): DataFrame = {
    val probs = (1 until kTot).map(k => s"p${k}_micro")
    feats.crossJoin(broadcast(weights))
      .selectExpr(Seq(idCol, "CAST(y AS BIGINT) AS label") ++
        (1 until kTot).map(k => s"${smProbExprK(k, kTot)} AS p${k}_micro"): _*)
      .selectExpr(Seq(idCol, "label") ++ probs :+ smP0ExprK(kTot): _*)
      .selectExpr(Seq(idCol, "label", "p0_micro") ++ probs :+ smArgmaxExprK(kTot): _*)
  }

  /** p0 as the UNclamped complement at K = 3, the form s87's gated
    * output carries (a nullable column; [[smP0ExprK]]'s floor at 0 makes
    * it non-nullable). Shared verbatim with the oracle. */
  val smP0Unclamped3: String =
    "CAST(1000000 - (p1_micro + p2_micro) AS BIGINT) AS p0_micro"

  /** Score rows under fitted K = 3 blocks with [[smP0Unclamped3]] —
    * s87's scoring, kept beside [[softmaxPredictK]] so its output schema
    * stays what it was; the argmax ties to the SMALLEST class (reference
    * :108's first-max scan order). */
  def softmaxPredict2(feats: DataFrame, weights: DataFrame,
                      idCol: String): DataFrame =
    feats.crossJoin(broadcast(weights))
      .selectExpr(idCol, "CAST(y AS BIGINT) AS label",
        s"${smProbExprK(1, 3)} AS p1_micro", s"${smProbExprK(2, 3)} AS p2_micro")
      .selectExpr(idCol, "label", "p1_micro", "p2_micro", smP0Unclamped3)
      .selectExpr(idCol, "label", "p0_micro", "p1_micro", "p2_micro",
        "CAST(CASE WHEN p0_micro >= p1_micro AND p0_micro >= p2_micro THEN 0" +
          " WHEN p1_micro >= p2_micro THEN 1 ELSE 2 END AS BIGINT) AS pred")

  // ---- L-BFGS (reference mllib/optimization/LBFGS.scala:40 — the
  // second registered optimizer next to GradientDescent; runLBFGS :169
  // delegates the direction to breeze's LBFGS over a CostFun computing
  // the same distributed gradient aggregate as s19's. Thin slice:
  // MEMORY m = 1 (the two-loop recursion :breeze collapses to one
  // (s, y) correction pair carried as six extra state columns), a FIXED
  // step in place of breeze's Wolfe line search (declared — the line
  // search is a driver-side scalar loop outside the oracle's reach),
  // and the s19 quantization conventions: weights and mean gradients
  // quantized to exact integers after every iteration, every two-loop
  // scalar ONE fixed-parenthesization double expression. The curvature
  // guard sᵀy > 0 (which Wolfe guarantees and a fixed step cannot)
  // falls back to the plain gradient step — iteration 1, with zero
  // history, takes that branch by construction. ------------------------

  /** The two-loop recursion as staged column batches over the 1-row
    * (n, g0..g2, w0q..w2q, pw0q..pw2q, pg0..pg2) frame: quantized mean
    * ascent gradient gm, minimization-land s/y/q doubles, the three inner
    * products, guarded alpha/h0, r, beta, and the final direction.
    * Applied as consecutive `SELECT *, expr AS col` layers — shared
    * verbatim with the oracle's nested mirror. */
  val lbfgsStages: Seq[Seq[(String, String)]] = {
    def sdot(a: Int => String, b: Int => String) =
      s"(((${a(0)} * ${b(0)}) + (${a(1)} * ${b(1)})) + (${a(2)} * ${b(2)}))"
    val sd = (i: Int) => s"s${i}d"; val yd = (i: Int) => s"y${i}d"
    val qd = (i: Int) => s"q${i}d"; val rr = (i: Int) => s"r$i"
    Seq(
      (0 to 2).map(i => s"gm$i" ->
        s"CAST(round(CAST(g$i AS DOUBLE) / n) AS BIGINT)"),
      (0 to 2).flatMap(i => Seq(
        s"s${i}d" -> s"(CAST(w${i}q - pw${i}q AS DOUBLE) / 65536.0)",
        s"y${i}d" -> s"(CAST(pg$i - gm$i AS DOUBLE) / 1000000.0)",
        s"q${i}d" -> s"(CAST(0 - gm$i AS DOUBLE) / 1000000.0)")),
      Seq("sy" -> sdot(sd, yd), "sq" -> sdot(sd, qd), "yy" -> sdot(yd, yd)),
      Seq("alpha" -> "(CASE WHEN sy > 0.0 THEN sq / sy ELSE 0.0 END)",
        "h0" -> "(CASE WHEN sy > 0.0 THEN sy / yy ELSE 0.0 END)"),
      (0 to 2).map(i => s"r$i" -> s"(h0 * (q${i}d - (alpha * y${i}d)))"),
      Seq("beta" -> s"(CASE WHEN sy > 0.0 THEN ${sdot(yd, rr)} / sy ELSE 0.0 END)"),
      (0 to 2).map(i => s"d$i" -> s"(0.0 - (r$i + (s${i}d * (alpha - beta))))"))
  }

  /** The post-two-loop state projection: the guarded update (L-BFGS
    * direction when curvature holds, the plain ascent step otherwise)
    * plus the carried (pw, pg) history. */
  def lbfgsUpdateExprs(step: Double, lr0: Double): Seq[(String, String)] =
    (0 to 2).flatMap { i =>
      Seq(
        s"w${i}q" -> (s"CASE WHEN sy > 0.0 THEN w${i}q + " +
          s"CAST(round(CAST($step AS DOUBLE) * (d$i * 65536.0)) AS BIGINT) " +
          s"ELSE w${i}q + CAST(round(CAST($lr0 AS DOUBLE) * " +
          s"((CAST(gm$i AS DOUBLE) / 1000000.0) * 65536.0)) AS BIGINT) END"),
        s"pw${i}q" -> s"w${i}q",
        s"pg$i" -> s"gm$i")
    }

  /** Zero state: weights, previous weights and previous gradient all
    * zero — iteration 1's s = y = 0 routes it to the gradient branch. */
  def lbfgsInit(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(1).selectExpr(
      (0 to 2).flatMap(i => Seq(s"CAST(0 AS BIGINT) AS w${i}q",
        s"CAST(0 AS BIGINT) AS pw${i}q", s"CAST(0 AS BIGINT) AS pg$i")): _*)

  /** ONE L-BFGS(m=1) iteration: the logistic gradient aggregate at the
    * current weights (the full 9-column state rides through it), then
    * the staged two-loop over the aggregate's own 1-row output. */
  def lbfgsStep(feats: DataFrame, state: DataFrame,
                step: Double = 0.5, lr0: Double = 1.0): DataFrame = {
    var cur = lrGradK(feats, state, 2)
    for (stage <- lbfgsStages)
      cur = cur.selectExpr(("*" +: stage.map { case (c, e) => s"$e AS $c" }): _*)
    cur.selectExpr(lbfgsUpdateExprs(step, lr0)
      .map { case (c, e) => s"$e AS $c" }: _*)
  }

  /** `iters` L-BFGS(m=1) iterations from zero state on the batch loop;
    * returns the 1-row (w0q, w1q, w2q) weight frame (history columns
    * dropped). */
  def lbfgsFit2(feats: DataFrame, iters: Int = 6,
                step: Double = 0.5, lr0: Double = 1.0): DataFrame =
    fullBatch(feats, lbfgsInit(feats.sparkSession), iters) { (f, st, _) =>
      lbfgsStep(f, st, step, lr0)
    }.select("w0q", "w1q", "w2q")

  // ---- multilayer perceptron, d inputs -> h sigmoid units -> 1 sigmoid
  // output (reference ml/ann/Layer.scala — AffineLayer :173 forward
  // x·W + b / :194 delta backprop W'·δ, FunctionalLayer sigmoid :528 +
  // its δ·f'(x) backprop; stacked by FeedForwardTopology :319
  // multiLayerPerceptron, which takes layers: Array[Int]; driven by
  // ml/classification/MultilayerPerceptronClassifier.scala:154 through
  // GradientDescent). DECLARED DEVIATIONS, the s19 conventions: per-unit
  // activations and per-row hidden deltas quantized to exact micro
  // integers (so every gradient sum is partitioning-independent), a
  // constant step, full batch, and a FIXED cyclic difference-detector
  // init in place of the reference's seeded random init — zero init would
  // leave the hidden units permanently identical, and randomness is
  // exactly what the oracle gate cannot allow. The layer formulas are
  // GENERATED per (d, h) (the s105 featPickExpr pattern applied to both
  // layers) and shared verbatim with the oracle; the training loop
  // [[mlpFitDh]] evaluates the same formulas on the JVM. ----------------

  /** Per-row hidden delta in micro units: δ_h = δ_o·v/2^16 · h'(a) with
    * h' = h(1−h) on the micro activation — one fixed double expression,
    * quantized so the hidden-gradient sums stay exact integers. */
  def mlpHidDeltaExpr(vq: String, h: String): String =
    s"CAST(round((CAST((dlt * $vq) AS DOUBLE) / 65536.0) * ((CAST($h AS DOUBLE) / 1000000.0) * (1.0 - (CAST($h AS DOUBLE) / 1000000.0)))) AS BIGINT)"

  /** The micro²-gradient update (output weights against micro hidden
    * activations): mean gradient = g/1e12/n, scaled by the constant
    * step, re-quantized — [[lrUpdExpr]] with the extra 1e6. */
  def mlpUpd12Expr(wq: String, g: String, lr: Double): String =
    s"$wq + CAST(round(($lr * ((CAST($g AS DOUBLE) / 1000000000000.0) / n)) * 65536.0) AS BIGINT)"

  /** Hidden unit j's weight columns (bias w_j0q, then w_jiq per input),
    * then the output weights v0q..vhq. */
  def mlpWeightColsDh(d: Int, h: Int): Seq[String] =
    (1 to h).flatMap(j => (0 to d).map(i => s"w$j${i}q")) ++
      (0 to h).map(j => s"v${j}q")

  /** Cyclic difference-detector init: unit j fires on
    * x_{jm} − x_{jm+1} (jm = ((j−1) mod d) + 1), output sums all units. */
  def mlpInitValsDh(d: Int, h: Int): Seq[Long] =
    (1 to h).flatMap { j =>
      val jm = ((j - 1) % d) + 1
      val neg = (jm % d) + 1
      0L +: (1 to d).map(i =>
        if (i == jm) 65536L else if (i == neg) -65536L else 0L)
    } ++ (0L +: Seq.fill(h)(65536L))

  /** Hidden unit j's micro sigmoid over its quantized weights and BIGINT
    * x1..xd — the [[lrProbExprK]] algebra, fold-left affine. */
  def mlpHiddenExprDh(j: Int, d: Int): String = {
    val aff = (1 to d).map(i => s"(w$j${i}q * x$i)")
      .foldLeft(s"w${j}0q")((a, t) => s"($a + $t)")
    s"CAST(round(1000000.0 / (1.0 + exp(-(CAST($aff AS DOUBLE) / 65536.0)))) AS BIGINT)"
  }

  /** Output-unit micro sigmoid over quantized v0q..vhq and the micro
    * hidden activations h1..hh: the affine term v0 + Σ v_j·h_j/1e6 is one
    * exact integer numerator, reduce-left over the h terms. */
  def mlpOutExprH(h: Int): String = {
    val inner = (1 to h).map(j => s"(v${j}q * h$j)").reduce((a, b) => s"($a + $b)")
    s"CAST(round(1000000.0 / (1.0 + exp(-(CAST(((v0q * 1000000) + $inner) AS DOUBLE) / 65536000000.0)))) AS BIGINT)"
  }

  /** Spark's `round(x)` on DOUBLE (`RoundBase`): HALF_UP through
    * `BigDecimal.valueOf`, NaN and ±∞ passed through. */
  private def sqlRound(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP).doubleValue

  /** ANSI `CAST(x AS BIGINT)` on DOUBLE: truncates toward zero, and fails
    * on NaN or outside the BIGINT range by the same comparison. */
  private def sqlLong(x: Double): Long =
    if (Math.floor(x) <= Long.MaxValue && Math.ceil(x) >= Long.MinValue) x.toLong
    else throw new ArithmeticException(s"CAST($x AS BIGINT) overflows")

  /** The forward pass of the packed row at offset `r` under weights `w`:
    * fills `hid` with the micro hidden activations h_1..h_h
    * ([[mlpHiddenExprDh]], fold-left affine) and returns the micro output
    * o ([[mlpOutExprH]], reduce-left). Training and scoring share it, and
    * each value is its SQL string's, operation for operation (see
    * [[mlpFitDh]]). */
  private def mlpForward(rows: Array[Long], r: Int, w: Array[Long], d: Int, h: Int,
                         hid: Array[Long]): Long = {
    import Math.{addExact, multiplyExact}
    val (width, v0) = (d + 1, h * (d + 1))
    var j = 0
    while (j < h) {
      var a = w(j * width)
      var i = 1
      while (i <= d) { a = addExact(a, multiplyExact(w(j * width + i), rows(r + i - 1))); i += 1 }
      hid(j) = sqlLong(sqlRound(1000000.0 / (1.0 + StrictMath.exp(-(a.toDouble / 65536.0)))))
      j += 1
    }
    var s = multiplyExact(w(v0 + 1), hid(0))
    j = 1
    while (j < h) { s = addExact(s, multiplyExact(w(v0 + 1 + j), hid(j))); j += 1 }
    sqlLong(sqlRound(1000000.0 / (1.0 + StrictMath.exp(
      -(addExact(multiplyExact(w(v0), 1000000L), s).toDouble / 65536000000.0)))))
  }

  /** Adds the gradient sums of one partition's packed rows (x1..xd, yq
    * first in each row of `stride` longs, see [[mlpPack]]) under weights
    * `w` into `acc`, whose layout is n, gv0..gvh, then g_j0..g_jd per
    * hidden unit j: the weight layout of [[mlpWeightColsDh]] shifted by
    * 2 + h, with v0q..vhq mapped to gv0..gvh. */
  private def mlpGradSums(acc: Array[Long], rows: Array[Long], w: Array[Long],
                          d: Int, h: Int, stride: Int): Array[Long] = {
    import Math.{addExact, multiplyExact}
    val (width, v0, g0) = (d + 1, h * (d + 1), 2 + h)
    val hid = new Array[Long](h)
    var r = 0
    while (r < rows.length) {
      val dlt = Math.subtractExact(rows(r + d), mlpForward(rows, r, w, d, h, hid))
      acc(0) = addExact(acc(0), 1L)
      acc(1) = addExact(acc(1), dlt)
      var j = 0
      while (j < h) {
        val hm = hid(j).toDouble / 1000000.0 // mlpHidDeltaExpr
        val dh = sqlLong(sqlRound(
          (multiplyExact(dlt, w(v0 + 1 + j)).toDouble / 65536.0) * (hm * (1.0 - hm))))
        acc(2 + j) = addExact(acc(2 + j), multiplyExact(dlt, hid(j)))
        val b = g0 + j * width
        acc(b) = addExact(acc(b), dh)
        var i = 1
        while (i <= d) { acc(b + i) = addExact(acc(b + i), multiplyExact(dh, rows(r + i - 1))); i += 1 }
        j += 1
      }
      r += stride
    }
    acc
  }

  /** The driver-side update from the sums of [[mlpGradSums]]:
    * [[lrUpdExpr]] for w_jiq and v0q, [[mlpUpd12Expr]] for v1q..vhq. */
  private def mlpUpdate(w: Array[Long], g: Array[Long], h: Int, lr: Double): Array[Long] = {
    val v0 = w.length - (h + 1)
    Array.tabulate(w.length) { k =>
      val (sum, scale) =
        if (k < v0) (g(2 + h + k), 1e6) else (g(1 + k - v0), if (k == v0) 1e6 else 1e12)
      Math.addExact(w(k),
        sqlLong(sqlRound((lr * ((sum.toDouble / scale) / g(0).toDouble)) * 65536.0)))
    }
  }

  /** Reads the BIGINT columns x1..xd and yq of `feats`, plus `idCol` when
    * given, once into a persisted RDD: one packed array of longs per
    * partition. A row is x1..xd, yq, and with an id column two more longs:
    * 1 if the id is non-null (else 0), then the id (0 when null). A
    * non-BIGINT column, or a null in x1..xd or yq, raises
    * IllegalArgumentException naming the column; `who` names the caller. */
  private def mlpPack(feats: DataFrame, d: Int, idCol: Option[String],
                      who: String): org.apache.spark.rdd.RDD[Array[Long]] = {
    val cols = (1 to d).map(i => s"x$i") :+ "yq"
    (cols ++ idCol).foreach(c => require(feats.schema(c).dataType == LongType,
      s"$who: column $c is ${feats.schema(c).dataType.sql}, not BIGINT"))
    val withId = idCol.isDefined
    feats.select((cols ++ idCol).map(col): _*).queryExecution.toRdd.mapPartitions { it =>
      val packed = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach { r =>
        for (k <- cols.indices) {
          if (r.isNullAt(k))
            throw new IllegalArgumentException(s"$who: column ${cols(k)} holds a null")
          packed += r.getLong(k)
        }
        if (withId) {
          val isNull = r.isNullAt(cols.length)
          packed += (if (isNull) 0L else 1L)
          packed += (if (isNull) 0L else r.getLong(cols.length))
        }
      }
      Iterator.single(packed.result())
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** `iters` steps from [[mlpInitValsDh]] over the packed `rows` (rows of
    * `stride` longs): each step is ONE `treeAggregate` of the
    * [[mlpGradSums]], then [[mlpUpdate]] on the driver. */
  private def mlpTrain(rows: org.apache.spark.rdd.RDD[Array[Long]], stride: Int,
                       d: Int, h: Int, iters: Int, lr: Double): Array[Long] =
    (1 to iters).foldLeft(mlpInitValsDh(d, h).toArray) { (w, _) =>
      val g = rows.treeAggregate(new Array[Long](2 + h + h * (d + 1)))(
        (acc, part) => mlpGradSums(acc, part, w, d, h, stride),
        (a, b) => { for (k <- a.indices) a(k) = Math.addExact(a(k), b(k)); a })
      // no rows: the SQL update is NULL, and there is no row to score
      if (g(0) == 0L) w else mlpUpdate(w, g, h, lr)
    }

  /** Runs `body` over the packed `rows`, then unpersists them. A task's
    * input or overflow error surfaces as itself, not as Spark's job-abort
    * wrapper. */
  private def mlpOver[T](rows: org.apache.spark.rdd.RDD[Array[Long]])(body: => T): T =
    try body
    catch {
      case e: org.apache.spark.SparkException
          if e.getCause.isInstanceOf[IllegalArgumentException] ||
            e.getCause.isInstanceOf[ArithmeticException] => throw e.getCause
    } finally rows.unpersist(blocking = false)

  private def mlpCheckSize(d: Int, h: Int, who: String): Unit =
    require(d >= 2 && d <= 4 && h >= 2 && h <= 4,
      s"$who: (d, h) = ($d, $h) outside [2, 4] x [2, 4]")

  /** Train `iters` full-batch backprop steps at (d, h) over the BIGINT
    * columns x1..xd and yq of `feats`; returns the fitted weights in
    * [[mlpWeightColsDh]] order, starting from [[mlpInitValsDh]].
    *
    * The rows are read once into a persisted RDD ([[mlpPack]] without an
    * id column). Each step is then ONE `treeAggregate` of the
    * 1 + (h+1) + h(d+1) exact sums — n, gv0..gvh and the g_ji — followed
    * by the weight update on the driver: the shape of the reference's
    * optimizers (mllib GradientDescent.runMiniBatchSGD runs one
    * treeAggregate per iteration over cached data). The loop runs outside
    * Catalyst because a step written as SQL is a planned, code-generated
    * and checkpointed query that AQE runs as several stage jobs, while the
    * work is one pass over the rows; a SQL step's fixed cost is most of a
    * small fit's time. `iters = 0` returns the init weights and reads no
    * row.
    *
    * The arithmetic repeats the SQL step's formula strings operation for
    * operation, so the weights are the ones those strings compute (the
    * DuckDB oracle runs them; MlpDhSpec compares against the SQL step in
    * Spark):
    *   - per row ([[mlpForward]]): h_j = [[mlpHiddenExprDh]] (fold-left
    *     affine), o = [[mlpOutExprH]] (reduce-left); then dlt = yq − o and
    *     dh_j = [[mlpHidDeltaExpr]];
    *   - sums: gv0 = Σ dlt, gv_j = Σ dlt·h_j, g_j0 = Σ dh_j,
    *     g_ji = Σ dh_j·x_i;
    *   - update: [[lrUpdExpr]] for w_jiq and v0q, [[mlpUpd12Expr]] for
    *     v_jq, `(lr * ((g / scale) / n)) * 65536.0` in that order.
    * BIGINT `+ − ×` and the sums use `Math.*Exact`, so they fail on
    * overflow as ANSI mode does. `exp` is `StrictMath.exp`, which Spark's
    * `Exp` calls; `round` and `CAST(double AS BIGINT)` are [[sqlRound]]
    * and [[sqlLong]]. The decimal literals of the strings (`1000000.0`,
    * `65536.0`, `lr` printed as text) are exact or widen back to the same
    * double.
    *
    * A null in x1..xd or yq raises IllegalArgumentException naming the
    * column (the SQL step would drop such a row from every sum but n). */
  def mlpFitDh(feats: DataFrame, d: Int, h: Int, iters: Int, lr: Double): Seq[Long] = {
    mlpCheckSize(d, h, "mlpFitDh")
    if (iters == 0) return mlpInitValsDh(d, h)
    val rows = mlpPack(feats, d, None, "mlpFitDh")
    mlpOver(rows)(mlpTrain(rows, d + 1, d, h, iters, lr).toSeq)
  }

  /** Train `iters` steps at (d, h) as [[mlpFitDh]] does, then score the
    * cohort — the rows whose BIGINT `idCol` is ≤ `cohort`; a null id
    * leaves it, as SQL's `idCol <= cohort` drops it, but its row still
    * trains. Emits (id, label, h1..hh, o_micro, pred) sorted by id, where
    * label = `CAST(yq DIV 1000000 AS BIGINT)`, h_j and o_micro are the
    * forward pass under the fitted weights ([[mlpHiddenExprDh]],
    * [[mlpOutExprH]]) and pred = `o_micro >= 500000` as 1/0.
    *
    * The rows, ids included, are packed once ([[mlpPack]]); the training
    * steps and then one more pass, one task per packed partition, run
    * over that cached copy, and scoring goes through the same
    * [[mlpForward]] as training.
    * The scored cohort is collected, sorted by id on the driver and
    * returned as a local relation, so the feature query is planned once
    * and an action on the result starts no Spark job. The schema is the
    * SQL scoring projection's (MlpDhSpec.sqlScore): the id field of
    * `feats.schema`, nullable BIGINT label, h1..hh and o_micro, and a
    * non-nullable BIGINT pred.
    *
    * A null in x1..xd or yq raises IllegalArgumentException at any
    * `iters`, as does a non-BIGINT column; an overflow while scoring
    * raises ArithmeticException like one while training. */
  def mlpFitPredictDh(feats: DataFrame, d: Int, h: Int, iters: Int,
                      lr: Double, idCol: String, cohort: Long): DataFrame = {
    mlpCheckSize(d, h, "mlpFitPredictDh")
    val rows = mlpPack(feats, d, Some(idCol), "mlpFitPredictDh")
    val (stride, width) = (d + 3, h + 4)
    val scored = mlpOver(rows) {
      val w = mlpTrain(rows, stride, d, h, iters, lr)
      rows.map { part =>
        val (hid, out) = (new Array[Long](h), new scala.collection.mutable.ArrayBuilder.ofLong)
        var r = 0
        while (r < part.length) {
          val id = part(r + d + 2)
          if (part(r + d + 1) == 1L && id <= cohort) {
            val o = mlpForward(part, r, w, d, h, hid)
            out += id
            out += part(r + d) / 1000000L
            out ++= hid
            out += o
            out += (if (o >= 500000L) 1L else 0L)
          }
          r += stride
        }
        out.result()
      }.collect()
    }
    import scala.jdk.CollectionConverters._
    val out = scored.iterator.flatMap(_.grouped(width)).toSeq.sortBy(_(0))
      .map(v => Row.fromSeq(v.toSeq))
    val schema = StructType(feats.schema(idCol) +:
      (("label" +: (1 to h).map(j => s"h$j") :+ "o_micro").map(StructField(_, LongType)) :+
        StructField("pred", LongType, nullable = false)))
    feats.sparkSession.createDataFrame(out.asJava, schema)
  }

  // ---- one-vs-rest multiclass reduction (reference ml/classification/
  // OneVsRest.scala:165 fit — one binary classifier per class against
  // the rest (:178 label = when(cls === index, 1.0) otherwise 0.0);
  // :108 transform keeps an accumulating raw-score column per model and
  // :131 predicts the argmax. The base classifier here is the s19
  // quantized logistic fit; argmax runs on the micro-probability
  // (sigmoid is monotone in the raw margin, so the winner matches the
  // reference's raw-score argmax except at quantized-probability TIES,
  // which are pinned to the smallest class — declared). -----------------

  /** OVR over (idCol, x1, x2, cls): one d = 2 [[logisticFitK]] per class on
    * the cls-vs-rest micro label (each fit re-reads the SAME persisted
    * projection — classes multiply scans, never shuffles), then ONE
    * broadcast scoring pass over the `cohort` keys. Emits
    * (id, cls, p0..p{k-1} micro scores, pred) — the full score vector is
    * gated, not just the winner. */
  def oneVsRest(feats: DataFrame, classes: Seq[Int], iters: Int,
                lr: Double, idCol: String, cohort: Long): DataFrame = {
    val f = feats.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    f.count()
    // eagerLast = false — the three class chains are independent lazy
    // subtrees, so THIS union checkpoint is the single action that
    // materializes all of them, and their broadcast cascades run
    // concurrently instead of one fit at a time
    val models = classes.map { c =>
      logisticFitK(f.selectExpr("x1", "x2",
          s"CAST(CASE WHEN cls = $c THEN 1000000 ELSE 0 END AS BIGINT) AS yq"),
        2, iters, constStep(lr), eagerLast = false)
        .selectExpr(s"CAST($c AS BIGINT) AS mcls", "w0q", "w1q", "w2q")
    }.reduce(_.unionByName(_)).localCheckpoint()
    val pivots = classes.map(c =>
      expr(s"max(CASE WHEN mcls = $c THEN p_micro END)").as(s"p$c"))
    val out = f.filter(col(idCol) <= cohort)
      .crossJoin(broadcast(models))
      .selectExpr(idCol, "cls", "mcls", s"${lrProbExprK(2)} AS p_micro")
      .groupBy(idCol, "cls")
      .agg(pivots.head,
        (pivots.tail :+
          expr("max(named_struct('p', p_micro, 'negc', -mcls))").as("m")): _*)
      .selectExpr(Seq(idCol, "cls") ++ classes.map(c => s"p$c") ++
        Seq("CAST(-m.negc AS BIGINT) AS pred"): _*)
      .orderBy(idCol)
    f.unpersist()
    out
  }

  // ---- decision tree (reference mllib/src/main/scala/org/apache/spark/
  // mllib/tree/DecisionTree.scala:624 findBestSplits aggregates per-node
  // per-feature-bin label histograms in ONE pass per level and argmaxes
  // the impurity gain — the identical shape below; impurity/Gini.scala:40
  // is the 1 - Σ p² this score maximizes the complement of) --------------

  /** Depth-2 binary classification tree over a (x1, x2, y) table
    * (BIGINT features, y ∈ {0, 1}), trained by per-level histogram
    * splits. Per level: ONE hash aggregate builds the (node, feature,
    * value) label histogram (map-side combined — the histogram, not the
    * data, is what shuffles, exactly DecisionTree.findBestSplits'
    * design), a prefix-sum window turns it into every candidate split
    * "feature <= value"'s left/right label counts, and the best split
    * per node maximizes the exact integer milli-unit Gini complement
    *   score = (lp² + (nl−lp)²)·1000 div nl + (rp² + (nr−rp)²)·1000 div nr
    * (minimizing weighted Gini impurity ≡ maximizing this sum — the
    * div-by-1000 quantization is the shared-oracle currency; ties break
    * to the smallest (feature, value)). Rows then route node → 2·node
    * (value <= threshold) or 2·node+1, and the next level repeats —
    * so leaf ids encode the root-to-leaf path. A node with no valid
    * split (single distinct value on both features) stays a leaf.
    *
    * Overflow headroom: count² · 1000 needs per-node counts below ~9.5e7
    * (orders up to sf~600); past that the score currency drops to
    * centi-units or DECIMAL — noted here because the histogram pass
    * itself is scale-free (its size is nodes × features × bins,
    * independent of row count).
    *
    * Returns (leaves, splits): leaves = (leaf, n, n_pos, pred) with the
    * majority label (exact ties predict 0), splits = (node, feat, thr,
    * score) for every internal node. */
  /** One `a·ln(a/n)` term, zero-safe (0·ln 0 = 0 — Entropy.scala:40's
    * guard). */
  private def plogp(a: String, n: String): String =
    s"(CASE WHEN $a = 0 THEN 0.0 ELSE CAST($a AS DOUBLE) * ln(CAST($a AS DOUBLE) / CAST($n AS DOUBLE)) END)"

  /** The entropy split score in milli-nats over the candidate columns
    * (lp, nl, tp, tn) — the NEGATED weighted child entropy
    * Σ_child Σ_class a·ln(a/n), so maximizing it minimizes information
    * (reference tree/impurity/Entropy.scala:40 -Σ p·log p; the milli-nat
    * quantization is the t13/s15 ln currency). No integer division
    * anywhere, so the string is shared verbatim — DIV/floor semantics
    * never enter. */
  val entropyScoreExpr: String = {
    val terms = Seq(plogp("lp", "nl"), plogp("(nl - lp)", "nl"),
      plogp("(tp - lp)", "(tn - nl)"),
      plogp("((tn - nl) - (tp - lp))", "(tn - nl)"))
    s"CAST(round(((${terms(0)} + ${terms(1)}) + (${terms(2)} + ${terms(3)})) * 1000.0) AS BIGINT)"
  }

  /** The variance-reduction split score over the candidate columns
    * (lp, nl, tp, tn) where lp/tp are SUMS of the (possibly signed)
    * target, not positive counts (reference tree/impurity/Variance
    * .scala:52 — impurity = (Σy² − (Σy)²/n)/n; Σy² is
    * split-invariant, so minimizing weighted child variance ≡
    * maximizing Σ_child (Σy)²/n — the same monotone abs-div currency
    * as [[gbtFit2]]'s: `(|sl| div nl)·|sl|` is engine-portable because
    * abs() keeps both operands non-negative, where Spark's DIV and
    * DuckDB's BIGINT `//` agree exactly (both truncate; DuckDB's
    * floor-vs-trunc caveat applies only to its DOUBLE `//` overload —
    * see queries/Scale.scala's x20 seam note). `div` is the engine's
    * integer division keyword (`DIV` Spark / `//` DuckDB). */
  def varianceScoreExpr(div: String): String =
    s"CAST((abs(lp) $div nl) * abs(lp) + (abs(tp - lp) $div (tn - nl)) * abs(tp - lp) AS BIGINT)"

  /** The shared per-level fit loop over (x1, x2, y, node) rows: one
    * (node, feature, value) histogram hash aggregate per level, the
    * prefix-sum candidate table, the per-node argmax under `scoreExpr`
    * (ties to the smallest (feat, val)), and the node → 2·node /
    * 2·node+1 routing. Returns (final routed rows, all chosen splits) —
    * the leaf aggregation is the caller's (majority label for
    * classification, mean target for regression).
    *
    * The candidate windows here are bounded by the DISTINCT feature
    * values, which is only scale-safe for bounded-domain features
    * (counts, residues, bin ids). Genuinely continuous features
    * (prices, scores) must pass through [[binnedFeatures]] first —
    * the reference's own maxBins design — which caps every window
    * below features·maxBins rows per node. */
  /** The per-feature value pick `CASE WHEN feat = 1 THEN x1 … ELSE xn
    * END` — generated so n = 2 reproduces the historical text exactly. */
  private def featPickExpr(nFeats: Int): String =
    "CASE " + (1 until nFeats).map(i => s"WHEN feat = $i THEN x$i").mkString(" ") +
      s" ELSE x$nFeats END"

  private def featStackExpr(nFeats: Int): String =
    s"stack($nFeats, " + (1 to nFeats).map(i => s"${i}L, x$i").mkString(", ") +
      ") AS (feat, val)"

  private def treeLevels(rows0: DataFrame, maxDepth: Int,
                         scoreExpr: String,
                         candFilter: Option[String] = None,
                         nFeats: Int = 2,
                         grp: Seq[String] = Nil): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // `grp` (r21): extra ensemble partition columns, e.g. Seq("tree") —
    // the forests fit every member in ONE level-synchronous pass (the
    // trees at a level are independent, so their histograms share each
    // level's aggregate/window/route actions instead of paying the
    // per-action driver tax once per member; the group key keeps the
    // per-tree candidate sets and argmaxes exactly disjoint, so each
    // member's fitted splits are value-identical to a solo fit).
    val nodeKey = grp :+ "node"
    var r = rows0.localCheckpoint()
    var allSplits: DataFrame = null
    for (lvl <- 1 to maxDepth) {
      val lf = r.selectExpr(nodeKey ++ Seq("y", featStackExpr(nFeats)): _*)
      val h = lf.groupBy(((nodeKey :+ "feat") :+ "val").map(col): _*)
        .agg(count(lit(1)).as("n"), sum("y").as("np"))
      val wCum = Window.partitionBy((nodeKey :+ "feat").map(col): _*).orderBy("val")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy((nodeKey :+ "feat").map(col): _*)
      val cand0 = h
        .withColumn("nl", sum("n").over(wCum)).withColumn("lp", sum("np").over(wCum))
        .withColumn("tn", sum("n").over(wTot)).withColumn("tp", sum("np").over(wTot))
        .filter(col("nl") > 0 && col("tn") - col("nl") > 0)
        .withColumn("score", expr(scoreExpr))
      // stopping criteria (reference DecisionTree.scala:736/:753): a
      // node whose EVERY candidate fails the filter gets no split row
      // and the route's left join leaves it a leaf
      val cand = candFilter.map(f => cand0.filter(expr(f))).getOrElse(cand0)
      val best = cand
        .withColumn("rn", row_number().over(
          Window.partitionBy(nodeKey.map(col): _*)
            .orderBy(col("score").desc, col("feat"), col("val"))))
        .filter(col("rn") === 1)
        .select(nodeKey.map(col) ++
          Seq(col("feat"), col("val").as("thr"), col("score")): _*)
        .localCheckpoint() // consumed by the route join AND the splits union
      allSplits = if (allSplits == null) best else allSplits.union(best)
      // r21: INTERMEDIATE routes checkpoint lazily — the next level's
      // eager best-checkpoint is their single consumer and materializes
      // them inside its own job (one action per level instead of two).
      // The LAST route stays eager: callers reference the returned frame
      // from several branches of one action (the forests' per-member
      // leaf broadcasts), which must read a pinned frame, not race to
      // materialize a lazy one.
      r = routeOneLevel(r, best.drop("score"), nFeats, grp)
        .localCheckpoint(lvl == maxDepth)
    }
    (r, allSplits)
  }

  /** The split-candidate stopping filter over the (nl, tn, tp, score)
    * candidate columns — reference DecisionTree.scala:736 (both
    * children must carry >= minInstancesPerNode rows) and :753 (the
    * split's gain must reach minInfoGain). Gain currency: the gini
    * score here is Σ_child (Σ_class count²)·1000/n_child, whose parent
    * analog is ((tp² + (tn−tp)²)·1000) div tn; the reference's
    * normalized gain g maps to (score − parent) ≥ round(1000·g)·tn —
    * pure integers, `minGainMilli` = milli-units of the impurity
    * decrease. GINI-specific (tp = positive counts); entropy/variance
    * callers keep the default no-filter path. */
  def treeCandFilterExpr(minInstances: Long, minGainMilli: Long,
                         div: String): String =
    s"(nl >= $minInstances AND (tn - nl) >= $minInstances AND " +
      s"(score - CAST((((tp * tp) + ((tn - tp) * (tn - tp))) * 1000) $div tn AS BIGINT))" +
      s" >= $minGainMilli * tn)"

  /** The binary gini split currency over the (nl, lp, tn, tp) candidate
    * columns — Σ_class count²·1000 DIV n per side (shared by the single
    * trees and the fused forests). */
  private val giniScoreExpr: String =
    "CAST((((lp * lp) + ((nl - lp) * (nl - lp))) * 1000) DIV nl" +
      " + ((((tp - lp) * (tp - lp)) + (((tn - nl) - (tp - lp)) * ((tn - nl) - (tp - lp)))) * 1000) DIV (tn - nl) AS BIGINT)"

  def decisionTree2(rows: DataFrame, maxDepth: Int = 2,
                    impurity: String = "gini",
                    minInstancesPerNode: Long = 1L,
                    minGainMilli: Long = 0L): (DataFrame, DataFrame) = {
    val scoreExpr =
      if (impurity == "entropy") entropyScoreExpr
      else giniScoreExpr
    val candFilter =
      if (minInstancesPerNode <= 1L && minGainMilli <= 0L) None
      else {
        require(impurity == "gini",
          "minInstancesPerNode/minGainMilli pruning is the gini leg; entropy keeps defaults")
        Some(treeCandFilterExpr(minInstancesPerNode, minGainMilli, "DIV"))
      }
    val (r, allSplits) = treeLevels(
      rows.select(col("x1"), col("x2"), col("y"), lit(1L).as("node")),
      maxDepth, scoreExpr, candFilter)
    val leaves = r.groupBy(col("node").as("leaf"))
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
      .withColumn("pred",
        expr("CAST(CASE WHEN 2 * n_pos > n THEN 1 ELSE 0 END AS BIGINT)"))
    (leaves, allSplits)
  }

  /** The d-FEATURE gini tree — the same level-synchronous machinery as
    * [[decisionTree2]] with the feature axis generalized (the reference
    * trains on arbitrary-width vectors; every other gated tree row runs
    * the historical 2-feature scaffolding, which this reproduces
    * byte-identically at nFeats = 2). The per-level histogram stacks
    * nFeats legs instead of two; every feature's thresholds compete in
    * the SAME per-node argmax (feat index tiebreak, the
    * findBestSplits convention). Input columns x1..x{nFeats}, y. */
  def decisionTreeK(rows: DataFrame, nFeats: Int,
                    maxDepth: Int = 2): (DataFrame, DataFrame) = {
    require(nFeats >= 2 && nFeats <= 16,
      s"decisionTreeK: nFeats $nFeats outside [2, 16]")
    val scoreExpr =
      "CAST((((lp * lp) + ((nl - lp) * (nl - lp))) * 1000) DIV nl" +
        " + ((((tp - lp) * (tp - lp)) + (((tn - nl) - (tp - lp)) * ((tn - nl) - (tp - lp)))) * 1000) DIV (tn - nl) AS BIGINT)"
    val (r, allSplits) = treeLevels(
      rows.select((1 to nFeats).map(i => col(s"x$i")) ++
        Seq(col("y"), lit(1L).as("node")): _*),
      maxDepth, scoreExpr, None, nFeats)
    val leaves = r.groupBy(col("node").as("leaf"))
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
      .withColumn("pred",
        expr("CAST(CASE WHEN 2 * n_pos > n THEN 1 ELSE 0 END AS BIGINT)"))
    (leaves, allSplits)
  }

  /** The categorical-feature REGRESSION tree — the other half of the
    * reference's centroid-ordering rule (DecisionTree.scala:966's
    * categorical branch orders by label centroid for BINARY
    * CLASSIFICATION AND REGRESSION; [[categoricalTree2]] is the former):
    * categories rank by mean TARGET through the same
    * [[centroidCategoryRanks]] (sy here is a milli-target sum — the
    * nano quotient compares means to 1e-9 of a milli-unit), the fit is
    * [[regressionTree2]] over the rank-encoded frame, and raw rows
    * route through the same IN-set CASE translation. Returns one row
    * per leaf: (leaf, n, sy, pred_milli, parent_feat, parent_cut). */
  def categoricalRegressionTree2(rows: DataFrame, catCol: String,
                                 x2Col: String, labelCol: String,
                                 maxDepth: Int = 2): DataFrame = {
    val base = rows.select(col(catCol).as("cat"), col(x2Col).as("x2"),
      col(labelCol).as("ym"))
    val ranks = centroidCategoryRanks(base, "cat", "ym")
    val enc = base.join(broadcast(ranks.select("cat", "crank")), "cat")
      .select(col("crank").as("x1"), col("x2"), col("ym"))
    val (_, splits) = regressionTree2(enc, maxDepth)
    val rk = ranks.select("cat", "crank").collect() // arity-bounded
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2)
    val sp = splits.select("node", "feat", "thr").collect() // nodes-bounded
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    def quote(s: String) = s"'${s.replace("'", "''")}'"
    def cond(feat: Long, thr: Long): String =
      if (feat == 1L) s"cat IN (${rk.filter(_._2 <= thr).map(t => quote(t._1)).mkString(", ")})"
      else s"x2 <= ${thr}L"
    var routed = base.withColumn("node", lit(1L))
    for (d <- 1 to maxDepth) {
      val level = sp.filter { case (n, _, _) =>
        n >= (1L << (d - 1)) && n < (1L << d) }
      if (level.nonEmpty) {
        val e = level.map { case (n, f, t) =>
          s"WHEN node = ${n}L THEN (CASE WHEN ${cond(f, t)}" +
            s" THEN node * 2 ELSE node * 2 + 1 END)"
        }.mkString("CASE ", " ", " ELSE node END")
        routed = routed.withColumn("node", expr(e))
      }
    }
    val spark = rows.sparkSession
    import spark.implicits._
    val cuts = sp.map { case (n, f, t) =>
      val cut =
        if (f == 1L) rk.filter(_._2 <= t).map(_._1).mkString(",")
        else t.toString
      (n, f, cut)
    }.toSeq.toDF("pnode", "parent_feat", "parent_cut")
    routed.groupBy(col("node").as("leaf"))
      .agg(count(lit(1)).as("n"), sum("ym").as("sy"))
      .withColumn("pred_milli",
        expr("CAST(round(CAST(sy AS DOUBLE) / n) AS BIGINT)"))
      .join(broadcast(cuts), expr("leaf DIV 2") === col("pnode"), "left")
      .selectExpr("leaf", "n", "sy", "pred_milli",
        "CAST(coalesce(parent_feat, 0) AS BIGINT) AS parent_feat",
        "coalesce(parent_cut, '-') AS parent_cut")
  }

  /** MULTICLASS tree over ONE unordered categorical feature — the
    * reference's SUBSET-enumeration branch (DecisionTree.scala:966
    * findSplitsBins: for multiclass classification an unordered
    * categorical feature gets all 2^(K−1)−1 subset splits as
    * candidates, because the binary/regression centroid-ordering trick
    * is NOT valid with >2 classes — no single ordering makes the
    * optimal subset a prefix; LearnSpec pins a fixture where the best
    * subset isolates the MIDDLE category of the label-mean order).
    *
    * Mechanics per level: two (node, feature-value, class) histograms
    * over the data — the only full-data passes, map-side combined —
    * then every evaluation runs over nodes × (K × subsets + distinct
    * x2) BOUNDED rows: the driver-enumerated membership table
    * (canonical half: subsets of the value-sorted categories excluding
    * the last one, sid = the bitmask over the first K−1) joins the cat
    * histogram, and the optional ORDERED feature `x2Col` contributes
    * prefix-threshold candidates from its own histogram — both kinds
    * compete in ONE argmax under the three-class gini currency
    * Σ_c count_c²·1000 DIV n, exactly the reference's findBestSplits
    * mixing categorical and continuous candidates per node. Argmax
    * ties: subsets before numeric, then the smaller key; routing is a
    * broadcast membership join (cat ∈ S_best → left) or the x2 ≤ thr
    * CASE. Labels y ∈ {0, 1, 2}; x2 must be bounded-domain (the
    * treeLevels contract). Returns (leaf, n, n0, n1, n2, pred,
    * parent_kind 1=subset/2=numeric, parent_cut). */
  /** The three-class gini split currency over (l0, l1, l2, t0, t1, t2,
    * nl, tn) candidate columns — Σ_c count_c²·1000 DIV n per side,
    * shared with the oracle (`div` = DIV / //). */
  def mc3ScoreExpr(div: String): String =
    s"CAST(((l0 * l0) + ((l1 * l1) + (l2 * l2))) * 1000 $div nl" +
      s" + (((t0 - l0) * (t0 - l0)) + (((t1 - l1) * (t1 - l1)) +" +
      s" ((t2 - l2) * (t2 - l2)))) * 1000 $div (tn - nl) AS BIGINT)"

  def multiclassCategoricalTree(rows: DataFrame, catCol: String,
                                labelCol: String,
                                maxDepth: Int = 2,
                                x2Col: String = ""): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val x2 = if (x2Col.isEmpty) lit(0L) else col(x2Col)
    val base = rows.select(col(catCol).as("cat"), x2.as("x2"),
      col(labelCol).as("y"))
    // fail-fast arity probe: 14 rows prove arity > 12 without pulling a
    // high-cardinality domain (e.g. a comment column) to the driver
    val probe = base.select("cat").distinct().limit(14).collect()
      .map(_.getString(0)).sorted
    require(probe.length >= 2 && probe.length <= 12,
      s"multiclassCategoricalTree: arity ${if (probe.length > 12) "> 12"
        else probe.length.toString} outside [2, 12] " +
        "(subset enumeration is 2^(K-1)-1 candidates)")
    val cats = probe // arity-bounded: the limit(14) saw the full domain
    val members = (1 until (1 << (cats.length - 1))).flatMap { sid =>
      cats.dropRight(1).zipWithIndex.collect {
        case (c, i) if (sid & (1 << i)) != 0 => (sid.toLong, c)
      }
    }.toDF("sid", "cat")
    val labels = members.collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getString(1)).sorted.mkString(",")).toMap
    val score = mc3ScoreExpr("DIV")
    var r = base.withColumn("node", lit(1L)).localCheckpoint()
    var allSplits: DataFrame = null
    for (_ <- 1 to maxDepth) {
      val h = r.groupBy("node", "cat").agg(
        sum(expr("CASE WHEN y = 0 THEN 1 ELSE 0 END")).as("c0"),
        sum(expr("CASE WHEN y = 1 THEN 1 ELSE 0 END")).as("c1"),
        sum(expr("CASE WHEN y = 2 THEN 1 ELSE 0 END")).as("c2"))
      val tot = h.groupBy("node").agg(
        sum("c0").as("t0"), sum("c1").as("t1"), sum("c2").as("t2"),
        sum(expr("c0 + (c1 + c2)")).as("tn"))
      // kind 1: unordered subset candidates (key = sid)
      val candCat = h.join(broadcast(members), "cat")
        .groupBy("node", "sid")
        .agg(sum("c0").as("l0"), sum("c1").as("l1"), sum("c2").as("l2"))
        .select(col("node"), lit(1L).as("kind"), col("sid").as("key"),
          col("l0"), col("l1"), col("l2"))
      // kind 2: ordered numeric-threshold candidates (key = x2 value;
      // the reference's findBestSplits evaluates BOTH feature types in
      // one argmax). Prefix window bounded by the node's DISTINCT x2
      // values — the treeLevels bounded-domain contract; a constant x2
      // (the single-feature mode) yields none (tn − nl > 0 fails).
      val wCum = Window.partitionBy("node").orderBy("x2")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val candNum = r.groupBy("node", "x2").agg(
          sum(expr("CASE WHEN y = 0 THEN 1 ELSE 0 END")).as("c0"),
          sum(expr("CASE WHEN y = 1 THEN 1 ELSE 0 END")).as("c1"),
          sum(expr("CASE WHEN y = 2 THEN 1 ELSE 0 END")).as("c2"))
        .select(col("node"), lit(2L).as("kind"), col("x2").as("key"),
          sum("c0").over(wCum).as("l0"), sum("c1").over(wCum).as("l1"),
          sum("c2").over(wCum).as("l2"))
      val cand = candCat.union(candNum)
        .join(tot, "node")
        .withColumn("nl", expr("l0 + (l1 + l2)"))
        .filter(col("nl") > 0 && col("tn") - col("nl") > 0)
        .withColumn("score", expr(score))
      // ties: higher score first, subsets before numeric, smaller key
      val best = cand
        .withColumn("rn", row_number().over(
          Window.partitionBy("node")
            .orderBy(col("score").desc, col("kind"), col("key"))))
        .filter(col("rn") === 1)
        .select(col("node"), col("kind"), col("key"), col("score"))
        .localCheckpoint() // nodes-bounded; feeds the route AND the union
      allSplits = if (allSplits == null) best else allSplits.union(best)
      val routeSet = best.filter(col("kind") === 1L)
        .join(broadcast(members), col("key") === col("sid"))
        .select(col("node"), col("cat"), lit(1L).as("inset"))
      // a node with NO valid candidate (single category AND constant
      // x2) keeps its id — the treeLevels leaf convention
      r = r.join(broadcast(best.select("node", "kind", "key")), Seq("node"), "left")
        .join(broadcast(routeSet), Seq("node", "cat"), "left")
        .withColumn("node", expr(
          "CASE WHEN kind IS NULL THEN node" +
            " WHEN kind = 1 THEN (CASE WHEN inset IS NOT NULL THEN node * 2 ELSE node * 2 + 1 END)" +
            " ELSE (CASE WHEN x2 <= key THEN node * 2 ELSE node * 2 + 1 END) END"))
        .drop("kind", "key", "inset")
        .localCheckpoint()
    }
    val labelOf = labels // stable reference for the closure below
    val cuts = allSplits.select("node", "kind", "key").collect()
      .map { r0 =>
        val (n, k, key) = (r0.getLong(0), r0.getLong(1), r0.getLong(2))
        (n, k, if (k == 1L) labelOf(key) else key.toString)
      }
      .toSeq.toDF("pnode", "parent_kind", "parent_cut")
    r.groupBy(col("node").as("leaf"))
      .agg(sum(expr("CASE WHEN y = 0 THEN 1 ELSE 0 END")).as("n0"),
        sum(expr("CASE WHEN y = 1 THEN 1 ELSE 0 END")).as("n1"),
        sum(expr("CASE WHEN y = 2 THEN 1 ELSE 0 END")).as("n2"))
      .selectExpr("leaf", "CAST(n0 + (n1 + n2) AS BIGINT) AS n",
        "CAST(n0 AS BIGINT) AS n0", "CAST(n1 AS BIGINT) AS n1",
        "CAST(n2 AS BIGINT) AS n2",
        "CAST(CASE WHEN n0 >= n1 AND n0 >= n2 THEN 0" +
          " WHEN n1 >= n2 THEN 1 ELSE 2 END AS BIGINT) AS pred")
      .join(broadcast(cuts), expr("leaf DIV 2") === col("pnode"), "left")
      .selectExpr("leaf", "n", "n0", "n1", "n2", "pred",
        "CAST(coalesce(parent_kind, 0) AS BIGINT) AS parent_kind",
        "coalesce(parent_cut, '-') AS parent_cut")
  }

  /** Depth-`maxDepth` REGRESSION tree over a (x1, x2, ym) table (BIGINT
    * features, milli-quantized BIGINT target) — reference
    * mllib/tree/DecisionTree.scala:248 trainRegressor with
    * impurity/Variance.scala:52 (impurity = (Σy² − (Σy)²/n)/n): the
    * identical findBestSplits per-level histogram machinery as
    * [[decisionTree2]], with the label-count histogram replaced by the
    * (count, Σtarget) sufficient statistics Variance.calculate consumes
    * and the split argmax under [[varianceScoreExpr]] (Σy² is
    * split-invariant, so it never needs aggregating — exactly why the
    * reference's VarianceAggregator carries it but the argmax cancels
    * it). Leaf predictions are the mean target (the reference's
    * ImpurityCalculator.predict = Σy/n), rounded ONCE from a double
    * division of exact integers.
    *
    * Overflow headroom: the score needs |mean| · |Σ child target| below
    * 2^63 — at milli quantization and targets under ~1e6 milli-units
    * that clears ~1e13 rows; past that the target currency drops to
    * centi-units.
    *
    * Returns (leaves, splits): leaves = (leaf, n, sy, pred_milli),
    * splits = (node, feat, thr, score) for every internal node. */
  def regressionTree2(rows: DataFrame, maxDepth: Int = 2): (DataFrame, DataFrame) = {
    val (r, allSplits) = treeLevels(
      rows.select(col("x1"), col("x2"), col("ym").as("y"), lit(1L).as("node")),
      maxDepth, varianceScoreExpr("DIV"))
    val leaves = r.groupBy(col("node").as("leaf"))
      .agg(count(lit(1)).as("n"), sum("y").as("sy"))
      .withColumn("pred_milli",
        expr("CAST(round(CAST(sy AS DOUBLE) / n) AS BIGINT)"))
    (leaves, allSplits)
  }

  /** One routing step: rows at `node` move to 2·node / 2·node+1 by their
    * node's split (broadcast — the split table is nodes-sized); nodes
    * without a split stay leaves. */
  private def routeOneLevel(rows: DataFrame, splits: DataFrame,
                            nFeats: Int = 2,
                            grp: Seq[String] = Nil): DataFrame =
    rows.join(broadcast(splits), grp :+ "node", "left")
      .withColumn("node", expr(
        "CASE WHEN thr IS NULL THEN node" +
          s" WHEN (${featPickExpr(nFeats)}) <= thr THEN node * 2" +
          " ELSE node * 2 + 1 END"))
      .drop("feat", "thr")

  /** Route arbitrary (x1, x2, ...) rows through a FITTED tree's split
    * table ([[decisionTree2]]'s second return — node ids are tree-coded,
    * so one table serves every level): adds the destination leaf as
    * `node`. Scoring rows may carry values outside the training range —
    * the <= threshold CASE handles them like any other. */
  def decisionTreeRoute(rows: DataFrame, splits: DataFrame,
                        maxDepth: Int = 2): DataFrame = {
    var r = rows.withColumn("node", lit(1L))
    for (_ <- 1 to maxDepth)
      r = routeOneLevel(r, splits.select("node", "feat", "thr"))
    r
  }

  /** Quantile split candidates for CONTINUOUS features — the
    * reference's maxBins binning (mllib/tree/DecisionTree.scala:966
    * findSplitsBins / :1000 findSplitsBinsBySorting: sample the input
    * so the per-feature sample is ~10000·maxBins rows, sort each
    * feature's sampled values in memory, take maxBins−1 evenly spaced
    * elements as the split thresholds). Deterministic replica: the
    * sample is a portable md5-hash residue class of `idCol`. The
    * default `sampleMod` = 0 AUTO-SIZES the residue class from one
    * cheap count so the per-feature sample is ≈ 10000·maxBins rows —
    * the reference's own fraction, now enforced rather than advisory
    * (the reference never exposes an unsampled path at all:
    * DecisionTree.scala:966+ always subsamples before the in-memory
    * sort). An explicit `sampleMod` ≥ 1 pins the class width instead
    * (1 keeps everything — exact mode, for inputs the CALLER knows are
    * small). The thresholds are the sample's per-feature
    * order statistics at ranks (cnt·b) DIV maxBins for b ∈
    * [1, maxBins), dedup'd — pure integer rank arithmetic, no
    * percentile interpolation seam. The rank window partitions by
    * feature over the SAMPLE, bounded by construction — the same
    * contract as the reference's in-memory sample sort; every
    * DOWNSTREAM tree window then runs over ≤ features·maxBins bins
    * regardless of the raw value cardinality.
    *
    * Input `lf`: (idCol, feat, val) BIGINT rows (one row per
    * row-feature pair, the [[treeLevels]] stack shape). Returns
    * (feat, thr) — at most maxBins−1 distinct thresholds per feature. */
  def quantileBinThresholds(lf: DataFrame, idCol: String, maxBins: Int,
                            sampleMod: Int = 0): DataFrame = {
    require(maxBins >= 2, s"maxBins must be >= 2, got $maxBins")
    require(sampleMod >= 0, s"sampleMod must be >= 0, got $sampleMod")
    import org.apache.spark.sql.expressions.Window
    val sm =
      if (sampleMod >= 1) sampleMod
      else {
        val s = lf.agg(count(lit(1)).as("n"),
          countDistinct(col("feat")).as("k")).head()
        val perFeat = s.getLong(0) / math.max(1L, s.getLong(1))
        val target = 10000L * maxBins
        math.min(Int.MaxValue.toLong,
          math.max(1L, (perFeat + target - 1) / target)).toInt
      }
    val samp = lf.filter(expr(
      s"${Dedup.portableHash(s"cast($idCol as string)", "'bin'")} % $sm = 0"))
    val cnt = samp.groupBy("feat").agg(count(lit(1)).as("cnt"))
    val pos = cnt
      .withColumn("b", explode(expr(s"sequence(1, ${maxBins - 1})")))
      .selectExpr("feat", s"CAST((cnt * b) DIV $maxBins AS BIGINT) AS rnk")
      .filter(col("rnk") >= 1).distinct()
    samp
      .withColumn("rnk", row_number().over(
        Window.partitionBy("feat").orderBy(col("val"), col(idCol))).cast("long"))
      .join(broadcast(pos), Seq("feat", "rnk"))
      .select(col("feat"), col("val").as("thr")).distinct()
  }

  /** Rows above every threshold land in the open top bin. 2^62 keeps
    * the routing CASEs' `<=` compares overflow-free. */
  val binSentinel: Long = 1L << 62

  /** Centroid ordering for an UNORDERED categorical feature — the
    * reference's ordered-categorical trick (mllib/tree/DecisionTree
    * .scala:966 findSplitsBins' categorical branch + Strategy.scala:77
    * categoricalFeaturesInfo): for binary classification / regression,
    * categories sort by their label centroid (mean label) and the tree
    * then splits on centroid-order PREFIXES — Breiman's result that the
    * optimal subset split is always a prefix of the centroid order, so
    * K−1 candidates cover all 2^(K−1)−1 subsets. Deterministic replica:
    * the centroid compares as the nano-quantized integer quotient
    * (sy·10⁹) DIV n with a category-value tiebreak (declared deviation:
    * the reference compares exact double centroids; two categories whose
    * means differ below 1e-9 order by value here — no cross-engine float
    * seam). The rank window is unpartitioned but runs over the per-
    * category aggregate — arity-bounded, the same in-memory budget as
    * the reference's centroid sort. Overflow headroom: the nano compare
    * needs |Σlabel| per category < 2^63/10⁹ ≈ 9.2e9 — binary labels
    * clear it to ~10⁹ rows per category, milli regression targets to
    * ~10⁶; past that, pre-scale the label (the compare only needs
    * ORDER, not units). Returns (cat, crank, n, sy), crank ∈ 1..K
    * ascending by centroid. */
  def centroidCategoryRanks(df: DataFrame, catCol: String,
                            labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.groupBy(col(catCol).as("cat"))
      .agg(count(lit(1)).as("n"), sum(labelCol).as("sy"))
      .withColumn("crank", row_number().over(
        Window.orderBy(expr("(sy * 1000000000) DIV n"), col("cat"))).cast("long"))
      .select("cat", "crank", "n", "sy")
  }

  /** Depth-`maxDepth` classification tree over (catCol STRING
    * unordered-categorical, x2 BIGINT ordered, y 0/1) — the reference's
    * categoricalFeaturesInfo leg: feature 1's candidates are centroid-
    * order prefixes from [[centroidCategoryRanks]] (subset splits, not
    * value-order cuts), feature 2 stays an ordered numeric. The fit
    * itself is [[decisionTree2]] over the rank-encoded frame — the
    * encode join broadcasts the arity-bounded rank table, so the
    * per-level histogram machinery (and its bins-bounded windows) is
    * reused unchanged. Scoring never re-encodes: fitted feat-1 splits
    * translate to membership sets (crank ≤ thr ⟺ cat ∈ prefix) and RAW
    * rows route through one codegen'd IN-set CASE per level — the split
    * tables are nodes-bounded, the rank table arity-bounded, both
    * collected like [[binnedFeatures]]' threshold CASE.
    *
    * Returns one row per leaf: (leaf, n, n_pos, pred, parent_feat,
    * parent_cut) where parent_cut is the parent's membership set as a
    * comma-joined centroid-ordered string for feat 1, the threshold
    * rendered as a string for feat 2, '-' for the root. */
  def categoricalTree2(rows: DataFrame, catCol: String, x2Col: String,
                       labelCol: String, maxDepth: Int = 2): DataFrame = {
    val base = rows.select(col(catCol).as("cat"), col(x2Col).as("x2"),
      col(labelCol).as("y"))
    val ranks = centroidCategoryRanks(base, "cat", "y")
    val enc = base.join(broadcast(ranks.select("cat", "crank")), "cat")
      .select(col("crank").as("x1"), col("x2"), col("y"))
    val (_, splits) = decisionTree2(enc, maxDepth)
    val rk = ranks.select("cat", "crank").collect() // arity-bounded
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2)
    val sp = splits.select("node", "feat", "thr").collect() // nodes-bounded
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    def quote(s: String) = s"'${s.replace("'", "''")}'"
    def cond(feat: Long, thr: Long): String =
      if (feat == 1L) s"cat IN (${rk.filter(_._2 <= thr).map(t => quote(t._1)).mkString(", ")})"
      else s"x2 <= ${thr}L"
    // one routing CASE per level over the RAW columns
    var routed = base.withColumn("node", lit(1L))
    for (d <- 1 to maxDepth) {
      val level = sp.filter { case (n, _, _) =>
        n >= (1L << (d - 1)) && n < (1L << d) }
      if (level.nonEmpty) {
        val e = level.map { case (n, f, t) =>
          s"WHEN node = ${n}L THEN (CASE WHEN ${cond(f, t)}" +
            s" THEN node * 2 ELSE node * 2 + 1 END)"
        }.mkString("CASE ", " ", " ELSE node END")
        routed = routed.withColumn("node", expr(e))
      }
    }
    val spark = rows.sparkSession
    import spark.implicits._
    val cuts = sp.map { case (n, f, t) =>
      val cut =
        if (f == 1L) rk.filter(_._2 <= t).map(_._1).mkString(",")
        else t.toString
      (n, f, cut)
    }.toSeq.toDF("pnode", "parent_feat", "parent_cut")
    routed.groupBy(col("node").as("leaf"))
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
      .withColumn("pred",
        expr("CAST(CASE WHEN 2 * n_pos > n THEN 1 ELSE 0 END AS BIGINT)"))
      .join(broadcast(cuts), expr("leaf DIV 2") === col("pnode"), "left")
      .selectExpr("leaf", "n", "n_pos", "pred",
        "CAST(coalesce(parent_feat, 0) AS BIGINT) AS parent_feat",
        "coalesce(parent_cut, '-') AS parent_cut")
  }

  /** Replace continuous feature columns with their quantile-bin UPPER
    * EDGES (the reference's Bin boundaries, DecisionTree.scala:1015):
    * each value maps to the smallest [[quantileBinThresholds]]
    * threshold ≥ it, else [[binSentinel]]. Because the edges are real
    * data values, a fitted split `val <= thr` routes RAW values
    * identically to binned ones — scoring needs no bin pass. The
    * threshold table is collected (bounded: features × maxBins exact
    * integers) and re-embedded as one codegen'd CASE per feature, so
    * binning adds zero joins to the per-level fit loop. */
  def binnedFeatures(rows: DataFrame, feats: Seq[String], idCol: String,
                     maxBins: Int, sampleMod: Int = 0): DataFrame = {
    val stack = feats.zipWithIndex
      .map { case (f, i) => s"${i + 1}L, $f" }.mkString(", ")
    val lf = rows.selectExpr(idCol,
      s"stack(${feats.size}, $stack) AS (feat, val)")
    val thr = quantileBinThresholds(lf, idCol, maxBins, sampleMod)
      .collect() // bounded: features x (maxBins - 1) rows
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    feats.zipWithIndex.foldLeft(rows) { case (df, (f, i)) =>
      val ts = thr.getOrElse((i + 1).toLong, Array.empty[Long])
      val e =
        if (ts.isEmpty) s"CAST($binSentinel AS BIGINT)"
        else ts.map(t => s"WHEN $f <= ${t}L THEN ${t}L")
          .mkString("CASE ", " ", s" ELSE CAST($binSentinel AS BIGINT) END")
      df.withColumn(f, expr(e))
    }
  }

  /** REGRESSION random forest (reference mllib/src/main/scala/org/
    * apache/spark/mllib/tree/RandomForest.scala:96 trainRegressor —
    * bagged variance-impurity trees; treeEnsembleModels average the
    * member predictions at scoring instead of voting). Same declared
    * deviations as [[randomForest2]] (deterministic
    * complement-of-residue-class bagging, featureSubsetStrategy
    * effectively "all" at two features); the members are
    * [[regressionTree2]]s and the majority vote becomes the rounded
    * mean of the `trees` exact-integer leaf means (ONE double division
    * at the end). Emits (idCol, y_milli, p0..p{trees−1}, pred_milli) —
    * every member's leaf constant rides the row, so each tree is gated,
    * not just the ensemble mean. */
  def randomForestReg2(train: DataFrame, score: DataFrame, idCol: String,
                       trees: Int = 3, maxDepth: Int = 2): DataFrame = {
    val t = train.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // fused ensemble fit (r21, guide §2.2/§2.6): all members train in one
    // level-synchronous pass over the tree-tagged union of their bagged
    // subsets — one histogram/route action per LEVEL instead of per
    // member level (the per-action driver tax was trees x levels x 2
    // eager checkpoints). Per-tree values identical: the `tree` group key
    // keeps every histogram, argmax and route exactly per-member.
    val tagged = (0 until trees).map(k =>
        t.filter(col(idCol) % trees =!= k)
          .select(lit(k.toLong).as("tree"), col("x1"), col("x2"),
            col("ym").as("y"), lit(1L).as("node")))
      .reduce(_.union(_))
      // coalesce back to the source granularity (see votedForest2)
      .coalesce(math.max(1, t.rdd.getNumPartitions))
    val (routed, splits) = treeLevels(tagged, maxDepth,
      varianceScoreExpr("DIV"), None, 2, Seq("tree"))
    // r21: eager pin — same rationale as votedForest2's (the per-member
    // broadcast legs reference this train-sized aggregate once per tree
    // inside one action; the pinned frame is trees x nodes rows)
    val leaves = routed.groupBy(col("tree"), col("node").as("leaf"))
      .agg(count(lit(1)).as("n"), sum("y").as("sy"))
      .withColumn("pred_milli",
        expr("CAST(round(CAST(sy AS DOUBLE) / n) AS BIGINT)"))
      .localCheckpoint()
    val perTree = (0 until trees).map { k =>
      decisionTreeRoute(score, splits.filter(col("tree") === k), maxDepth)
        .join(broadcast(leaves.filter(col("tree") === k)
          .select(col("leaf").as("node"), col("pred_milli"))), "node")
        .select(col(idCol), col("pred_milli").as(s"p$k"))
    }
    val sumExpr = (0 until trees).map(k => s"p$k").mkString(" + ")
    val out = perTree.reduce((a, b) => a.join(b, idCol))
      .join(score.select(col(idCol), col("ym").as("y_milli")), idCol)
      .selectExpr(Seq(idCol, "y_milli") ++ (0 until trees).map(k => s"p$k") :+
        s"CAST(round(CAST($sumExpr AS DOUBLE) / $trees) AS BIGINT) AS pred_milli": _*)
    t.unpersist()
    out
  }

  /** Random forest of depth-2 trees (reference
    * mllib/src/main/scala/org/apache/spark/mllib/tree/RandomForest.scala:
    * 70 — an ensemble of [[decisionTree2]]-style histogram trees over
    * bagged rows, majority vote at prediction). Deliberate deviations for
    * the cross-engine oracle, per the house rules: bagging is the
    * DETERMINISTIC complement-of-residue-class subset (tree t trains on
    * id % trees != t — each tree sees (trees-1)/trees of the data, every
    * row is left out of exactly one tree) instead of the reference's
    * seeded Poisson BaggedPoint resampling, and with two features the
    * per-split feature subsetting degenerates, so featureSubsetStrategy
    * is effectively "all" (a legal reference setting). Training cost is
    * `trees` histogram fits; scoring is `trees` broadcast route joins +
    * one vote projection — no per-row UDF anywhere. Returns
    * (idCol, label, votes, pred) with pred the strict majority (ties
    * impossible at odd `trees`). */
  def randomForest2(train: DataFrame, score: DataFrame, idCol: String,
                    trees: Int = 3, maxDepth: Int = 2): DataFrame =
    votedForest2(train, score, idCol, trees, maxDepth,
      tagged = t => (0 until trees).map(k =>
          t.filter(col(idCol) % trees =!= k)
            .select(lit(k.toLong).as("tree"), col("x1"), col("x2"),
              col("y"), lit(1L).as("node")))
        .reduce(_.union(_)))

  /** Shared fused-fit + vote body of [[randomForest2]] and
    * [[featureSubsetForest2]] (r21, guide §2.2/§2.6): all members train
    * in ONE level-synchronous pass over the tree-tagged union of their
    * bagged subsets — one histogram/route action per LEVEL instead of
    * per member level (the per-action driver tax was trees x levels x 2
    * eager checkpoints). Per-tree values identical to the solo fits: the
    * `tree` group key keeps every histogram, argmax and route exactly
    * per-member (LearnSpec pins the member split tables and votes). */
  private def votedForest2(train: DataFrame, score: DataFrame, idCol: String,
                           trees: Int, maxDepth: Int,
                           tagged: DataFrame => DataFrame): DataFrame = {
    val t = train.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the tagged union multiplies the partition count by `trees` while
    // carrying (trees-1)x one member's rows — coalesce (narrow, no
    // shuffle) back to the source frame's granularity so every per-level
    // stage schedules the same task count a solo fit had, at any scale
    val fused = tagged(t).coalesce(math.max(1, t.rdd.getNumPartitions))
    val (routed, splits) = treeLevels(fused, maxDepth,
      giniScoreExpr, None, 2, Seq("tree"))
    // r21: eager pin — the per-member broadcast legs below reference
    // this train-sized aggregate once per tree inside ONE action; the
    // pin computes it once (the frame itself is trees x nodes rows)
    val leaves = routed.groupBy(col("tree"), col("node").as("leaf"))
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
      .withColumn("pred",
        expr("CAST(CASE WHEN 2 * n_pos > n THEN 1 ELSE 0 END AS BIGINT)"))
      .localCheckpoint()
    val perTree = (0 until trees).map { k =>
      decisionTreeRoute(score, splits.filter(col("tree") === k), maxDepth)
        .join(broadcast(leaves.filter(col("tree") === k)
          .select(col("leaf").as("node"), col("pred"))), "node")
        .select(col(idCol), col("pred").as(s"p$k"))
    }
    val out = perTree.reduce((a, b) => a.join(b, idCol))
      .withColumn("votes", (0 until trees).map(k => col(s"p$k")).reduce(_ + _))
      .join(score.select(col(idCol), col("y").as("label")), idCol)
      .select(col(idCol), col("label"), col("votes"),
        expr(s"CAST(CASE WHEN 2 * votes > $trees THEN 1 ELSE 0 END AS BIGINT)").as("pred"))
    t.unpersist()
    out
  }

  /** Feature-subsampled forest — the reference's featureSubsetStrategy
    * (RandomForest.scala:121: classification "auto" resolves to "sqrt";
    * DecisionTreeMetadata computes numFeaturesPerNode and :158's
    * selectNodesToSplit draws the subset): at 2 features, √2 rounds to
    * ONE feature per tree. Deterministic ROTATION — tree t sees feature
    * (t % 2) + 1 — declared in place of the seeded draw (and per-TREE
    * rather than the reference's per-node granularity, also declared).
    * The restriction is enforced structurally: the excluded column is
    * zeroed for the fit, its now-constant histogram keeps no valid
    * split (tn − nl = 0 filters every candidate), so the fitted split
    * table provably never references it and RAW rows route unchanged
    * at scoring. Same complement-of-residue bagging + majority vote as
    * [[randomForest2]]. */
  def featureSubsetForest2(train: DataFrame, score: DataFrame, idCol: String,
                           trees: Int = 3, maxDepth: Int = 2): DataFrame =
    votedForest2(train, score, idCol, trees, maxDepth,
      tagged = t => (0 until trees).map { k =>
          // the per-tree structural zeroing (scaladoc above), applied in
          // the tagged select — same values as the solo withColumn
          val (x1e, x2e) =
            if (k % 2 == 0) (col("x1"), lit(0L).as("x2"))
            else (lit(0L).as("x1"), col("x2"))
          t.filter(col(idCol) % trees =!= k)
            .select(lit(k.toLong).as("tree"), x1e, x2e,
              col("y"), lit(1L).as("node"))
        }
        .reduce(_.union(_)))

  // ---- linear SVM (reference mllib/src/main/scala/org/apache/spark/
  // mllib/classification/SVM.scala:34 trains the same hinge-loss model
  // through GradientDescent with HingeGradient — optimization/
  // Gradient.scala:273 contributes -y·x exactly when y·(w·x) < 1, the
  // margin test below in quantized integer form) ------------------------

  /** One hinge subgradient component: a row contributes ys (times the
    * feature) iff its margin y·(w·x) is below 1 — in quantized units the
    * test is the EXACT INTEGER comparison ys·zq < 2^16, so the violator
    * set is engine-identical by construction (no doubles touch the
    * margin). `mult` is "" for the intercept, " * x1" … " * xd" for the
    * weights. */
  def svmGradTermK(d: Int, mult: String): String =
    s"CASE WHEN ys * ${marginK(d)} < 65536 THEN ys$mult ELSE 0 END"

  /** One weight's hinge-ascent update — mean violator gradient scaled by
    * the constant step, re-quantized; shared verbatim with the oracle. */
  def svmUpdExpr(wq: String, g: String, lr: Double): String =
    s"$wq + CAST(round(($lr * (CAST($g AS DOUBLE) / n)) * 65536.0) AS BIGINT)"

  /** [[svmUpdExpr]] under SquaredL2Updater (Updater.scala:93; the
    * reference's SVMWithSGD DEFAULTS to regParam 0.01 — SVM.scala:71 —
    * so the regularized path is its normal mode, closing s27's
    * regParam = 0 declared setting): ascent form
    * w + lr·(ḡ − λ·w), one fixed-parenthesization double, rounded
    * once. The intercept shares the shrinkage (the appendBias-path
    * behavior, as in [[lrUpdDecayL2Expr]]). */
  def svmUpdL2Expr(wq: String, g: String, lr: Double,
                   lambda: Double): String =
    s"$wq + CAST(round(($lr * ((CAST($g AS DOUBLE) / n)" +
      s" - (CAST($lambda AS DOUBLE) * (CAST($wq AS DOUBLE) / 65536.0)))) * 65536.0) AS BIGINT)"

  /** The constant-step hinge updater ([[svmUpdExpr]]: regParam = 0). */
  def svmStep(lr: Double): Updater = (_, wq, g) => svmUpdExpr(wq, g, lr)

  /** The L2-regularized hinge updater ([[svmUpdL2Expr]]). */
  def svmL2Step(lr: Double, lambda: Double): Updater =
    (_, wq, g) => svmUpdL2Expr(wq, g, lr, lambda)

  /** d-FEATURE linear SVM over (x1..xd, ys) with ys ∈ {-1, +1} (reference
    * SVMWithSGD fits arbitrary-width vectors): `iters` full-batch hinge
    * subgradient steps (miniBatchFraction = 1.0) on the batch loop, each
    * ONE scan computing d + 1 exact integer gradient sums over the
    * integer-exact violator set, then a 1-row update under `upd`
    * ([[svmStep]] or [[svmL2Step]]). Weights quantized to 2^16 units.
    * Callers should CENTER wide features (x - mean-ish offset): hinge GD
    * from zero oscillates on offset features exactly like logistic GD
    * does (measured: 52% vs 89% accuracy on the same s19-style data,
    * centered vs not). */
  def svmFitK(feats: DataFrame, d: Int, iters: Int, upd: Updater): DataFrame = {
    require(d >= 1 && d <= 16, s"svmFitK: d = $d outside [1, 16]")
    fullBatch(feats, zeroWeights(feats.sparkSession, d), iters) { (f, w, t) =>
      f.crossJoin(broadcast(w))
        .agg(count(lit(1)).as("n"),
          (sum(expr(svmGradTermK(d, ""))).as("g0") +:
            (1 to d).map(i => sum(expr(svmGradTermK(d, s" * x$i"))).as(s"g$i"))) ++
            (0 to d).map(i => max(s"w${i}q").as(s"w${i}q")): _*)
        .selectExpr(
          (0 to d).map(i => s"${upd(t, s"w${i}q", s"g$i")} AS w${i}q"): _*)
    }
  }

  /** Score (idCol, x1..xd, ys) under d-feature SVM weights: the quantized
    * decision value and the sign prediction — both exact integers. */
  def svmPredictK(feats: DataFrame, weights: DataFrame, d: Int,
                  idCol: String): DataFrame =
    feats.crossJoin(broadcast(weights))
      .selectExpr(idCol, "CAST(ys AS BIGINT) AS label",
        s"CAST(${marginK(d)} AS BIGINT) AS score_q",
        s"CAST(CASE WHEN ${marginK(d)} >= 0 THEN 1 ELSE -1 END AS BIGINT) AS pred")

  // ---- lasso / linear SGD (reference mllib/src/main/scala/org/apache/
  // spark/mllib/regression/Lasso.scala:88 trains squared loss through
  // GradientDescent with optimization/Updater.scala's L1Updater, whose
  // update IS the soft-threshold: shrink each weight toward zero by
  // stepSize·regParam and clamp at zero — the exact-integer form below) --

  /** Prediction in y-units under quantized linear weights: one rounded
    * double division, shared verbatim with the oracle. */
  val linPredExpr: String = s"CAST(round(CAST(${marginK(2)} AS DOUBLE) / 65536.0) AS BIGINT)"

  /** One weight's squared-loss gradient-descent update — mean residual
    * gradient (exact integer sum / n) scaled by the constant step,
    * re-quantized. Identical shape to [[svmUpdExpr]]. */
  def linUpdExpr(wq: String, g: String, lr: Double): String =
    s"$wq + CAST(round(($lr * (CAST($g AS DOUBLE) / n)) * 65536.0) AS BIGINT)"

  /** The quantized L1 shrinkage constant: round(lr·λ·2^16) — a LITERAL
    * in the shared formula strings (positive, so driver half-up equals
    * engine half-away rounding). */
  def lassoShrinkQ(lr: Double, lambda: Double): Long =
    math.round(lr * lambda * 65536.0)

  /** L1Updater's soft-threshold on one quantized weight: pure integer
    * sign/abs/greatest — no double ever touches the support decision, so
    * "which weights are exactly zero" is engine-identical by
    * construction. */
  def softThresholdExpr(wq: String, shrinkq: Long): String =
    s"(CASE WHEN $wq >= 0 THEN 1 ELSE -1 END) * greatest(CAST(0 AS BIGINT), abs($wq) - $shrinkq)"

  /** One full-batch squared-loss gradient step over (x1, x2, y) BIGINT
    * features from the 1-row weight frame — the family step of
    * [[elasticNetFit2]]'s batch loop and the streaming linear-regression
    * query (reference
    * regression/StreamingLinearRegressionWithSGD.scala:43, trained
    * through StreamingLinearAlgorithm.scala:88's trainOn — which runs a
    * full numIterations GradientDescent pass per batch seeded from the
    * carried model; the one-step-per-batch form is the same declared
    * thin-slice deviation as v12's). Residuals are exact integers (y
    * minus the rounded integer prediction), so the three gradient sums
    * are partitioning-independent. */
  def linearStep(feats: DataFrame, w: DataFrame, lr: Double): DataFrame = {
    // single-reference: the weights ride through the residual scan and
    // aggregate (max of a broadcast constant), as [[fullBatch]] requires
    feats.crossJoin(broadcast(w))
      .selectExpr(s"y - $linPredExpr AS r", "x1", "x2",
        "w0q", "w1q", "w2q")
      .agg(count(lit(1)).as("n"), sum("r").as("g0"),
        sum(col("r") * col("x1")).as("g1"),
        sum(col("r") * col("x2")).as("g2"),
        max("w0q").as("w0q"), max("w1q").as("w1q"), max("w2q").as("w2q"))
      .selectExpr(
        s"${linUpdExpr("w0q", "g0", lr)} AS w0q",
        s"${linUpdExpr("w1q", "g1", lr)} AS w1q",
        s"${linUpdExpr("w2q", "g2", lr)} AS w2q")
  }

  /** Lasso over (x1, x2, y): `iters` ISTA iterations — one [[linearStep]]
    * then the L1 soft-threshold on the two FEATURE weights (the intercept
    * is never penalized; deliberate deviation from the reference, whose
    * appendBias weight rides through L1Updater like any other — the s23
    * ridge convention, declared the same way). Per iteration ONE scan.
    * This is [[elasticNetFit2]] at α = 1, whose proximal step IS the
    * soft-threshold. */
  def lassoFit2(feats: DataFrame, iters: Int = 8, lr: Double = 0.002,
                lambda: Double = 20.0): DataFrame =
    elasticNetFit2(feats, iters, lr, lambda, alpha = 1.0)

  /** Elastic-net L2 divisor 1 + lr·λ·(1−α): the proximal operator of the
    * mixed penalty λ(α‖w‖₁ + (1−α)/2·‖w‖₂²) is soft-threshold by
    * lr·λ·α followed by division by this constant — a driver-computed
    * round-trip double literal in the shared formula strings. */
  def elasticL2Div(lr: Double, lambda: Double, alpha: Double): Double =
    1.0 + (lr * lambda * (1.0 - alpha))

  /** Elastic-net proximal step on one quantized weight (reference
    * ml/regression/LinearRegression.scala:113-114 setElasticNetParam —
    * the mixed L1+L2 penalty of 1.6 ml's flagship solver configuration,
    * here as the ISTA proximal form): α = 1 degenerates EXACTLY to the
    * lasso [[softThresholdExpr]] (the divisor branch disappears, not
    * just rounds); α = 0 leaves a pure L2 decay (shrinkq = 0 makes the
    * threshold the identity). The division is one rounded double over
    * the integer threshold output — round half-away in both engines. */
  def elasticStepExpr(wq: String, shrinkq: Long, l2div: Double): String =
    if (l2div == 1.0) softThresholdExpr(wq, shrinkq)
    else s"CAST(round(CAST((${softThresholdExpr(wq, shrinkq)}) AS DOUBLE) / CAST($l2div AS DOUBLE)) AS BIGINT)"

  /** Elastic-net regression over (x1, x2, y): ISTA on the batch loop, a
    * [[linearStep]] then the mixed proximal step — soft-threshold by lr·λ·α, then the
    * L2 shrink division; the intercept stays unpenalized (the s23/s33
    * convention, declared there). α = 1 is [[lassoFit2]];
    * α = 0 converges to [[ridgeFit2]]'s normal-equation solution with
    * the SAME λ (both minimize (1/n)Σr² + λ‖w‖₂² up to the shared
    * factor — spec-pinned). Per iteration ONE scan. */
  def elasticNetFit2(feats: DataFrame, iters: Int = 8, lr: Double = 0.002,
                     lambda: Double = 20.0, alpha: Double = 0.5): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"elasticNetFit2: alpha $alpha outside [0, 1]")
    val shrinkq = lassoShrinkQ(lr, lambda * alpha)
    val l2div = elasticL2Div(lr, lambda, alpha)
    fullBatch(feats, zeroWeights(feats.sparkSession, 2), iters) { (f, w, _) =>
      linearStep(f, w, lr).selectExpr(
        "w0q",
        s"${elasticStepExpr("w1q", shrinkq, l2div)} AS w1q",
        s"${elasticStepExpr("w2q", shrinkq, l2div)} AS w2q")
    }
  }

  /** Score (idCol, x1, x2, y) under fitted quantized linear weights. */
  def linPredict2(feats: DataFrame, weights: DataFrame, idCol: String): DataFrame =
    feats.crossJoin(broadcast(weights))
      .selectExpr(idCol, "y", s"$linPredExpr AS predq")

  // ---- Welch's t-test (reference mllib/src/main/scala/org/apache/spark/
  // mllib/stat/test/StreamingTestMethod.scala:78 — WelchTTest, the
  // unequal-variance two-sample test behind StreamingTest's default
  // "welch" method; :120 StudentTTest is the pooled variant) -------------

  /** (t_micro, df_micro) formula strings over the six exact integer
    * sufficient statistics (n1, s1, ss1, n2, s2, ss2): sample means,
    * n−1 sample variances, the Welch statistic and the
    * Welch–Satterthwaite degrees of freedom — every double cast and
    * parenthesis fixed, shared verbatim with the oracle; sqrt is the one
    * libm call (the s29 precedent). Σx² must be computed by the caller in
    * units where it fits BIGINT. */
  def welchExprs: Seq[(String, String)] = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    def m(i: Int) = s"(${d(s"s$i")} / ${d(s"n$i")})"
    def v(i: Int) =
      s"((${d(s"ss$i")} - ((${d(s"s$i")} * ${d(s"s$i")}) / ${d(s"n$i")})) / CAST(n$i - 1 AS DOUBLE))"
    def se(i: Int) = s"(${v(i)} / ${d(s"n$i")})"
    val sse = s"(${se(1)} + ${se(2)})"
    Seq(
      "t_micro" ->
        s"CAST(round(((${m(1)} - ${m(2)}) / sqrt($sse)) * 1000000.0) AS BIGINT)",
      "df_micro" ->
        s"CAST(round((($sse * $sse) / (((${se(1)} * ${se(1)}) / CAST(n1 - 1 AS DOUBLE)) + ((${se(2)} * ${se(2)}) / CAST(n2 - 1 AS DOUBLE)))) * 1000000.0) AS BIGINT)")
  }

  /** Student's pooled-variance variant (StreamingTestMethod.scala:120
    * StudentTTest): same means and n−1 variances, pooled
    * sp² = ((n1−1)v1 + (n2−1)v2)/(n1+n2−2), and the EXACT integer df
    * n1+n2−2. */
  def studentExprs: Seq[(String, String)] = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    def m(i: Int) = s"(${d(s"s$i")} / ${d(s"n$i")})"
    def v(i: Int) =
      s"((${d(s"ss$i")} - ((${d(s"s$i")} * ${d(s"s$i")}) / ${d(s"n$i")})) / CAST(n$i - 1 AS DOUBLE))"
    val sp2 = s"(((CAST(n1 - 1 AS DOUBLE) * ${v(1)}) + (CAST(n2 - 1 AS DOUBLE) * ${v(2)})) / CAST((n1 + n2) - 2 AS DOUBLE))"
    Seq(
      "t_micro" ->
        s"CAST(round(((${m(1)} - ${m(2)}) / sqrt($sp2 * ((1.0 / ${d("n1")}) + (1.0 / ${d("n2")})))) * 1000000.0) AS BIGINT)",
      "df" -> "CAST((n1 + n2) - 2 AS BIGINT)")
  }

  /** Welch's unequal-variance t-test between two groups of `valCol`
    * (BIGINT; caller pre-quantizes) selected by `groupCol` ∈ {g1, g2}:
    * ONE conditional-aggregate scan of six exact integer sums, then the
    * 1-row [[welchExprs]] projection. Returns
    * (n1, s1, ss1, n2, s2, ss2, t_micro, df_micro) — the raw sums ride
    * along so the oracle gates them directly, not just the statistics.
    * `method` = "welch" (default) or "student" — the reference's two
    * StreamingTestMethod registrations (:155). */
  def welchTTest(df: DataFrame, groupCol: String, g1: String, g2: String,
                 valCol: String, method: String = "welch"): DataFrame =
    welchStats(welchSums(df, groupCol, g1, g2, valCol), method)

  /** The six-sum conditional-aggregate scan alone — the additive
    * sufficient statistic both the batch test and the streaming test's
    * carried state build on. */
  def welchSums(df: DataFrame, groupCol: String, g1: String, g2: String,
                valCol: String): DataFrame = {
    def side(i: Int, g: String) = Seq(
      sum(when(col(groupCol) === g, 1L).otherwise(0L)).as(s"n$i"),
      sum(when(col(groupCol) === g, col(valCol)).otherwise(0L)).as(s"s$i"),
      sum(when(col(groupCol) === g, col(valCol) * col(valCol)).otherwise(0L)).as(s"ss$i"))
    val aggs = side(1, g1) ++ side(2, g2)
    df.filter(col(groupCol).isin(g1, g2))
      .agg(aggs.head, aggs.tail: _*)
  }

  private val welchSumCols = Seq("n1", "s1", "ss1", "n2", "s2", "ss2")

  /** The all-zero six-sum state frame (the streaming test's initial
    * model). */
  def welchZeroSums(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.sql("SELECT " +
      welchSumCols.map(c => s"CAST(0 AS BIGINT) AS $c").mkString(", "))

  /** Elementwise add of two six-sum frames — StatCounter.merge
    * (StreamingTest.scala:143 summarizeByKeyAndWindow reduces exactly
    * these accumulators across a batch window). */
  def welchAddSums(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .agg(welchSumCols.map(c => sum(c).as(c)).head,
        welchSumCols.tail.map(c => sum(col(c)).as(c)): _*)

  /** The statistics projection from a six-sum frame. */
  def welchStats(sums: DataFrame, method: String = "welch"): DataFrame = {
    val stats = if (method == "student") studentExprs else welchExprs
    sums.selectExpr(welchSumCols ++
      stats.map { case (name, e) => s"$e AS $name" }: _*)
  }

  // ---- kernel density estimation (reference mllib/stat/KernelDensity
  // .scala:83 estimate — density at each evaluation point is the mean
  // over samples of the Gaussian pdf N(point; sample, h), accumulated by
  // one aggregate (:92); normPdf at :105) --------------------------------

  /** One sample's pico-quantized (1e-12) Gaussian kernel contribution at
    * evaluation point `pt` — the direct exp(−u²/2)/(h·√2π) form with
    * fixed parenthesization, shared verbatim with the oracle. Quantizing
    * each CONTRIBUTION makes the per-point sum an exact integer, so the
    * estimate is partitioning-independent; the residual cross-engine
    * risk is one libm exp() ulp landing exactly on a .5 pico boundary
    * (~1e-8 per evaluation — the t13/ln acceptance, measured negligible). */
  def kernelPicoExpr(vm: String, pt: String, h: Double): String = {
    val u = s"((CAST($vm AS DOUBLE) - CAST($pt AS DOUBLE)) / $h)"
    s"CAST(round((exp(-0.5 * ($u * $u)) / ($h * sqrt(2.0 * pi()))) * 1000000000000.0) AS BIGINT)"
  }

  /** KDE over a BIGINT sample column at the literal `points`: one
    * |points|-way broadcast expansion + one hash aggregate — the
    * reference's aggregate((densities, count)) shape. Emits
    * (pt, n, sum_pico, density_pico) with the raw sum gated alongside
    * the floored mean. */
  def kernelDensity(df: DataFrame, valCol: String, h: Double,
                    points: Seq[Long]): DataFrame =
    df.selectExpr(s"$valCol AS vm",
        s"explode(array(${points.map(p => s"CAST($p AS BIGINT)").mkString(", ")})) AS pt")
      .selectExpr("pt", s"${kernelPicoExpr("vm", "pt", h)} AS k")
      .groupBy("pt")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_pico"))
      .selectExpr("pt", "n", "sum_pico",
        "CAST(sum_pico DIV n AS BIGINT) AS density_pico")
      .orderBy("pt")

  // ---- model selection (reference ml/tuning/CrossValidator.scala:89
  // fit: kFold splits → per (fold, paramMap) fit + evaluator metric →
  // metrics averaged per paramMap (:113 /= numFolds) → best params →
  // REFIT on the full dataset (:123); ml/tuning/ParamGridBuilder.scala
  // builds the grid; ml/evaluation/RegressionEvaluator.scala RMSE with
  // isLargerBetter = false, and CrossValidator.scala:118 picks by
  // min/max accordingly. ml/tuning/TrainValidationSplit.scala:80 is the
  // single-split variant of the same loop. DECLARED DEVIATION: folds are
  // the deterministic key % k partition, not MLUtils.kFold:267's seeded
  // random split — the standing oracle-gate convention (s25's bagging
  // complement, x11's deterministic sampling). --------------------------

  /** Per-fold sufficient statistics of the 2-feature ridge problem:
    * ONE scan, k rows of the nine exact integer sums. */
  def foldSums(feats: DataFrame, foldCol: String): DataFrame =
    feats.groupBy(col(foldCol).as("fold"))
      .agg(count(lit(1)).as("n"),
        sum("x1").as("s1"), sum("x2").as("s2"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum("y").as("sy"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"))

  private val nineSums = Seq("n", "s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y")

  /** Grid-search ridge with k-fold CV (or, with `tvsFold` set, the
    * TrainValidationSplit single-split variant scored on that fold
    * only). The entire grid costs ONE data scan for every fit — per-fold
    * train sums are (total − fold) arithmetic on k rows — plus ONE
    * scoring pass (feats ⋈ per-fold betas, |grid|-way expanded, one hash
    * aggregate). Per-fold RMSE is micro-quantized from exact (sse, n)
    * integers, averaged by integer DIV, min-by-(metric, λ) chosen, and
    * the winner REFIT on the full sums. Returns one row per λ:
    * (lambda_micro, avg_rmse_micro, chosen, b0_micro, b1_micro,
    * b2_micro) — the refit model constant on every row, so the gated
    * output carries grid, metric, selection, and final model at once. */
  def gridRidgeCv(feats: DataFrame, foldCol: String, k: Int,
                  lambdas: Seq[Double], tvsFold: Option[Int] = None): DataFrame = {
    // the data is touched exactly TWICE: once for the k-row fold sums,
    // once for the scoring join — everything else (train sums, betas,
    // averages, refit) is arithmetic on localCheckpointed k- and
    // grid-sized frames, so neither best.head() nor the caller's collect
    // re-runs a scan
    val f = feats.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    f.count()
    val fs = foldSums(f, foldCol).localCheckpoint()
    val tot = fs.agg(sum("n").as("n"), sum("s1").as("s1"), sum("s2").as("s2"),
      sum("s11").as("s11"), sum("s12").as("s12"), sum("s22").as("s22"),
      sum("sy").as("sy"), sum("s1y").as("s1y"), sum("s2y").as("s2y"))
      .localCheckpoint()
    // train-side sums per fold: total − fold (k rows)
    val train = fs.crossJoin(broadcast(tot.select(nineSums.map(c => col(c).as(s"t_$c")): _*)))
      .selectExpr(Seq("fold") ++ nineSums.map(c => s"t_$c - $c AS $c"): _*)
    // per (fold, lambda) betas: the ridge Cramer solve as a projection
    val betas = lambdas.map { lam =>
      train.selectExpr(Seq("fold", s"CAST(${math.round(lam * 1e6)} AS BIGINT) AS lambda_micro") ++
        ridgeBetaExprs(lam).map { case (name, e) => s"$e AS $name" }: _*)
    }.reduce(_.unionByName(_))
    val scoreFolds = tvsFold.map(fd => betas.filter(col("fold") === fd)).getOrElse(betas)
    // one scoring pass: residuals of each held-out fold under its betas
    val perFold = f.withColumnRenamed(foldCol, "fold")
      .join(broadcast(scoreFolds), "fold")
      .selectExpr("fold", "lambda_micro", s"y - $olsPredExpr AS r")
      .groupBy("fold", "lambda_micro")
      .agg(count(lit(1)).as("n"), sum(col("r") * col("r")).as("sse"))
      .selectExpr("fold", "lambda_micro",
        "CAST(round(sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS rmse_micro")
    val divisor = tvsFold.map(_ => 1).getOrElse(k)
    val avg = perFold.groupBy("lambda_micro")
      .agg(sum("rmse_micro").as("sum_rmse"))
      .selectExpr("lambda_micro", s"CAST(sum_rmse DIV $divisor AS BIGINT) AS avg_rmse_micro")
      .localCheckpoint()
    f.unpersist()
    val best = avg.orderBy(col("avg_rmse_micro").asc, col("lambda_micro").asc)
      .limit(1).head()
    val bestLam = lambdas.find(l => math.round(l * 1e6) == best.getLong(0)).get
    // refit on the FULL sums with the winning lambda (the reference's
    // est.fit(dataset, epm(bestIndex)))
    val refit = tot.selectExpr(
      ridgeBetaExprs(bestLam).map { case (name, e) =>
        s"CAST(round($e * 1000000.0) AS BIGINT) AS ${name}_micro"
      }: _*)
    avg.selectExpr("lambda_micro", "avg_rmse_micro",
        s"CAST(CASE WHEN lambda_micro = ${best.getLong(0)} THEN 1 ELSE 0 END AS BIGINT) AS chosen")
      .crossJoin(broadcast(refit))
      .orderBy("lambda_micro")
  }

  // ---- column summary statistics (reference mllib/stat/
  // MultivariateOnlineSummarizer.scala, surfaced as Statistics.colStats,
  // Statistics.scala:46): the reference streams Welford/nnz accumulators
  // and merges them treeAggregate-style; one hash aggregate of exact
  // integer sums IS that merge tree under Spark SQL's partial/final
  // split. Unweighted semantics: mean includes zeros (:182
  // currMean·nnz/weightSum = Σx/n), variance is the SAMPLE variance
  // (:206 — denominator n−1), max/min zero-clamping (:242) is a no-op on
  // dense columns like these. Caller pre-quantizes to exact integer
  // units; derived stats come back in milli-units of that. ------------

  /** Derived-stat formula strings over the seven exact per-column sums
    * (n, nnz, mn, mx, s, l1, ss) — shared verbatim with the oracle.
    * mean_milli uses the split identity 1000·(s div n) +
    * (1000·(s mod n)) div n (exact for the non-negative columns fed
    * here; never multiplies the full Σx — the s29 overflow lesson);
    * variance/L2 are fixed double expressions over exact integers. */
  def colStatsExprs: Seq[(String, String)] = Seq(
    "mean_milli" ->
      "CAST(((s DIV n) * 1000) + (((s % n) * 1000) DIV n) AS BIGINT)",
    "var_milli" ->
      ("CAST(round(((CAST(ss AS DOUBLE) - ((CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n AS DOUBLE))) " +
        "/ CAST(n - 1 AS DOUBLE)) * 1000.0) AS BIGINT)"),
    "l2_milli" -> "CAST(round(sqrt(CAST(ss AS DOUBLE)) * 1000.0) AS BIGINT)")

  /** colStats over pre-quantized BIGINT columns: `cols` maps output
    * column NAME -> SQL expression producing the exact integer value.
    * ONE scan: stack-unpivot to (c, x), then a per-column hash aggregate
    * of the seven sums (map-side combined — the summarizer's
    * treeAggregate shape), then the [[colStatsExprs]] projection. Emits
    * one row per column, raw sums riding along so the oracle gates the
    * accumulators themselves, not just the derived stats. */
  def colStats(df: DataFrame, cols: Seq[(String, String)]): DataFrame = {
    val stackArgs = cols.map { case (n, e) => s"'$n', CAST($e AS BIGINT)" }
      .mkString(", ")
    df.selectExpr(s"stack(${cols.size}, $stackArgs) AS (c, x)")
      .groupBy("c")
      .agg(count(lit(1)).as("n"),
        sum(when(col("x") =!= 0L, 1L).otherwise(0L)).as("nnz"),
        min("x").as("mn"), max("x").as("mx"),
        sum("x").as("s"), sum(abs(col("x"))).as("l1"),
        sum(col("x") * col("x")).as("ss"))
      .selectExpr(Seq("c", "n", "nnz", "mn", "mx", "s", "l1", "ss") ++
        colStatsExprs.map { case (name, e) => s"$e AS $name" }: _*)
  }

  /** One Pearson correlation in micro-units over exact integer sums
    * (reference mllib/stat/correlation/PearsonCorrelation.scala:73
    * computeCorrelationMatrixFromCovariance — covariance scaled by the
    * two stddevs; algebraically (n·Σxy − Σx·Σy) /
    * sqrt((n·Σxx − Σx²)(n·Σyy − Σy²)), one fixed double expression
    * here). Shared verbatim with the oracle. */
  def pearsonExpr(sx: String, sy: String, sxx: String, syy: String,
                  sxy: String): String = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val num = s"((${d("n")} * ${d(sxy)}) - (${d(sx)} * ${d(sy)}))"
    val vx = s"((${d("n")} * ${d(sxx)}) - (${d(sx)} * ${d(sx)}))"
    val vy = s"((${d("n")} * ${d(syy)}) - (${d(sy)} * ${d(sy)}))"
    s"CAST(round(($num / sqrt($vx * $vy)) * 1000000.0) AS BIGINT)"
  }

  /** One SAMPLE-covariance cell in micro-units from exact integer sums —
    * reference mllib/linalg/distributed/RowMatrix.scala:327
    * computeCovariance: Cov = (G − n·m·mᵀ)/(n−1) over the one-scan
    * Gramian, which over integer sums is exactly
    * (n·Σxy − Σx·Σy)/(n·(n−1)). One shared double formula (the
    * [[pearsonExpr]] convention): both engines consume identical exact
    * BIGINTs through the identical op tree, so the rounded micro value
    * cannot drift. */
  def covExpr(sx: String, sy: String, sxy: String): String = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val num = s"((${d("n")} * ${d(sxy)}) - (${d(sx)} * ${d(sy)}))"
    val den = s"(${d("n")} * (${d("n")} - 1.0))"
    s"CAST(round(($num / $den) * 1000000.0) AS BIGINT)"
  }

  // ---- chi-squared feature selection (reference mllib/src/main/scala/
  // org/apache/spark/mllib/feature/ChiSqSelector.scala:181 — fit at :192
  // runs Statistics.chiSqTest per feature and keeps the top-k by
  // statistic; the model REQUIRES the selected indices sorted ascending,
  // ChiSqSelectorModel.scala:44 — mirrored by the output ordering) ------

  /** One presence-cell chi² contribution in micro-units over columns
    * (o, pt, nl, nn): observed o against expected pt·nl/nn. Fixed
    * parenthesization, shared verbatim with the oracle. */
  private def chiCell(o: String, pt: String): String = {
    val e = s"((CAST($pt AS DOUBLE) * CAST(nl AS DOUBLE)) / CAST(nn AS DOUBLE))"
    s"CAST(round((((CAST($o AS DOUBLE) - $e) * (CAST($o AS DOUBLE) - $e)) / $e) * 1000000.0) AS BIGINT)"
  }

  /** The full per-(token, label) contribution: the PRESENT cell plus the
    * ABSENT cell, the latter guarded by the integer margin test (a token
    * present in every document has a zero absent margin — its absent
    * cells contribute 0 rather than 0/0). */
  val chiPairExpr: String = {
    val present = chiCell("o", "pt")
    val absent = chiCell("(nl - o)", "(nn - pt)")
    s"($present + (CASE WHEN nn - pt = 0 THEN 0 ELSE $absent END))"
  }

  /** Top-`k` tokens of `textCol` by chi-squared dependence on `labelCol`
    * — ChiSqSelector re-expressed relationally over DOCUMENT PRESENCE
    * (each 2×L contingency: token present/absent × label):
    *   1. one row-linear explode + distinct for per-document presence;
    *   2. vocabulary-bounded count aggregates (per token-label, per
    *      label, per token) — the margins;
    *   3. the dense token × label grid (present counts left-joined so
    *      zero-observed cells still contribute their expected mass);
    *   4. per-cell contributions quantized to micro FIRST, summed as
    *      exact integers (the s34 double-floor convention: within 2L
    *      micro-units of the unquantized statistic, deterministic);
    *   5. top-k by (chi2 desc, token asc), RE-SORTED ascending — the
    *      model contract above.
    * Returns k rows (tok, chi2_micro). */
  def chiSqSelect(docs: DataFrame, idCol: String, textCol: String,
                  labelCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pres = docs.select(col(idCol).as("id"), col(labelCol).as("lab"),
        explode(split(col(textCol), " ")).as("tok"))
      .distinct()
    val ctl = pres.groupBy("tok", "lab").agg(count(lit(1)).as("o"))
    val nl = docs.groupBy(col(labelCol).as("lab")).agg(count(lit(1)).as("nl"))
    val nn = docs.agg(count(lit(1)).as("nn"))
    val pt = ctl.groupBy("tok").agg(sum("o").as("pt"))
    val grid = pt.crossJoin(broadcast(nl)).crossJoin(broadcast(nn))
      .join(ctl, Seq("tok", "lab"), "left")
      .na.fill(0L, Seq("o"))
    val chi = grid.selectExpr("tok", s"$chiPairExpr AS cell_micro")
      .groupBy("tok").agg(sum("cell_micro").as("chi2_micro"))
    // top-k via orderBy+limit (TakeOrderedAndProject: per-partition top-k
    // then a bounded merge), NOT a global-window rank — the rank window
    // would funnel the whole vocabulary through one partition
    chi.orderBy(col("chi2_micro").desc, col("tok")).limit(k)
      .select("tok", "chi2_micro")
  }

  // ---- word2vec (reference mllib/feature/Word2Vec.scala:41 — skip-gram
  // over a minCount-pruned vocabulary (learnVocab :139, the vocabulary
  // bound that keeps the model size corpus-independent), window'd
  // center/context pairs (:320), sigmoid gradient steps on
  // dot(center, context) (:340-360 with the precomputed expTable :120);
  // `vectorSize` is the model's headline parameter, default 100, here
  // the `dims` axis with 2 ≤ dims ≤ 4). DECLARED DEVIATIONS, the s19/s44
  // conventions plus two structural ones: (1) the OBJECTIVE is Mikolov
  // et al.'s negative-sampling variant (one deterministic rank-hash
  // negative per pair) instead of the reference's hierarchical softmax —
  // a Huffman path is a per-word variable-length traversal no oracle can
  // unroll generically, while the NS form is two sigmoid terms per pair;
  // (2) ONE full-batch step from a deterministic ascii-hash init (the
  // reference seeds per-word XORShift randoms, :291), every gradient
  // sum an exact micro×quant integer and the sigmoid/update each one
  // shared fixed-parenthesization double expression. The component
  // loops (init residue mixes, fold-left dot products, per-component
  // gradient sums) are generated from `dims`. -------------------------

  /** Sigmoid of a quantized dot product in micro-units: `dot` is in
    * Q² = 2^32 units. Shared verbatim with the oracle. */
  def w2vSigmoidExpr(dot: String): String =
    s"CAST(round(1000000.0 / (1.0 + exp(-(CAST($dot AS DOUBLE) / 4294967296.0)))) AS BIGINT)"

  /** One vector component's update from its summed micro×quant gradient
    * (word2vec updates by the SUM over a word's pairs, not the mean).
    * The step literal is CAST through DOUBLE explicitly — both engines
    * parse bare decimal literals as DECIMAL, and only the cast pins the
    * identical nearest-double on each side. */
  def w2vUpdExpr(wq: String, g: String, lr: Double): String =
    s"$wq + CAST(round(CAST($lr AS DOUBLE) * (CAST($g AS DOUBLE) / 1000000.0)) AS BIGINT)"

  /** Deterministic token hash for the init — first/last char codes and
    * length (the s10 HashingTF recipe, middle char dropped); expects a
    * `tok` column. */
  val w2vHashExpr: String =
    "((ascii(substring(tok, 1, 1)) * 97) + " +
      "(ascii(substring(tok, length(tok), 1)) * 31) + (length(tok) * 7))"

  /** Per-component init residue mixes: component 1 of each side is the
    * positive popularity direction, components ≥ 2 sign-diverse spreads
    * on side-distinct coprime moduli (the ALS sign-diverse recipe, with
    * different residue mixes per side). */
  def w2vInitExprsD(dims: Int): Seq[(String, String)] = {
    require(dims >= 2 && dims <= 4, s"w2vInitExprsD: dims $dims outside [2, 4]")
    val uMods = Vector(7, 5, 3, 11)
    val vMods = Vector(5, 7, 11, 3)
    def side(prefix: String, mods: Vector[Int]): Seq[(String, String)] =
      (1 to dims).map { i =>
        if (i == 1) s"${prefix}1q" -> s"CAST(65536 + ((h % ${mods(0)}) * 8192) AS BIGINT)"
        else {
          val m = mods(i - 1)
          s"$prefix${i}q" -> s"CAST(((h % $m) - ${(m - 1) / 2}) * 16384 AS BIGINT)"
        }
      }
    side("u", uMods) ++ side("v", vMods)
  }

  private def w2vDot(a: Seq[String], b: Seq[String]): String =
    a.zip(b).map { case (x, y) => s"($x * $y)" }.reduce((p, q) => s"$p + $q")

  /** Skip-gram word2vec with `dims` vector components over (`idCol`,
    * `textCol`): top-`vocabN` tokens by (count desc, token) form the
    * vocabulary (minCount's bounded-model analog — everything downstream
    * is vocabulary-bounded except the row-linear pair extraction);
    * center/context pairs within ±`window` positions over the
    * VOCAB-FILTERED sequence (the reference drops OOV words before
    * building sentences, Word2Vec.scala:300); per pair one positive
    * sigmoid term and one deterministic negative (vocab rank (r_center +
    * 7·r_context + 3) mod V). One full-batch step, then the joined
    * in/out vectors for the top-`topK` ranks: (tok, rnk, u1q..u{dims}q,
    * v1q..v{dims}q). */
  def word2vecD(docs: DataFrame, idCol: String, textCol: String,
                vocabN: Int = 30, window: Int = 2, lr: Double = 0.025,
                topK: Int = 20, dims: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ds = 1 to dims
    val toks = docs.select(col(idCol).as("did"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 0)
    // top-vocabN via orderBy+limit (TakeOrderedAndProject: per-partition
    // top-k then a bounded merge — never a single-partition sort over
    // the full distinct-token table); the rank window then runs over
    // vocabN rows only
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(vocabN)
      .select(col("tok"), (row_number().over(
        Window.orderBy(col("c").desc, col("tok"))) - 1).cast("long").as("r"))
      .localCheckpoint() // vocabN rows — broadcast-small by construction
    // actual vocabulary size (== vocabN unless the corpus has fewer
    // distinct tokens) — the negative-rank residue must stay inside the
    // REAL rank range or the negative join would silently drop pairs.
    // Bounded driver action: vocab is <= vocabN rows.
    val vsize = vocab.count()
    // positions are RE-RANKED over the vocab-filtered sequence: the
    // reference (Word2Vec.scala:300-310) drops non-vocab words before
    // building sentences, so context windows span the filtered tokens —
    // an out-of-vocabulary token must not consume a window slot. The
    // window is per-document (bounded by doc length), and posexplode's
    // pos is unique per doc, so the rank is deterministic.
    val wt = toks.join(broadcast(vocab), "tok")
      .select(col("did"), col("tok"), col("r"),
        row_number().over(Window.partitionBy("did").orderBy("pos"))
          .cast("long").as("pos"))
    val pairs = wt.as("a").join(wt.as("b"),
        col("a.did") === col("b.did") &&
          col("b.pos") >= col("a.pos") - window &&
          col("b.pos") <= col("a.pos") + window &&
          col("b.pos") =!= col("a.pos"))
      .select(col("a.tok").as("cw"), col("a.r").as("rc"),
        col("b.tok").as("ct"), col("b.r").as("rx"))
      .withColumn("rn", (col("rc") + (col("rx") * 7) + 3) % vsize)
    val init = vocab.selectExpr("tok", "r", s"$w2vHashExpr AS h")
      .selectExpr(Seq("tok", "r") ++
        w2vInitExprsD(dims).map { case (c, e) => s"$e AS $c" }: _*)
      .localCheckpoint()
    val us = ds.map(i => s"u${i}q")
    val scored = pairs
      .join(broadcast(init.select(col("tok").as("cw") +: ds.map(i => col(s"u${i}q")): _*)), "cw")
      .join(broadcast(init.select(col("tok").as("ct") +:
        ds.map(i => col(s"v${i}q").as(s"p${i}q")): _*)), "ct")
      .join(broadcast(init.select(col("r").as("rn") +:
        ds.map(i => col(s"v${i}q").as(s"n${i}q")): _*)), "rn")
      .selectExpr(Seq("cw", "ct", "rn") ++ us ++ ds.map(i => s"p${i}q") ++
        ds.map(i => s"n${i}q") ++ Seq(
        s"${w2vSigmoidExpr(w2vDot(us, ds.map(i => s"p${i}q")))} AS sp",
        s"${w2vSigmoidExpr(w2vDot(us, ds.map(i => s"n${i}q")))} AS sn"): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val du = scored.groupBy("cw")
      .agg(sum(((lit(1000000L) - col("sp")) * col("p1q")) - (col("sn") * col("n1q"))).as("g1"),
        ds.drop(1).map(i =>
          sum(((lit(1000000L) - col("sp")) * col(s"p${i}q")) - (col("sn") * col(s"n${i}q"))).as(s"g$i")): _*)
    val dvPos = scored.groupBy(col("ct").as("tok"))
      .agg(sum((lit(1000000L) - col("sp")) * col("u1q")).as("gp1"),
        ds.drop(1).map(i =>
          sum((lit(1000000L) - col("sp")) * col(s"u${i}q")).as(s"gp$i")): _*)
    val dvNeg = scored.join(broadcast(init.select(col("r").as("rn"), col("tok"))), "rn")
      .groupBy("tok")
      .agg(sum(-(col("sn") * col("u1q"))).as("gn1"),
        ds.drop(1).map(i => sum(-(col("sn") * col(s"u${i}q"))).as(s"gn$i")): _*)
    val vin = init.join(du.withColumnRenamed("cw", "tok"), Seq("tok"), "left")
      .na.fill(0L, ds.map(i => s"g$i"))
      .selectExpr(Seq("tok", "r") ++
        ds.map(i => s"${w2vUpdExpr(s"u${i}q", s"g$i", lr)} AS u${i}q"): _*)
    val vout = init.join(dvPos, Seq("tok"), "left").join(dvNeg, Seq("tok"), "left")
      .na.fill(0L, ds.flatMap(i => Seq(s"gp$i", s"gn$i")))
      .selectExpr(Seq("tok", "r") ++
        ds.map(i => s"${w2vUpdExpr(s"v${i}q", s"(gp$i + gn$i)", lr)} AS v${i}q"): _*)
    val out = vin.join(vout.drop("r"), "tok")
      .filter(col("r") < topK)
      .selectExpr(Seq("tok", "r + 1 AS rnk") ++
        ds.map(i => s"u${i}q") ++ ds.map(i => s"v${i}q"): _*)
    scored.unpersist()
    out
  }

  // ---- chi-squared goodness-of-fit (reference mllib/stat/test/
  // ChiSqTest.scala:105 chiSquared — the Statistics.chiSqTest(Vector)
  // path with the DEFAULT uniform expected distribution, :89; n15 covers
  // the matrix-independence overload, this is the one-sample vector
  // overload) ----------------------------------------------------------

  /** One goodness-of-fit cell in micro-units over (o, n, k) columns:
    * observed count o against the uniform expected n/k. Fixed
    * parenthesization, shared verbatim with the oracle. */
  val gofCellExpr: String = {
    val e = "(CAST(n AS DOUBLE) / CAST(k AS DOUBLE))"
    s"CAST(round((((CAST(o AS DOUBLE) - $e) * (CAST(o AS DOUBLE) - $e)) / $e) * 1000000.0) AS BIGINT)"
  }

  /** Pearson's chi-squared goodness-of-fit of `catCol`'s category counts
    * against the uniform distribution: one row-linear count aggregate,
    * then everything downstream is bounded by the category cardinality
    * (the 1-row margin table broadcasts; the per-category cell table is
    * k rows of longs). Per-category contributions are micro-quantized
    * FIRST and summed as exact integers (the s34 convention — within
    * k micro-units of the unquantized statistic, deterministic under any
    * partitioning). Returns one row per category:
    * (f, o, contrib_micro, stat_micro, dof). */
  def chiSqGof(df: DataFrame, catCol: String): DataFrame = {
    val ct = df.groupBy(col(catCol).as("f")).agg(count(lit(1)).as("o"))
    val tot = ct.agg(sum("o").as("n"), count(lit(1)).as("k"))
    val cells = ct.crossJoin(broadcast(tot))
      .selectExpr("f", "o", "k", s"$gofCellExpr AS contrib_micro")
    val stat = cells.agg(sum("contrib_micro").as("stat_micro"))
    cells.crossJoin(broadcast(stat))
      .selectExpr("f", "o", "contrib_micro", "stat_micro",
        "CAST(k - 1 AS BIGINT) AS dof")
  }

  // ---- AFT survival regression (reference ml/regression/
  // AFTSurvivalRegression.scala — the Weibull accelerated-failure-time
  // model over (label t, censor δ, features); AFTAggregator:436 computes
  // the per-row negative-log-likelihood gradient with ε = (ln t − x'β)/σ:
  //   ∂L/∂β_j   per row = (δ − e^ε)·x_j/σ          (:484)
  //   ∂L/∂ln σ  per row = δ + (δ − e^ε)·ε           (:485)
  // and the loss/gradient are MEANS over the count (:451,:454); the
  // model's predict is λ = exp(x'β + intercept) and predictQuantiles
  // λ·exp(ln(−ln(1−q))·σ) (:284,:297). Thin slice, deviations declared
  // per the house convention: FULL-BATCH fixed-step gradient descent on
  // the mean loss in place of breeze L-BFGS + Wolfe (s50 proves the
  // two-loop elsewhere; the line search is a driver-side scalar loop
  // outside the oracle's reach), parameters (ln σ, β) carried as
  // micro-quantized BIGINT in a 1-row frame, per-row gradient
  // contributions micro-quantized BEFORE the exact integer sums
  // (partitioning-independent; the ln/exp libm seams are absorbed by the
  // rounding except within ~1e-10 of a boundary — the n22/s19 declared
  // risk), and rows with t < 1 dropped at the feature stage (a survival
  // time must be positive to log). ---------------------------------------

  /** σ from the micro-quantized ln σ — shared verbatim with the oracle. */
  val aftSigmaExpr: String = "exp(CAST(lsm AS DOUBLE) / 1000000.0)"

  /** ε = (ln t − (b0 + b1·x1 + b2·x2))/σ over micro params — shared. */
  val aftEpsExpr: String =
    "((ln(CAST(t AS DOUBLE)) - (CAST((b0m + (b1m * x1)) + (b2m * x2) AS DOUBLE) / 1000000.0)) / " +
      s"$aftSigmaExpr)"

  /** Per-row micro gradient contribution for coefficient j (xj = "1" for
    * the intercept): (δ − e^ε)·x_j/σ, micro-quantized. Shared. */
  def aftGradBetaExpr(xj: String): String =
    s"CAST(round((((CAST(del AS DOUBLE) - exp($aftEpsExpr)) * $xj) / $aftSigmaExpr) * 1000000.0) AS BIGINT)"

  /** Per-row micro gradient contribution for ln σ:
    * δ + (δ − e^ε)·ε, micro-quantized. Shared. */
  val aftGradLsExpr: String =
    s"CAST(round((CAST(del AS DOUBLE) + ((CAST(del AS DOUBLE) - exp($aftEpsExpr)) * $aftEpsExpr)) * 1000000.0) AS BIGINT)"

  /** One parameter's DESCENT update from its exact micro gradient sum:
    * p − step·(Σg/n), staying in micro units. Shared. */
  def aftUpdExpr(pm: String, g: String, step: Double): String =
    s"$pm - CAST(round(CAST($step AS DOUBLE) * (CAST($g AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT)"

  /** λ = exp(x'β) over the micro params (intercept inside b0m). Shared. */
  val aftLambdaExpr: String =
    "exp(CAST((b0m + (b1m * x1)) + (b2m * x2) AS DOUBLE) / 1000000.0)"

  /** The zero start: β = 0, ln σ = 0 (σ = 1) — the reference's
    * initialParameters (AFTSurvivalRegression.scala:205). */
  def aftInit(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(1).selectExpr("CAST(0 AS BIGINT) AS lsm",
      "CAST(0 AS BIGINT) AS b0m", "CAST(0 AS BIGINT) AS b1m",
      "CAST(0 AS BIGINT) AS b2m")

  /** ONE full-batch descent step over (t, del, x1, x2) rows from the
    * 1-row param frame: one scan computing four exact micro gradient
    * sums (map-side combined), then a 1-row update projection. */
  def aftStep(feats: DataFrame, p: DataFrame, step: Double): DataFrame = {
    // r21: single-reference — the params ride through the gradient scan
    // and aggregate (max of a broadcast constant), as [[fullBatch]]
    // requires
    feats.crossJoin(broadcast(p))
      .selectExpr(
        s"${aftGradBetaExpr("1")} AS c0",
        s"${aftGradBetaExpr("x1")} AS c1",
        s"${aftGradBetaExpr("x2")} AS c2",
        s"$aftGradLsExpr AS cs",
        "lsm", "b0m", "b1m", "b2m")
      .agg(count(lit(1)).as("n"),
        sum("c0").as("g0"), sum("c1").as("g1"),
        sum("c2").as("g2"), sum("cs").as("gs"),
        max("lsm").as("lsm"), max("b0m").as("b0m"),
        max("b1m").as("b1m"), max("b2m").as("b2m"))
      .selectExpr(
        s"${aftUpdExpr("lsm", "gs", step)} AS lsm",
        s"${aftUpdExpr("b0m", "g0", step)} AS b0m",
        s"${aftUpdExpr("b1m", "g1", step)} AS b1m",
        s"${aftUpdExpr("b2m", "g2", step)} AS b2m")
  }

  /** `iters` full-batch [[aftStep]]s on the batch loop. */
  def aftFit2(feats: DataFrame, iters: Int = 3, step: Double = 2e-4): DataFrame =
    fullBatch(feats, aftInit(feats.sparkSession), iters)((f, p, _) => aftStep(f, p, step))

  /** Score rows under the fitted params: predicted lifetime
    * λ = exp(x'β) milli-quantized, plus the Weibull median
    * λ·exp(ln(ln 2)·σ) (predictQuantiles at q = 0.5; −ln(1/2) = ln 2). */
  def aftPredict(feats: DataFrame, params: DataFrame, idCol: String): DataFrame =
    feats.crossJoin(broadcast(params))
      .selectExpr(idCol, "t", "del",
        s"CAST(round($aftLambdaExpr * 1000.0) AS BIGINT) AS pred_milli",
        s"CAST(round(($aftLambdaExpr * exp(ln(ln(CAST(2.0 AS DOUBLE))) * $aftSigmaExpr)) * 1000.0) AS BIGINT) AS median_milli",
        "lsm", "b0m", "b1m", "b2m")

  // ---- isotonic regression (reference mllib/src/main/scala/org/apache/
  // spark/mllib/regression/IsotonicRegression.scala:324
  // poolAdjacentViolators — sequential PAVA per partition — and :409
  // parallelPoolAdjacentViolators, which collects the per-partition
  // blocks for a final driver pass) --------------------------------------

  /** Weighted isotonic (monotone non-decreasing) least-squares fit of
    * `yCol` on `xCol`, fully relational — NO sequential PAVA and NO
    * driver collect. Uses the minimax representation of the PAVA
    * solution: fitted(x_i) = max_{j≤i} min_{k≥i} mean(y over blocks
    * j..k), evaluated on the DISTINCT-x aggregated table (one row-linear
    * groupBy; everything after is bounded by d = |distinct x|, the s20
    * histogram argument — the pair/triple theta-joins are d² and d³ rows
    * of longs, broadcast-nested-loop over tables that never scale with
    * row count). Where the reference pays a sequential driver pass over
    * per-partition block lists, this pays d³ — the right trade whenever
    * the regressor is binned/bounded, which is how isotonic calibration
    * is used on large data.
    *
    * Block means are micro-quantized BEFORE the min/max sweep; because
    * rounding is monotone, max-min commutes with it, so level_micro is
    * EXACTLY round(1e6 · exact PAVA level) — no double-floor slack.
    * Returns one row per distinct x: (x, n, sy, level_micro),
    * level monotone non-decreasing in x by construction. */
  def isotonicFit(df: DataFrame, xCol: String, yCol: String,
                  maxDistinct: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // localCheckpoint so the guard's count() materializes the grouped
    // table ONCE — the window/joins below reuse it instead of
    // recomputing the row-linear groupBy (measured 0.62 -> 1.16 s at
    // sf0.1 without it); d rows, require-bounded just below
    val t = df.groupBy(col(xCol).as("x"))
      .agg(count(lit(1)).as("cnt"), sum(yCol).as("sy"))
      .localCheckpoint()
    // ENFORCED contract (r16 verdict nit): the whole sweep is bounded
    // by d = |distinct x| (the window below plus d^2/d^3 theta-joins),
    // so a continuous regressor must be binned BEFORE calling — fail
    // loudly instead of letting one task sort an unbounded table.
    val d = t.count()
    require(d <= maxDistinct,
      s"isotonicFit: $d distinct regressor values exceed maxDistinct=$maxDistinct — " +
        "bin the regressor first (binnedFeatures / width bucketing); the minimax sweep is O(d^3)")
    // unpartitioned window is safe here: it runs over the distinct-x
    // table, require-bounded above (the binned regressor domain, never
    // row count)
    val w = Window.orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = t.select(col("x"), col("cnt"), col("sy"),
      sum("cnt").over(w).as("cc"), sum("sy").over(w).as("cs"))
    val lo = cum.selectExpr("x AS xj", "cs - sy AS cs0", "cc - cnt AS cc0")
    val hi = cum.selectExpr("x AS xk", "cs AS csk", "cc AS cck")
    val pairs = lo.join(hi, col("xj") <= col("xk"))
      .selectExpr("xj", "xk",
        "CAST(round((CAST(csk - cs0 AS DOUBLE) / CAST(cck - cc0 AS DOUBLE)) * 1000000.0) AS BIGINT) AS avg_micro")
    cum.select(col("x").as("xi"), col("cnt"), col("sy"))
      .join(pairs, col("xj") <= col("xi") && col("xi") <= col("xk"))
      .groupBy("xi", "cnt", "sy", "xj").agg(min("avg_micro").as("mn"))
      .groupBy("xi", "cnt", "sy").agg(max("mn").as("level_micro"))
      .selectExpr("xi AS x", "CAST(cnt AS BIGINT) AS n", "sy", "level_micro")
  }

  /** Antitonic (monotone NON-INCREASING) fit — the reference's
    * `setIsotonic(false)` leg (IsotonicRegression.scala:284 run: :287
    * negates the LABEL, runs the identical PAVA, :293 negates the
    * fitted predictions back; the feature order never flips). Every
    * stage is [[isotonicFit]]'s; exactness survives the double
    * negation because round() is half-away-from-zero — an odd
    * function — so −round(1e6·level(−y)) = round(1e6·level_anti(y))
    * bit-exactly. Returns (x, n, sy, level_micro) with sy the ORIGINAL
    * target sum and level monotone non-increasing in x. */
  def antitonicFit(df: DataFrame, xCol: String, yCol: String,
                   maxDistinct: Int = 10000): DataFrame =
    isotonicFit(df.select(col(xCol), (-col(yCol)).as("__ny")), xCol, "__ny",
        maxDistinct)
      .select(col("x"), col("n"), (-col("sy")).as("sy"),
        (-col("level_micro")).as("level_micro"))

  // ---- gradient-boosted trees (reference mllib/src/main/scala/org/
  // apache/spark/mllib/tree/GradientBoostedTrees.scala:54 — squared-loss
  // boosting: each round fits a regression tree to the current
  // residuals and adds it to the ensemble; loss/SquaredError.scala
  // defines the gradient = -2·residual this chases) ---------------------

  /** `rounds` boosted regression STUMPS (depth-1 trees) over
    * (x1, x2, ym) with a milli-quantized BIGINT target. Per round, one
    * histogram aggregate of (feature, value) residual sums, a prefix-sum
    * window, and the variance-reduction argmax
    *   score = (|sl| div nl)·|sl| + (|sr| div nr)·|sr|
    * — monotone in the exact sl²/nl + sr²/nr criterion but computed on
    * ABSOLUTE sums so the floor division is engine-portable (Spark's DIV
    * truncates toward zero, DuckDB's // floors toward -inf; they agree
    * only on non-negatives — residual sums are signed, so the abs form
    * is the shared currency; ties break to the smallest (feature,
    * value)). Leaf values are the rounded mean residuals (one double
    * division of exact integers). The base prediction F0 is the floor
    * mean of the target; learning rate is 1.0 (the reference's shrinkage
    * is a multiplier on each leaf — at 3 stumps over 2 features it only
    * slows the fixture's convergence, a documented deviation).
    *
    * Overflow headroom: |sl| div nl times |sl| needs |mean residual| ·
    * |sl| below 2^63 — at milli quantization that clears ~1e11 rows for
    * targets under ~1e6 milli-units.
    *
    * Returns (f0q, model rows (round, feat, thr, leftq, rightq)) — the
    * per-round split constants are collected (5 longs per round, exact
    * integers) and re-embedded as literals, so chained residuals carry
    * no cross-engine drift surface at all. */
  def gbtFit2(rows: DataFrame, rounds: Int = 3,
              lr: Double = 1.0): (Long, Seq[(Int, Long, Long, Long, Long)]) = {
    import org.apache.spark.sql.expressions.Window
    val base = rows.select(col("x1"), col("x2"), col("ym"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val f0 = base.agg(sum("ym").as("s"), count(lit(1)).as("n"))
      .selectExpr("CAST(s DIV n AS BIGINT)").head().getLong(0)
    // r21: LAZY checkpoints — each round's single consumer (the stump
    // histogram head()) materializes the residual frame as part of its
    // own job, so the chain pays one action per round instead of two;
    // the final round's update has no consumer at all and is skipped.
    var r = base.withColumn("rq", col("ym") - lit(f0)).localCheckpoint(false)
    val model = scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long, Long)]()
    for (round <- 1 to rounds) {
      val (feat, thr, lq, rqv) = stumpFitRound(r, lr)
      model += ((round, feat, thr, lq, rqv))
      if (round < rounds)
        r = r.withColumn("rq", col("rq") - expr(stumpCaseExpr(feat, thr, lq, rqv)))
          .localCheckpoint(false)
    }
    base.unpersist()
    (f0, model.toSeq)
  }

  /** One L2 stump fit over (x1, x2, rq) residual rows — [[gbtFit2]]'s
    * per-round body: the (feat, val) histogram, prefix sums, the
    * abs-div variance argmax, the rounded mean leaves. Returns
    * (feat, thr, leftq, rightq) — 4 exact longs off one head(). */
  private def stumpFitRound(r: DataFrame,
                            lr: Double = 1.0): (Long, Long, Long, Long) = {
    import org.apache.spark.sql.expressions.Window
    val lf = r.selectExpr("rq", "stack(2, 1L, x1, 2L, x2) AS (feat, val)")
    val h = lf.groupBy("feat", "val")
      .agg(count(lit(1)).as("n"), sum("rq").as("sr"))
    val wCum = Window.partitionBy("feat").orderBy("val")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("feat")
    val best = h
      .withColumn("nl", sum("n").over(wCum)).withColumn("sl", sum("sr").over(wCum))
      .withColumn("tn", sum("n").over(wTot)).withColumn("st", sum("sr").over(wTot))
      .filter(col("nl") > 0 && col("tn") - col("nl") > 0)
      .withColumn("score", expr(
        "(abs(sl) DIV nl) * abs(sl) + (abs(st - sl) DIV (tn - nl)) * abs(st - sl)"))
      .withColumn("rn", row_number().over(
        // unpartitioned window is safe: h is the (feature x distinct
        // split value) histogram — bounded by features*bins, not rows
        Window.orderBy(col("score").desc, col("feat"), col("val"))))
      .filter(col("rn") === 1)
      .selectExpr("feat", "val AS thr", leafExpr(lr, "sl", "nl") + " AS leftq",
        leafExpr(lr, "(st - sl)", "(tn - nl)") + " AS rightq")
      .head()
    (best.getLong(0), best.getLong(1), best.getLong(2), best.getLong(3))
  }

  /** The stump leaf constant: the rounded (possibly shrinkage-scaled)
    * mean residual. The reference applies learningRate as the base
    * learner WEIGHT (GradientBoostedTrees.scala:245
    * baseLearnerWeights(m) = learningRate; the :209 first tree keeps
    * weight 1.0 — the f0 seed's role here); scaling the leaf means is
    * the same model, and doing it INSIDE the single round() keeps the
    * chain one-rounding exact. lr = 1.0 emits the historical unscaled
    * string so the existing oracle formulas stay shared verbatim. */
  def leafExpr(lr: Double, s: String, n: String): String =
    if (lr == 1.0) s"CAST(round(CAST($s AS DOUBLE) / $n) AS BIGINT)"
    else s"CAST(round(CAST($lr AS DOUBLE) * (CAST($s AS DOUBLE) / $n)) AS BIGINT)"

  private def stumpCaseExpr(feat: Long, thr: Long, lq: Long, rq: Long): String =
    s"CASE WHEN (CASE WHEN $feat = 1 THEN x1 ELSE x2 END) <= $thr THEN ${lq}L ELSE ${rq}L END"

  /** Validation-driven early stopping for L2 stump boosting — the
    * reference's runWithValidation (GradientBoostedTrees.scala:94;
    * boost() at :255: after fitting round m, if
    * bestError − currentError < validationTol · max(currentError, 0.01)
    * stop; an error INCREASE stops too; the returned model is sliced to
    * the best-error round). Integerized house mirror: the error
    * currency is the exact mean squared validation residual in milli²
    * units, verr = Σrq² DIV n (non-negative operands — no DIV seam),
    * the tolerance is ppm (`tolMicro`), and 0.01's degeneracy floor
    * becomes 10 milli² — stop when
    * (best − cur) · 1000000 < tolMicro · max(cur, 10). The f0-only
    * model plays the reference's before-the-loop first tree: it
    * initializes best, and rounds 1..maxRounds test against it.
    *
    * Returns one row per EXECUTED round (training genuinely halts at
    * the stop — later rounds never run): (round, feat, thr, leftq,
    * rightq, verr_milli2, in_model, stopped); round 0 is the f0 seed
    * carrying (f0, f0) as its leaves. `in_model` marks the reference's
    * bestM slice — the rounds a scoring call would keep.
    *
    * Overflow headroom: Σrq² at milli quantization clears ~1e11 rows
    * for residuals under ~1e5 milli-units; past that the caller drops
    * the target to centi-units (the s26 note).
    *
    * Cost per round: the stump histogram + ONE 1-row validation
    * aggregate — the validation pass adds no shuffle (a narrow map +
    * agg over the checkpointed residual frame). */
  def gbtFitValidated(train: DataFrame, valid: DataFrame,
                      maxRounds: Int = 6, tolMicro: Long = 10000L): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    val base = train.select(col("x1"), col("x2"), col("ym"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val f0 = base.agg(sum("ym").as("s"), count(lit(1)).as("n"))
      .selectExpr("CAST(s DIV n AS BIGINT)").head().getLong(0)
    def verrOf(rv: DataFrame): Long = rv
      .selectExpr("CAST(sum(rq * rq) DIV count(1) AS BIGINT) AS v").head().getLong(0)
    // r21: LAZY checkpoints — rt's single consumer per round is the
    // stump head(), rv's is the verr aggregate; each materializes its
    // frame inside its own job (one action instead of two per frame),
    // and the training-side update is skipped entirely once no further
    // round can run (it has no consumer then).
    var rt = base.withColumn("rq", col("ym") - lit(f0)).localCheckpoint(false)
    var rv = valid.select(col("x1"), col("x2"), col("ym"))
      .withColumn("rq", col("ym") - lit(f0)).localCheckpoint(false)
    var best = verrOf(rv)
    var bestM = 0
    val rows = scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long, Long, Long, Boolean)]()
    rows += ((0, 0L, -1L, f0, f0, best, false))
    var stopped = false
    var m = 1
    while (m <= maxRounds && !stopped) {
      val (feat, thr, lq, rqv) = stumpFitRound(rt)
      val upd = stumpCaseExpr(feat, thr, lq, rqv)
      rv = rv.withColumn("rq", col("rq") - expr(upd)).localCheckpoint(false)
      val cur = verrOf(rv)
      stopped = (best - cur) * 1000000L < tolMicro * math.max(cur, 10L)
      if (!stopped && cur < best) { best = cur; bestM = m }
      rows += ((m, feat, thr, lq, rqv, cur, stopped))
      if (m < maxRounds && !stopped)
        rt = rt.withColumn("rq", col("rq") - expr(upd)).localCheckpoint(false)
      m += 1
    }
    base.unpersist()
    val bm = bestM
    rows.toSeq
      .map { case (r, f, t, l, q, v, st) =>
        (r.toLong, f, t, l, q, v, if (r <= bm) 1L else 0L, if (st) 1L else 0L) }
      .toDF("round", "feat", "thr", "leftq", "rightq", "verr_milli2",
        "in_model", "stopped")
  }

  // ---- gradient-boosted regression TREES (reference mllib/tree/
  // GradientBoostedTrees.scala:54 boost — the reference's actual
  // learner shape: each round fits a variance-impurity REGRESSION TREE
  // (not a stump) to the L2 residuals, and :150's first iteration fits
  // the raw labels — which at learningRate 1.0 is exactly a residual
  // round from F = 0, so the seed needs no special case. House
  // conventions as s26: milli-quantized target, leaf means rounded once
  // per round, residuals carried as exact integers; the fitted trees
  // re-embed as literal nested CASEs so the chain has zero cross-engine
  // drift surface. ------------------------------------------------------

  /** A fitted [[regressionTree2]] as ONE nested CASE expression over
    * (x1, x2) literals — the model is ≤ 2^maxDepth leaf constants plus
    * the split table, all exact integers. Branches no training row
    * reached default to 0. */
  def treeCaseExpr(splits: Map[Long, (Long, Long)], leaves: Map[Long, Long],
                   maxDepth: Int): String = {
    def node(id: Long, depth: Int): String =
      if (depth == maxDepth || !splits.contains(id))
        s"CAST(${leaves.getOrElse(id, 0L)} AS BIGINT)"
      else {
        val (f, t) = splits(id)
        s"(CASE WHEN (CASE WHEN $f = 1 THEN x1 ELSE x2 END) <= $t" +
          s" THEN ${node(id * 2, depth + 1)} ELSE ${node(id * 2 + 1, depth + 1)} END)"
      }
    node(1L, 0)
  }

  /** `rounds` L2 boosting rounds of depth-`maxDepth` regression trees
    * over (x1, x2, ym). Returns one (splits, leaves) pair per round —
    * both collected (tree-sized: ≤ 2^d−1 splits + 2^d leaves of exact
    * integers) and re-embedded as literals for the residual updates. */
  def gbtTreesFit2(rows: DataFrame, rounds: Int = 3, maxDepth: Int = 2)
      : Seq[(Map[Long, (Long, Long)], Map[Long, Long])] = {
    val base = rows.select(col("x1"), col("x2"), col("ym"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // r21: the residual chain stays LAZY — treeLevels' own entry
    // checkpoint materializes each round's residual view, so the
    // per-round standalone residual materialization (and its action)
    // is gone; the persist is populated by round 1's entry checkpoint
    // (sequential consumers — no concurrent-materialization race). The
    // final round's update has no consumer and is skipped. Splits and
    // leaves come back in ONE union-shaped collect instead of two.
    var r = base.withColumn("rq", col("ym"))
    val model = scala.collection.mutable.ArrayBuffer[(Map[Long, (Long, Long)], Map[Long, Long])]()
    for (round <- 1 to rounds) {
      val (leaves, splits) = regressionTree2(r.selectExpr("x1", "x2", "rq AS ym"), maxDepth)
      val fused = splits.selectExpr("0L AS kind", "node AS a", "feat AS b", "thr AS c")
        .union(leaves.selectExpr("1L AS kind", "leaf AS a", "pred_milli AS b", "0L AS c"))
        .collect()
      val sp = fused.iterator.filter(_.getLong(0) == 0L)
        .map(x => x.getLong(1) -> ((x.getLong(2), x.getLong(3)))).toMap
      val lv = fused.iterator.filter(_.getLong(0) == 1L)
        .map(x => x.getLong(1) -> x.getLong(2)).toMap
      model += ((sp, lv))
      if (round < rounds)
        r = r.withColumn("rq", col("rq") - expr(treeCaseExpr(sp, lv, maxDepth)))
    }
    base.unpersist()
    model.toSeq
  }

  /** Score rows under a [[gbtTreesFit2]] ensemble: the sum of the
    * rounds' nested-CASE trees — a pure projection, no joins. Emits
    * (idCol, ym AS y_milli, pred_milli). */
  def gbtTreesPredict2(score: DataFrame, idCol: String,
                       model: Seq[(Map[Long, (Long, Long)], Map[Long, Long])],
                       maxDepth: Int = 2): DataFrame = {
    val pred = model.map { case (sp, lv) => treeCaseExpr(sp, lv, maxDepth) }
      .mkString("(", " + ", ")")
    score.selectExpr(idCol, "ym AS y_milli", s"CAST($pred AS BIGINT) AS pred_milli")
  }

  // ---- gradient-boosted stumps, LOG-LOSS (reference mllib/tree/loss/
  // LogLoss.scala:48 — gradient −4y/(1+exp(2yF)) for y ∈ {−1, 1};
  // GradientBoostedTrees.scala's boost() fits a regression tree to the
  // NEGATED gradient each round and adds its learningRate-scaled
  // prediction to F — the classification counterpart of s26's L2 chain.
  // DECLARED DEVIATIONS: F0 = 0 (the reference seeds with a first full
  // tree on raw labels), learning rate 0.5, stump learners, and the s26
  // integer conventions — residuals milli-quantized by ONE shared
  // double expression per row, leaves the lr-scaled residual means
  // rounded once, the split argmax the same abs-floor-div variance
  // score. -------------------------------------------------------------

  /** The negated log-loss gradient 4y/(1+exp(2yF)) in milli units over
    * (ys ∈ {−1,1}, fm milli). Shared verbatim with the oracle. */
  val gbtLogLossResidExpr: String =
    "CAST(round(((4.0 * ys) / (1.0 + exp((2.0 * ys) * (CAST(fm AS DOUBLE) / 1000.0)))) * 1000.0) AS BIGINT)"

  /** The shared margin-carried boosting loop over (x1, x2, `targetCol`,
    * fm) rows: per round one residual projection under `residExpr`
    * (recomputed from the carried margin fm — F-dependent losses, unlike
    * s26's once-subtracted L2 chain), one stacked histogram aggregate,
    * the abs-floor-div prefix-sum argmax, and a margin update with the
    * lr-scaled leaf means. Returns the stump list
    * (round, feat, thr, leftq, rightq) with lr-scaled integer leaves. */
  private def gbtMarginRounds(st0: DataFrame, targetCol: String,
                              residExpr: String, rounds: Int,
                              lr: Double): Seq[(Int, Long, Long, Long, Long)] = {
    import org.apache.spark.sql.expressions.Window
    // r21: LAZY checkpoints — each round's single consumer (the stump
    // histogram head()) materializes the margin frame inside its own
    // job; the final round's margin update has no consumer and is
    // skipped.
    var st = st0.localCheckpoint(false)
    val model = scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long, Long)]()
    for (round <- 1 to rounds) {
      val r = st.selectExpr("x1", "x2", targetCol, "fm", s"$residExpr AS rq")
      val lf = r.selectExpr("rq", "stack(2, 1L, x1, 2L, x2) AS (feat, val)")
      val h = lf.groupBy("feat", "val")
        .agg(count(lit(1)).as("n"), sum("rq").as("sr"))
      val wCum = Window.partitionBy("feat").orderBy("val")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy("feat")
      val best = h
        .withColumn("nl", sum("n").over(wCum)).withColumn("sl", sum("sr").over(wCum))
        .withColumn("tn", sum("n").over(wTot)).withColumn("st", sum("sr").over(wTot))
        .filter(col("nl") > 0 && col("tn") - col("nl") > 0)
        .withColumn("score", expr(
          "(abs(sl) DIV nl) * abs(sl) + (abs(st - sl) DIV (tn - nl)) * abs(st - sl)"))
        .withColumn("rn", row_number().over(
          // unpartitioned window is safe: h is the (feature x distinct
          // split value) histogram — bounded by features*bins, not rows
          Window.orderBy(col("score").desc, col("feat"), col("val"))))
        .filter(col("rn") === 1)
        .selectExpr("feat", "val AS thr",
          s"CAST(round(CAST($lr AS DOUBLE) * (CAST(sl AS DOUBLE) / nl)) AS BIGINT) AS leftq",
          s"CAST(round(CAST($lr AS DOUBLE) * (CAST(st - sl AS DOUBLE) / (tn - nl))) AS BIGINT) AS rightq")
        .head()
      val (feat, thr, lq, rqv) =
        (best.getLong(0), best.getLong(1), best.getLong(2), best.getLong(3))
      model += ((round, feat, thr, lq, rqv))
      if (round < rounds)
        st = st.withColumn("fm", col("fm") + expr(
            s"CASE WHEN (CASE WHEN $feat = 1 THEN x1 ELSE x2 END) <= $thr THEN ${lq}L ELSE ${rqv}L END"))
          .localCheckpoint(false)
    }
    model.toSeq
  }

  /** `rounds` log-loss boosting rounds of depth-1 stumps over
    * (x1, x2, ys) — the [[gbtMarginRounds]] loop seeded at F0 = 0 with
    * the log-loss gradient string. Returns the stump list
    * (round, feat, thr, leftq, rightq) with lr-scaled integer leaves. */
  def gbtLogLossFit2(rows: DataFrame, rounds: Int = 3,
                     lr: Double = 0.5): Seq[(Int, Long, Long, Long, Long)] = {
    // r21: no persist — the margin loop's seed checkpoint is this
    // frame's ONLY consumer (the eager count + cache paid two extra
    // full passes for a frame read exactly once).
    gbtMarginRounds(rows.select(col("x1"), col("x2"), col("ys"))
      .withColumn("fm", lit(0L)), "ys", gbtLogLossResidExpr, rounds, lr)
  }

  // ---- gradient-boosted stumps, ABSOLUTE-ERROR loss (reference
  // mllib/tree/loss/AbsoluteError.scala:46 — gradient sign(F−y), so the
  // boost fits each round's tree to sign(y−F) with ties at y = F taking
  // +1, the else-branch of the reference's `label - prediction < 0`
  // test; GradientBoostedTrees.scala:54's boost() shape as in s26/s52.
  // DECLARED DEVIATIONS: F0 is the FLOORED EXACT MEDIAN of the target
  // (the L1-optimal constant; the reference instead seeds with a full
  // first tree on the raw labels), stump learners, learning rate 0.5,
  // and the house integer conventions — the sign residual is
  // milli-quantized (±1000), leaves the lr-scaled residual means
  // rounded once, the split argmax the shared abs-floor-div variance
  // score. --------------------------------------------------------------

  /** The negated absolute-error gradient sign(y − F) in milli units over
    * (ym, fm) BIGINT milli columns — integer comparison only, shared
    * verbatim with the oracle (ties at ym = fm take +1000, matching
    * AbsoluteError.scala:46's else branch). */
  val gbtAbsResidExpr: String =
    "CAST(CASE WHEN ym - fm < 0 THEN -1000 ELSE 1000 END AS BIGINT)"

  /** `rounds` absolute-error boosting rounds of depth-1 stumps over
    * (x1, x2, ym) — the [[gbtMarginRounds]] loop seeded at the floored
    * exact median (both engines interpolate the even-n midpoint in
    * doubles below 2^53, so the floor is engine-identical) with the
    * sign-gradient string. Returns (f0, stump list); score with
    * [[gbtPredict2]] — the prediction is F0 plus the stump leaves,
    * exactly the L2 chain's projection. */
  def gbtAbsFit2(rows: DataFrame, rounds: Int = 3,
                 lr: Double = 0.5): (Long, Seq[(Int, Long, Long, Long, Long)]) = {
    val base = rows.select(col("x1"), col("x2"), col("ym"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val f0 = base.agg(expr("CAST(floor(percentile(ym, 0.5)) AS BIGINT)"))
      .head().getLong(0)
    val model = gbtMarginRounds(base.withColumn("fm", lit(f0)), "ym",
      gbtAbsResidExpr, rounds, lr)
    base.unpersist()
    (f0, model)
  }

  /** Score (idCol, x1, x2, ys) rows under a [[gbtLogLossFit2]] ensemble:
    * the margin is the sum of lr-scaled stump leaves from F0 = 0; the
    * class thresholds at margin >= 0. Emits
    * (idCol, label, f_milli, pred). */
  def gbtLogLossPredict(score: DataFrame, idCol: String,
                        model: Seq[(Int, Long, Long, Long, Long)]): DataFrame = {
    val terms = model.map { case (_, feat, thr, lq, rq) =>
      s"(CASE WHEN (CASE WHEN $feat = 1 THEN x1 ELSE x2 END) <= $thr THEN ${lq}L ELSE ${rq}L END)"
    }
    val fm = terms.mkString("(0L + ", " + ", ")")
    score.selectExpr(idCol, "CAST((ys + 1) DIV 2 AS BIGINT) AS label",
      s"CAST($fm AS BIGINT) AS f_milli")
      .withColumn("pred",
        expr("CAST(CASE WHEN f_milli >= 0 THEN 1 ELSE 0 END AS BIGINT)"))
  }

  /** Score rows under a [[gbtFit2]] ensemble: F0 plus each stump's leaf
    * constant — a pure projection, no joins at all (the model is a
    * handful of exact integers). Emits (idCol, ym AS y_milli,
    * pred_milli). */
  def gbtPredict2(score: DataFrame, idCol: String, f0q: Long,
                  model: Seq[(Int, Long, Long, Long, Long)]): DataFrame = {
    val terms = model.map { case (_, feat, thr, lq, rq) =>
      s"(CASE WHEN (CASE WHEN $feat = 1 THEN x1 ELSE x2 END) <= $thr THEN ${lq}L ELSE ${rq}L END)"
    }
    val pred = (s"${f0q}L" +: terms).mkString("(", " + ", ")")
    score.selectExpr(idCol, "ym AS y_milli", s"CAST($pred AS BIGINT) AS pred_milli")
  }

  /** Frequent item TRIPLES with the full Apriori candidate prune — the
    * arbitrary-k lattice step [[frequentPairRules]] elides (reference
    * mllib/src/main/scala/org/apache/spark/mllib/fpm/FPGrowth.scala:162
    * mines all sizes via conditional FP-trees; at k = 3 the relational
    * equivalent extends each FREQUENT pair occurrence with a third
    * pruned item and keeps candidates whose every 2-subset is frequent —
    * the classic Apriori closure property, and the reason the 3-way
    * basket join's fan-out stays bounded at 100 TB: items below the
    * support floor never enter any join). Same threshold discipline as
    * s16: minSupport is a basket fraction, absolute floor
    * ceil(frac · nBaskets), support emitted in exact integer micro-units.
    * Returns (item_a < item_b < item_c, n_triple, support_micro). */
  def frequentTriples(baskets: DataFrame, basketCol: String, itemCol: String,
                      minSupport: Double = 0.004): DataFrame = {
    val b = baskets.select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBaskets = b.select("basket").distinct().count()
    val thr = math.ceil(minSupport * nBaskets).toLong
    val singles = b.groupBy("item").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= thr)
    // eager pin (the d18 lesson): the pair self-join and the triple
    // extension read this frame from 2-3 branches of single actions — a
    // lazy persist raced its own first population across those branches
    val pruned = b.join(singles.select("item"), Seq("item"), "left_semi")
      .localCheckpoint()
    val pairs = pruned.select(col("basket"), col("item").as("item_a"))
      .join(pruned.select(col("basket"), col("item").as("item_b")), "basket")
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= thr)
      .select("item_a", "item_b")
      .localCheckpoint() // consumed by the extend join AND both subset prunes
    // frequent-pair OCCURRENCES (basket, a, b), then extend by a third
    // pruned item c > b whose subsets (a, c) and (b, c) are frequent too
    val po = pruned.select(col("basket"), col("item").as("item_a"))
      .join(pruned.select(col("basket"), col("item").as("item_b")), "basket")
      .filter(col("item_a") < col("item_b"))
      .join(pairs, Seq("item_a", "item_b"), "left_semi")
    val out = po
      .join(pruned.select(col("basket"), col("item").as("item_c")), "basket")
      .filter(col("item_c") > col("item_b"))
      .join(pairs.select(col("item_a"), col("item_b").as("item_c")),
        Seq("item_a", "item_c"), "left_semi")
      .join(pairs.select(col("item_a").as("item_b"), col("item_b").as("item_c")),
        Seq("item_b", "item_c"), "left_semi")
      .groupBy("item_a", "item_b", "item_c").agg(count(lit(1)).as("n_triple"))
      .filter(col("n_triple") >= thr)
      .select(col("item_a"), col("item_b"), col("item_c"), col("n_triple"),
        expr(s"CAST((n_triple * 1000000) DIV $nBaskets AS BIGINT)").as("support_micro"))
      .localCheckpoint()
    pruned.unpersist(); b.unpersist()
    out
  }

  /** The Pearson-on-doubled-ranks correlation as one formula string over
    * the six exact sums (n, sa, sb, saa, sbb, sab), micro-quantized —
    * shared verbatim with the oracle. The sums arrive as exact wide
    * integers (DECIMAL(38,0) on the Spark side, HUGEINT in DuckDB);
    * casting the same exact integer to DOUBLE is correctly rounded in
    * both engines, and everything after is fixed-parenthesization double
    * arithmetic. */
  val spearmanRhoExpr: String =
    "CAST(round((((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)) - (CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))) / " +
      "sqrt(((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)) - (CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))) * " +
      "((CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)) - (CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))))) * 1000000.0) AS BIGINT)"

  /** Spearman rank correlation with average ranks for ties (reference
    * mllib/src/main/scala/org/apache/spark/mllib/stat/correlation/
    * SpearmanCorrelation.scala:49 computes the same: global sort, average
    * the ranks of tied values, then Pearson on the ranks). Scale shape:
    *   1. per-column DISTINCT-value counts (one hash aggregate — the
    *      ranking input shrinks from rows to distinct values);
    *   2. the exclusive weighted prefix sum over value order via
    *      [[Scale.packByTokenBudget]]'s range-repartition + broadcast-
    *      offsets machinery — never a single-partition global sort (the
    *      reference's zipWithIndex over a sortByKey has the same
    *      distributed shape);
    *   3. DOUBLED average ranks r2(v) = 2·|{u < v}| + cnt(v) + 1, so tied
    *      ranks like 2.5 stay exact INTEGERS;
    *   4. join ranks back by value (shuffle bounded by distinct values)
    *      and Pearson over exact integer sums.
    * Sums go through DECIMAL(38,0) — doubled ranks reach ~2n, so a
    * BIGINT Σr² overflows near 1.3M rows; decimal sums stay exact to
    * ~1e9 rows and mirror DuckDB's HUGEINT exactly. Returns one row
    * (n, rho_micro). */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    def ranks2(c: String, out: String): DataFrame = {
      val counts = df.groupBy(col(c).as("__v")).agg(count(lit(1)).as("cnt"))
      Scale.packByTokenBudget(counts, "__v", "cnt", Long.MaxValue)
        .select(col("__v"),
          ((lit(2L) * col("cum_before")) + col("cnt") + lit(1L)).as(out))
    }
    val pairs = df.select(col(xCol).as("__x"), col(yCol).as("__y"))
    val ranked = pairs
      .join(ranks2(xCol, "ax").withColumnRenamed("__v", "__x"), "__x")
      .join(ranks2(yCol, "ay").withColumnRenamed("__v", "__y"), "__y")
    ranked
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(ax AS DECIMAL(38,0))")).as("sa"),
        sum(expr("CAST(ay AS DECIMAL(38,0))")).as("sb"),
        sum(expr("CAST(ax AS DECIMAL(38,0)) * ax")).as("saa"),
        sum(expr("CAST(ay AS DECIMAL(38,0)) * ay")).as("sbb"),
        sum(expr("CAST(ax AS DECIMAL(38,0)) * ay")).as("sab"))
      .selectExpr("CAST(n AS BIGINT) AS n", s"$spearmanRhoExpr AS rho_micro")
  }

  /** Spearman correlation MATRIX (reference stat/correlation/
    * Correlations.scala corrMatrix dispatching method = "spearman" →
    * SpearmanCorrelation.scala:49, which ranks every column with
    * averaged ties and hands the ranks to PearsonCorrelation's matrix —
    * n21's Pearson matrix and n17's pairwise Spearman composed): the
    * [[spearman]] double-rank machinery once per column — each ranking
    * a distinct-value hash aggregate + the range-repartition prefix
    * sum, joined back by value — then ONE aggregate of every pairwise
    * DECIMAL(38,0) rank sum and the shared [[pearsonExpr]] string per
    * (i < j) pair. DECIMAL because double-ranks reach 2n: the squared
    * sums pass BIGINT's 2^63 near 2e6 rows. Returns one row per
    * unordered pair: (c1, c2, rho_micro). */
  def spearmanMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "spearmanMatrix needs at least two columns")
    var ranked = df.select(cols.map(col): _*)
    for (c <- cols) {
      val counts = df.groupBy(col(c).as("__v")).agg(count(lit(1)).as("cnt"))
      val r = Scale.packByTokenBudget(counts, "__v", "cnt", Long.MaxValue)
        .select(col("__v").as(c),
          ((lit(2L) * col("cum_before")) + col("cnt") + lit(1L)).as(s"r_$c"))
      ranked = ranked.join(r, c)
    }
    val rd = ranked.selectExpr(
      cols.map(c => s"CAST(r_$c AS DECIMAL(38,0)) AS d_$c"): _*)
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs = cols.map(c => sum(col(s"d_$c")).as(s"s_$c")) ++
      cols.map(c => sum(col(s"d_$c") * col(s"d_$c")).as(s"ss_$c")) ++
      pairs.map { case (a, b) => sum(col(s"d_$a") * col(s"d_$b")).as(s"sp_${a}_$b") }
    val sums = rd.agg(count(lit(1)).as("n"), aggs: _*)
    val stackArgs = pairs.map { case (a, b) =>
      s"'$a', '$b', ${pearsonExpr(s"s_$a", s"s_$b", s"ss_$a", s"ss_$b", s"sp_${a}_$b")}"
    }.mkString(", ")
    sums.selectExpr(s"stack(${pairs.size}, $stackArgs) AS (c1, c2, rho_micro)")
  }

  /** Frequent length-2 sequential patterns (reference
    * mllib/src/main/scala/org/apache/spark/mllib/fpm/PrefixSpan.scala:79
    * mines general gapped sequences by iterative prefix projection; at
    * pattern length 2 over single-item elements — the "users who did A
    * then B" workhorse question — the whole mine collapses to per-user
    * per-item TIME BOUNDS: the pattern ⟨a, b⟩ occurs for a user iff
    * min_ts(a) < max_ts(b), so support needs ONE hash aggregate over the
    * events (users × items rows, tiny) and a per-user item self-join of
    * that stats table (|items|² rows per user, not |events|²) — no
    * event-level pair join anywhere, which is the difference between
    * quadratic-in-session-length and linear at 100 TB of clickstream.
    * Self-patterns ⟨a, a⟩ are excluded (the standard distinct-pair
    * slice); support is a user fraction like the reference's minSupport,
    * emitted in exact integer micro-units. */
  def frequentSequences2(events: DataFrame, userCol: String, itemCol: String,
                         tsCol: String, minSupport: Double = 0.3): DataFrame = {
    val stats = events.groupBy(col(userCol).as("u"), col(itemCol).as("item"))
      .agg(min(col(tsCol)).as("tmin"), max(col(tsCol)).as("tmax"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nUsers = stats.select("u").distinct().count()
    val thr = math.ceil(minSupport * nUsers).toLong
    val out = stats.select(col("u"), col("item").as("antecedent"), col("tmin"))
      .join(stats.select(col("u"), col("item").as("consequent"), col("tmax")), "u")
      .filter(col("antecedent") =!= col("consequent") && col("tmin") < col("tmax"))
      .groupBy("antecedent", "consequent").agg(count(lit(1)).as("n_users"))
      .filter(col("n_users") >= thr)
      .select(col("antecedent"), col("consequent"), col("n_users"),
        expr(s"CAST((n_users * 1000000) DIV $nUsers AS BIGINT)").as("support_micro"))
      .localCheckpoint()
    stats.unpersist()
    out
  }

  /** Frequent length-3 sequential patterns A→B→C — the arbitrary-length
    * prefix-growth step [[frequentSequences2]] elides (reference
    * mllib/fpm/PrefixSpan.scala:113 genFreqPatterns grows each frequent
    * prefix by one postfix item per round; this is round 2 for the
    * distinct-type thin slice). Existence logic: taking a = the EARLIEST
    * A-event and c = the LATEST C-event is optimal, so the ordered
    * triple exists iff SOME B-event falls strictly inside
    * (tmin_A, tmax_C) — one events ⋈ per-user-(A, C)-pair join whose
    * fan-out is bounded by |types|² per user (the per-user type-pair
    * table is the prefix working set; event rows never pair with each
    * other). Same threshold discipline as s18. Returns
    * (t1, t2, t3, n_users, support_micro). */
  def frequentSequences3(events: DataFrame, userCol: String, itemCol: String,
                         tsCol: String, minSupport: Double = 0.05): DataFrame = {
    val fe = events.select(col(userCol).as("u"), col(itemCol).as("item"),
        col(tsCol).as("ts"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = fe.groupBy("u", "item")
      .agg(min(col("ts")).as("tmin"), max(col("ts")).as("tmax"))
      .localCheckpoint()
    val nUsers = stats.select("u").distinct().count()
    val thr = math.ceil(minSupport * nUsers).toLong
    val pairs = stats.select(col("u"), col("item").as("t1"), col("tmin"))
      .join(stats.select(col("u"), col("item").as("t3"), col("tmax")), "u")
      .filter(col("t1") =!= col("t3") && col("tmin") < col("tmax"))
    val out = fe.join(pairs, "u")
      .filter(col("item") =!= col("t1") && col("item") =!= col("t3") &&
        col("ts") > col("tmin") && col("ts") < col("tmax"))
      .select(col("u"), col("t1"), col("item").as("t2"), col("t3"))
      .distinct()
      .groupBy("t1", "t2", "t3").agg(count(lit(1)).as("n_users"))
      .filter(col("n_users") >= thr)
      .select(col("t1"), col("t2"), col("t3"), col("n_users"),
        expr(s"CAST((n_users * 1000000) DIV $nUsers AS BIGINT)").as("support_micro"))
      .localCheckpoint()
    fe.unpersist()
    out
  }

  /** Multiclass classification metrics (reference
    * mllib/src/main/scala/org/apache/spark/mllib/evaluation/MulticlassMetrics.scala:27
    * computes the same from a (prediction, label) RDD): per-class true
    * positives / predicted counts / actual counts from ONE hash aggregate
    * over the scored table, then precision, recall, and F1 in exact
    * integer micro-units (tp·1e6 div n — no doubles, no averaging-order
    * sensitivity). Classes present in either role appear; a class never
    * predicted reports precision 0 by the div-by-zero-guard convention
    * MulticlassMetrics documents. Input: (actualCol, predCol). */
  def multiclassMetrics(scored: DataFrame,
                        actualCol: String, predCol: String): DataFrame = {
    val counts = scored.select(col(actualCol).as("actual"), col(predCol).as("pred"))
      .groupBy("actual", "pred").agg(count(lit(1)).as("n"))
      .localCheckpoint() // three derivations below share it
    val tp = counts.filter(col("actual") === col("pred"))
      .select(col("actual").as("label"), col("n").as("tp"))
    val predTotals = counts.groupBy(col("pred").as("label")).agg(sum("n").as("n_pred"))
    val actTotals = counts.groupBy(col("actual").as("label")).agg(sum("n").as("n_actual"))
    actTotals
      .join(predTotals, Seq("label"), "full")
      .join(tp, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"))
      .withColumn("precision_micro",
        expr("CASE WHEN n_pred = 0 THEN 0 ELSE CAST((tp * 1000000) DIV n_pred AS BIGINT) END"))
      .withColumn("recall_micro",
        expr("CASE WHEN n_actual = 0 THEN 0 ELSE CAST((tp * 1000000) DIV n_actual AS BIGINT) END"))
      // F1 from the integer micro parts: 2pr/(p+r), still integer-exact
      .withColumn("f1_micro",
        expr("CASE WHEN precision_micro + recall_micro = 0 THEN 0 " +
          "ELSE CAST((2 * precision_micro * recall_micro) DIV (precision_micro + recall_micro) AS BIGINT) END"))
  }

  /** The AGGREGATE half of MulticlassMetrics (reference
    * MulticlassMetrics.scala:143 accuracy, :170 weightedPrecision, :178
    * weightedRecall, :186/:197 weightedFMeasure, :95 falsePositiveRate +
    * :162 weightedFalsePositiveRate — everything [[multiclassMetrics]]'s
    * per-label rows don't carry): one row of label-count-weighted
    * averages, Σ n_actual_l · metric_micro_l DIV N over the per-label
    * integer micro metrics (declared: per-label micro floors happen
    * BEFORE weighting, so each weighted value sits within #labels
    * micro-units of the reference's double average — spec-pinned
    * against mllib itself). The per-label table is labels-bounded, so
    * every stage past the one confusion count aggregate is tiny. */
  def multiclassWeighted(scored: DataFrame, actualCol: String,
                         predCol: String): DataFrame = {
    val per = multiclassMetrics(scored, actualCol, predCol)
      .localCheckpoint() // labels-bounded; feeds the total AND the blend
    val tot = per.agg(sum("n_actual").as("nn"), sum("tp").as("stp"))
    per.crossJoin(broadcast(tot))
      .withColumn("fpr_micro",
        expr("CASE WHEN nn - n_actual = 0 THEN 0 ELSE " +
          "CAST(((n_pred - tp) * 1000000) DIV (nn - n_actual) AS BIGINT) END"))
      .agg(max("nn").as("n"), max("stp").as("stp"),
        sum(expr("n_actual * precision_micro")).as("swp"),
        sum(expr("n_actual * recall_micro")).as("swr"),
        sum(expr("n_actual * f1_micro")).as("swf"),
        sum(expr("n_actual * fpr_micro")).as("swfpr"))
      .selectExpr("CAST(n AS BIGINT) AS n",
        "CAST((stp * 1000000) DIV n AS BIGINT) AS accuracy_micro",
        "CAST(swp DIV n AS BIGINT) AS weighted_precision_micro",
        "CAST(swr DIV n AS BIGINT) AS weighted_recall_micro",
        "CAST(swf DIV n AS BIGINT) AS weighted_f1_micro",
        "CAST(swfpr DIV n AS BIGINT) AS weighted_fpr_micro")
  }

  /** Multinomial Naive Bayes with Laplace (+1) smoothing: train per-label
    * priors and token likelihoods on `train`, classify every `classify`
    * row by argmax of the micro-nat-quantized log score
    *   score(d, c) = round(ln(P(c))·1e6) + Σ_tok round(ln(P(tok|c))·1e6)
    * with unseen-in-class tokens taking the smoothed zero-count
    * likelihood 1/(T_c + V). Ties break to the smallest label.
    *
    * Scale shape: training is two hash aggregates over the exploded
    * train tokens (per-label totals, per-(label, token) counts);
    * classification explodes the corpus once, joins the (label, token)
    * likelihood table (at real scale bucketed by token), and sums exact
    * integers per (doc, label) — the label set is tiny and rides a
    * broadcast. No per-row UDF, no driver loop.
    *
    * Returns (idCol, label AS actual, pred_label, score_q). */
  // ---- Bernoulli Naive Bayes (reference mllib/classification/
  // NaiveBayes.scala:49 modelType — the SECOND registered model type
  // (:42 "multinomial" or "bernoulli", 1.4+): features are document
  // PRESENCE bits over the training vocabulary, θ_cw = (dfc + λ)/(n_c
  // + 2λ) (:421 thetaLogDenom = log(n + 2.0*lambda)); scoring adds
  // log(1−θ) for ABSENT vocabulary words, which the reference
  // precomputes as negThetaSum (:73-81) so a document costs only its
  // present words: score = prior + Σ_vocab ln(1−θ) + Σ_present (lnθ −
  // ln(1−θ)). The prior is the reference's smoothed pi (:414-418).
  // λ = 1; per-term logs micro-nat quantized BEFORE the exact sums,
  // the s15 conventions.) ----------------------------------------------

  /** ln θ for a PRESENT vocabulary word over (dfc, n_docs), micro-nats. */
  val bnbPresentExpr: String =
    "CAST(round(ln(CAST(dfc + 1 AS DOUBLE) / CAST(n_docs + 2 AS DOUBLE)) * 1000000.0) AS BIGINT)"

  /** ln(1−θ) for an ABSENT vocabulary word — the exact integer-ratio
    * complement (n_c + 1 − dfc)/(n_c + 2), micro-nats. */
  val bnbAbsentExpr: String =
    "CAST(round(ln(CAST((n_docs + 1) - dfc AS DOUBLE) / CAST(n_docs + 2 AS DOUBLE)) * 1000000.0) AS BIGINT)"

  /** Bernoulli NB: fit presence-model parameters on `train`, classify
    * every row of `classify` over the TRAINING vocabulary (tokens unseen
    * in training are not features — the reference's model shape). The
    * per-class absent-word mass Σ ln(1−θ) is ONE vocabulary-bounded
    * aggregate (the negThetaSum precompute), so scoring is row-linear in
    * distinct (doc, present-vocab-token) pairs × |labels|. Returns
    * (idCol, actual, pred_label, score_q), argmax ties toward the
    * smaller label. */
  def bernoulliNaiveBayes(train: DataFrame, classify: DataFrame,
                          idCol: String, textCol: String,
                          labelCol: String): DataFrame = {
    val pres = train
      .select(col(idCol).as("tid"), col(labelCol).as("label"),
        explode(expr(Dedup.tokens(textCol))).as("tok"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nTrainDocs = train.count()
    val classCounts = train.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_docs"))
    val nLabels = classCounts.count() // bounded: one row per label
    val classTotals = classCounts
      .withColumn("priorq", expr(
        s"CAST(round(ln(CAST(n_docs + 1 AS DOUBLE) / CAST($nTrainDocs + $nLabels AS DOUBLE)) * 1000000.0) AS BIGINT)"))
      .localCheckpoint()
    val dfc = pres.groupBy("label", "tok").agg(count(lit(1)).as("dfc"))
    val grid = pres.select("tok").distinct()
      .crossJoin(broadcast(classTotals.select("label", "n_docs")))
      .join(dfc, Seq("label", "tok"), "left")
      .na.fill(0L, Seq("dfc"))
      .selectExpr("label", "tok",
        s"$bnbPresentExpr AS lnpq", s"$bnbAbsentExpr AS lnnq")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = grid.groupBy("label").agg(sum("lnnq").as("baseq"))
      .localCheckpoint() // negThetaSum: one row per label
    val adj = grid.selectExpr("label", "tok", "lnpq - lnnq AS adjq")
      .localCheckpoint() // vocabulary-bounded × |labels|
    val docPres = classify
      .select(col(idCol), explode(expr(Dedup.tokens(textCol))).as("tok"))
      .distinct()
    val tokScores = docPres.join(adj, "tok") // inner: non-vocab tokens are not features
      .groupBy(col(idCol), col("label"))
      .agg(sum("adjq").as("adj_sum"))
    val scores = classify.select(col(idCol), col(labelCol).as("actual"))
      .crossJoin(broadcast(classTotals.select("label", "priorq")))
      .join(broadcast(base), "label")
      .join(tokScores, Seq(idCol, "label"), "left")
      .select(col(idCol), col("actual"), col("label"),
        (col("priorq") + col("baseq") + coalesce(col("adj_sum"), lit(0L))).as("score_q"))
    pres.unpersist(); grid.unpersist()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("score_q").desc, col("label"))
    scores.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col("actual"), col("label").as("pred_label"), col("score_q"))
  }

  def naiveBayes(train: DataFrame, classify: DataFrame,
                 idCol: String, textCol: String, labelCol: String): DataFrame = {
    val spark = train.sparkSession
    val trainToks = train
      .select(col(labelCol).as("label"),
        explode(expr(Dedup.tokens(textCol))).as("tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = trainToks.select("tok").distinct().count()
    val nTrainDocs = train.count()
    // per-label priors + token totals (labels are few: one broadcastable row each)
    val classTotals = train.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_docs"))
      .join(trainToks.groupBy("label").agg(count(lit(1)).as("n_toks")), "label")
      .withColumn("priorq",
        expr(s"CAST(round(ln(CAST(n_docs AS DOUBLE) / CAST($nTrainDocs AS DOUBLE)) * 1e6) AS BIGINT)"))
      .withColumn("oovq",
        expr(s"CAST(round(ln(CAST(1 AS DOUBLE) / CAST(n_toks + $vocab AS DOUBLE)) * 1e6) AS BIGINT)"))
      .localCheckpoint()
    val likelihood = trainToks.groupBy("label", "tok")
      .agg(count(lit(1)).as("c"))
      .join(classTotals.select("label", "n_toks"), "label")
      .select(col("label"), col("tok"),
        expr(s"CAST(round(ln(CAST(c + 1 AS DOUBLE) / CAST(n_toks + $vocab AS DOUBLE)) * 1e6) AS BIGINT)")
          .as("lpq"))
      .localCheckpoint()
    trainToks.unpersist()
    val docToks = classify.select(col(idCol), explode(expr(Dedup.tokens(textCol))).as("tok"))
    // every (doc, label) pair scores; a token unseen in a class takes oovq
    val tokScores = docToks
      .crossJoin(broadcast(classTotals.select("label", "oovq")))
      .join(likelihood, Seq("label", "tok"), "left")
      .groupBy(col(idCol), col("label"))
      .agg(sum(coalesce(col("lpq"), col("oovq"))).as("tok_q"))
    // docs with zero tokens still score every label (prior only)
    val scores = classify.select(col(idCol), col(labelCol).as("actual"))
      .crossJoin(broadcast(classTotals.select("label", "priorq")))
      .join(tokScores, Seq(idCol, "label"), "left")
      .select(col(idCol), col("actual"), col("label"),
        (col("priorq") + coalesce(col("tok_q"), lit(0L))).as("score_q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("score_q").desc, col("label"))
    scores.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col("actual"), col("label").as("pred_label"), col("score_q"))
  }
}
