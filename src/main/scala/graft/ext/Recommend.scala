package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Relational ALS matrix factorization — the MLlib-slice recommendation
  * workhorse done Spark-first (reference satellite:
  * mllib/src/main/scala/org/apache/spark/mllib/recommendation/ALS.scala:91
  * runs the same alternating normal-equation solves over RDD blocks;
  * the ml wrapper mllib/.../ml/recommendation/ALS.scala adds the
  * block-partitioned in/out link machinery this DataFrame shape gets from
  * Catalyst for free: each half-step is one equi-join + one
  * map-side-combined hash aggregate on the solve key).
  *
  * Deliberate deviations from MLlib's ALS, all in service of the
  * cross-engine oracle:
  *   - rank is bounded (r ≤ 4), and every per-key normal equation
  *     (YᵀY/Q² + λI)x = Yᵀr/Q is solved by generated pivoting-free
  *     Gaussian-elimination projection layers over exact integer
  *     sum-of-products aggregates, in plain SQL expressions — no per-row
  *     LAPACK call (MLlib uses a Cholesky per key via NormalEquation,
  *     opaque to an oracle). The nonnegative mode and SVD++ stay at
  *     rank 2, where the closed 2x2 Cramer form is the solve.
  *   - factors are QUANTIZED to integer units (2^16 per 1.0, the k-means
  *     QuantScale recipe) after every solve: all cross-partition sums are
  *     over exact integers (bit-identical under any partitioning or
  *     engine), and the double layer text of each solve consumes exact
  *     BIGINT inputs in a fixed parenthesization, so DuckDB reproduces
  *     every factor bit-for-bit. A float-summing ALS would drift at 1000
  *     executors.
  *   - init is a deterministic hash of the item id, not a seeded RNG —
  *     MLlib's XORShiftRandom stream depends on block layout; a content
  *     hash does not.
  *   - λ is plain (not ALS-WR's rating-count-weighted λ); one less
  *     per-key divisor to mirror.
  *
  * Scale shape per half-step: join ratings (u, i, r) to the other side's
  * factor table on its key, aggregate r(r+3)/2 integer sums per solve
  * key, solve in a projection chain. Ratings shuffle once per half-step
  * on the solve key; the factor tables are (key, r longs) — broadcastable
  * when one side is small (item catalogs usually are), AQE picks that up
  * from stats. Overflow headroom: |fq| stays under ~2^25 quantized units
  * on real rating scales, so a11-class sums clear 2^63 with thousands of
  * ratings per key to spare.
  */
object Recommend {

  /** Quantization scale: 2^16 integer units per 1.0 (smaller than
    * k-means' 2^20 to leave sum-of-squares headroom — see overflow note
    * above). */
  val QuantScale: Long = 1L << 16
  private val Q: Double = QuantScale.toDouble
  private val Q2: Double = Q * Q

  /** Ridge regularizer — fixed across solves and mirrored as a
    * `0.1::DOUBLE` literal in the oracle. */
  val Lambda: Double = 0.1

  // ---- general rank-r ALS (reference mllib/recommendation/ALS.scala:59 —
  // `rank` is the API's FIRST parameter, default 10). The per-key (r×r) SPD normal
  // equation (YᵀY/Q² + λI)x = Yᵀr/Q solves by the [[Solve]] module's
  // pivoting-free Gaussian-elimination layers — but where olsK runs the
  // layers over a 1-row moment state, here EVERY SOLVE KEY'S ROW IS ITS
  // OWN SYSTEM: the generated layer text projects each row of the per-key
  // sums table through init → elimination → back-substitution → quantize,
  // one narrow whole-stage-codegen projection chain per half-step (no
  // per-key LAPACK call, no driver loop — the reference's blocked
  // Cholesky-per-key done as one relational projection). All layer text
  // is shared verbatim with the oracle. r ≤ 4 bounds the collapsed
  // expression tree Catalyst builds from the chained projections. --------

  /** Deterministic rank-`rank` item-factor init in quantized units:
    * dimension 1 is the all-positive popularity direction (f1q ∈ [Q,
    * 1.75Q] stepped by id — every item loads on it, like the
    * all-positive first singular direction of a ratings matrix),
    * dimensions ≥ 2 are SIGN-DIVERSE spreads on coprime moduli (at rank
    * 2, f2q ∈ {-0.5, -0.25, 0, 0.25, 0.5}, the differentiating
    * direction). An all-positive init put every item in a narrow cone,
    * the first user solve encoded mostly noise along the second axis,
    * and completion came out anti-correlated with the training blocks
    * (RecommendSpec's held-out check caught it); signed spread gives the
    * alternation a real second direction from round one. Emitted as
    * expression text so both engines evaluate the identical integer
    * arithmetic — no RNG. */
  def initFactorExprsK(rank: Int, key: String): Seq[String] = {
    require(rank >= 1 && rank <= 4, s"initFactorExprsK: rank $rank outside [1, 4]")
    val mods = Vector(5, 3, 11) // k = 2, 3, 4; coprime to the f1 stepper 7
    (s"CAST(${QuantScale} + (($key % 7) * ${QuantScale / 8}) AS BIGINT) AS f1q") +:
      (2 to rank).map { k =>
        val m = mods(k - 2)
        s"CAST((($key % $m) - ${(m - 1) / 2}) * ${QuantScale / 4} AS BIGINT) AS f${k}q"
      }
  }

  /** The generated half-step solve pipeline for rank `rank`: projection
    * layers applied IN ORDER to the per-key sums row
    * (a_i_j for i ≤ j, b_i — raw quantized-unit BIGINTs). Layer 0
    * rescales to the double system A = a/Q² + λI, b = b/Q (λ on every
    * diagonal — no intercept row, unlike [[Solve.initExprs]]); then
    * [[Solve.elimLayer]]/[[Solve.backLayer]] with system index p ↔
    * factor p+1; the last layer re-quantizes β to f1q..frq. Pure
    * +,−,×,÷,round text — both engines evaluate it verbatim. */
  def alsSolveLayersK(rank: Int, lambda: Double): Seq[Seq[String]] = {
    require(rank >= 1 && rank <= 4, s"alsSolveLayersK: rank $rank outside [1, 4]")
    require(lambda >= 0.0, s"alsSolveLayersK: lambda $lambda must be non-negative")
    val d = rank - 1
    val q2l = s"CAST(${Q2} AS DOUBLE)"
    val ql = s"CAST(${Q} AS DOUBLE)"
    val init =
      (for { p <- 0 to d; c <- p to d } yield {
        val base = s"(CAST(a_${p + 1}_${c + 1} AS DOUBLE) / $q2l)"
        val cell = if (p == c) s"($base + CAST($lambda AS DOUBLE))" else base
        s"$cell AS a_${p}_$c"
      }) ++ (0 to d).map(p => s"(CAST(b_${p + 1} AS DOUBLE) / $ql) AS bb_$p")
    val elim = (0 until d).map(k => Solve.elimLayer(d, k))
    val back = (d to 0 by -1).map(r => Solve.backLayer(d, r))
    val quant = (1 to rank).map(i =>
      s"CAST(round(beta_${i - 1} * $ql) AS BIGINT) AS f${i}q")
    (init +: (elim ++ back)) :+ quant
  }

  /** One general-rank half-step: per-key exact integer sums (the rank-2
    * five-sum aggregate generalized to r(r+1)/2 + r), then the
    * [[alsSolveLayersK]] projection chain. One shuffle on the solve key,
    * map-side combined; the factor output is (key, r longs). */
  private def solveSideK(ratings: DataFrame, other: DataFrame,
                         solveKey: String, otherKey: String,
                         rank: Int, lambda: Double,
                         bcastOther: Boolean = false): DataFrame = {
    val aggs =
      (for { i <- 1 to rank; j <- i to rank }
        yield sum(col(s"f${i}q") * col(s"f${j}q")).as(s"a_${i}_$j")) ++
        (1 to rank).map(i => sum(col("r") * col(s"f${i}q")).as(s"b_$i"))
    // bcastOther marks the catalog-bounded ITEM side (r21, guide §3.1):
    // checkpointed factor generations carry no size statistics, so the
    // planner would sort-merge-join and shuffle the ratings by item; the
    // user-side solves keep the shuffle join (a user factor table is not
    // broadcastable at scale)
    var st = ratings.join(if (bcastOther) broadcast(other) else other, otherKey)
      .groupBy(solveKey)
      .agg(aggs.head, aggs.tail: _*)
    alsSolveLayersK(rank, lambda).foreach { layer =>
      st = st.selectExpr(solveKey +: layer: _*)
    }
    st
  }

  /** `iters` general-rank ALS rounds (reference ALS.scala:59 `rank`,
    * default 10 — here r ≤ 4, the generated-layer guard) over a (u, i, r)
    * ratings table with integer ratings: item-init, then per round solve
    * users against items and items against the fresh users, every solve
    * through [[solveSideK]]. Returns the final (users(u, f1q..frq),
    * items(i, f1q..frq)) factor tables. */
  def alsRank(ratings: DataFrame, rank: Int, iters: Int = 2,
              lambda: Double = Lambda): (DataFrame, DataFrame) = {
    require(rank >= 1 && rank <= 4, s"alsRank: rank $rank outside [1, 4]")
    val r = ratings.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // no eager count: the init distinct populates the cache on first read.
    // r21: the generations checkpoint LAZILY (each factor table's single
    // consumer is the next half-step's join, which materializes it inside
    // its own job); the INIT stays eager — its scan populates the ratings
    // cache before the chained jobs' concurrent map stages touch it — and
    // the final item solve is eager, materializing the whole chain
    // (including the final users) before the unpersist. solveSideK
    // references `other` exactly once, which is what makes the lazy chain
    // race-free; the implicit solve references it twice (the Gramian) and
    // keeps eager generations.
    var items = r.select("i").distinct()
      .selectExpr("i" +: initFactorExprsK(rank, "i"): _*)
      .localCheckpoint()
    var users: DataFrame = null
    for (t <- 1 to iters) {
      users = solveSideK(r, items, "u", "i", rank, lambda, bcastOther = true).localCheckpoint(false)
      items = solveSideK(r, users, "i", "u", rank, lambda).localCheckpoint(t == iters)
    }
    r.unpersist()
    (users, items)
  }

  /** One general-rank implicit-feedback half-step (Hu/Koren/Volinsky,
    * ICDM'08 — reference ALS.scala's implicitPrefs path, :91
    * `implicitPrefs` param, updateBlock's `implicitPrefs` branch,
    * composed with its rank parameter): every observation becomes
    * preference p = 1 with confidence c = 1 + α·r, and the normal
    * equation is (YᵀY + Yᵀ(C−I)Y + λI)x = YᵀCp. The term the reference
    * calls YtY — computed ONCE over the full other-side factor table and
    * broadcast (its central scale trick: the c = 1 baseline over ALL
    * items collapses to this 1-row Gramian of r(r+1)/2 sums, so the
    * per-key work is proportional to OBSERVED ratings only, exactly as
    * in the paper) — is the `g` aggregate below; the per-key correction
    * sums carry the α·r confidence weights (exact integers for integer
    * α·r), and b = Σ(1 + α·r)·y since p = 1 on observed pairs. A
    * pre-layer projection a_ij := g_ij + s_ij feeds the SAME
    * [[alsSolveLayersK]] elimination chain as the explicit solve. */
  private def solveSideImplicitK(ratings: DataFrame, other: DataFrame,
                                 solveKey: String, otherKey: String,
                                 rank: Int, lambda: Double,
                                 alpha: Long,
                                 bcastOther: Boolean = false): DataFrame = {
    val ij = for { i <- 1 to rank; j <- i to rank } yield (i, j)
    val gAggs = ij.map { case (i, j) =>
      sum(col(s"f${i}q") * col(s"f${j}q")).as(s"g_${i}_$j") }
    val g = other.agg(gAggs.head, gAggs.tail: _*)
    val sAggs = ij.map { case (i, j) =>
      sum(lit(alpha) * col("r") * col(s"f${i}q") * col(s"f${j}q")).as(s"s_${i}_$j") } ++
      (1 to rank).map(i =>
        sum((lit(1L) + (lit(alpha) * col("r"))) * col(s"f${i}q")).as(s"b_$i"))
    var st = ratings.join(if (bcastOther) broadcast(other) else other, otherKey)
      .groupBy(solveKey)
      .agg(sAggs.head, sAggs.tail: _*)
      .crossJoin(broadcast(g))
      .selectExpr(solveKey +:
        (ij.map { case (i, j) => s"(g_${i}_$j + s_${i}_$j) AS a_${i}_$j" } ++
          (1 to rank).map(i => s"b_$i")): _*)
    alsSolveLayersK(rank, lambda).foreach { layer =>
      st = st.selectExpr(solveKey +: layer: _*)
    }
    st
  }

  /** `iters` general-rank implicit-feedback ALS rounds over (u, i, r)
    * with integer ratings-as-counts: the [[alsRank]] alternation, init
    * and quantization, each half-step through [[solveSideImplicitK]]
    * against confidences c = 1 + α·r. α stays integer so every
    * confidence-weighted sum is exact. */
  def alsImplicitRank(ratings: DataFrame, rank: Int, iters: Int = 2,
                      alpha: Long = 40L,
                      lambda: Double = Lambda): (DataFrame, DataFrame) = {
    require(rank >= 1 && rank <= 4, s"alsImplicitRank: rank $rank outside [1, 4]")
    val r = ratings.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    r.count()
    var items = r.select("i").distinct()
      .selectExpr("i" +: initFactorExprsK(rank, "i"): _*)
      .localCheckpoint()
    var users: DataFrame = null
    for (_ <- 1 to iters) {
      users = solveSideImplicitK(r, items, "u", "i", rank, lambda, alpha, bcastOther = true).localCheckpoint()
      items = solveSideImplicitK(r, users, "i", "u", rank, lambda, alpha).localCheckpoint()
    }
    r.unpersist()
    (users, items)
  }

  /** One NONNEGATIVE half-step (reference mllib/optimization/NNLS
    * .scala:65 solve — projected conjugate gradient per key, wired in
    * by recommendation/ALS.scala:85,173 setNonnegative): at rank 2 the
    * NNLS KKT point is found by exact active-set ENUMERATION instead of
    * the reference's iterative CG (declared deviation — same convex QP,
    * same unique optimum, but a closed form both engines reproduce
    * bit-for-bit): take the unconstrained Cramer solve when it is
    * already nonnegative (the usual case once the alternation settles
    * in the positive cone); otherwise the optimum lies on a boundary —
    * evaluate both single-variable candidates x2 = 0 (x1 = max(0,
    * b1/a11)) and x1 = 0 (x2 = max(0, b2/a22)) and keep the one with
    * the lower objective ½xᵀAx − bᵀx (ties to the x2 = 0 branch).
    * Sums, λ and quantization as in [[alsRank]] at rank 2; the
    * unconstrained solve is the closed 2x2 Cramer form. */
  private def solveSideNonneg(ratings: DataFrame, other: DataFrame,
                              solveKey: String, otherKey: String,
                              bcastOther: Boolean = false): DataFrame = {
    val sums = ratings.join(if (bcastOther) broadcast(other) else other, otherKey)
      .groupBy(solveKey)
      .agg(
        sum(col("f1q") * col("f1q")).as("a11"),
        sum(col("f1q") * col("f2q")).as("a12"),
        sum(col("f2q") * col("f2q")).as("a22"),
        sum(col("r") * col("f1q")).as("b1"),
        sum(col("r") * col("f2q")).as("b2"))
    val a11 = (col("a11") / lit(Q2)) + lit(Lambda)
    val a12 = col("a12") / lit(Q2)
    val a22 = (col("a22") / lit(Q2)) + lit(Lambda)
    val bd1 = col("b1") / lit(Q)
    val bd2 = col("b2") / lit(Q)
    val det = (a11 * a22) - (a12 * a12)
    val x1u = ((a22 * bd1) - (a12 * bd2)) / det
    val x2u = ((a11 * bd2) - (a12 * bd1)) / det
    val c1 = when(col("b1") > 0, bd1 / a11).otherwise(lit(0.0))
    val c2 = when(col("b2") > 0, bd2 / a22).otherwise(lit(0.0))
    val o1 = ((lit(0.5) * a11) * (c1 * c1)) - (bd1 * c1)
    val o2 = ((lit(0.5) * a22) * (c2 * c2)) - (bd2 * c2)
    val interior = (x1u >= lit(0.0)) && (x2u >= lit(0.0))
    def quant(x: Column): Column = round(x * lit(Q)).cast("long")
    sums.select(col(solveKey),
      quant(when(interior, x1u).when(o1 <= o2, c1).otherwise(lit(0.0))).as("f1q"),
      quant(when(interior, x2u).when(o1 <= o2, lit(0.0)).otherwise(c2)).as("f2q"))
  }

  /** `iters` NONNEGATIVE ALS rounds — [[alsRank]]'s alternation with every
    * solve through [[solveSideNonneg]], the reference's setNonnegative
    * mode: both final factor tables are elementwise ≥ 0, the
    * interpretable-parts contract (NMF) users ask the third ALS mode
    * for. Init stays the sign-diverse [[initFactorExprsK]] at rank 2 — only SOLVED
    * sides are constrained (as in the reference, which clamps inside
    * each solve, not the init); after the first user half-step every
    * subsequent generation lives in the positive cone. */
  def alsNonneg(ratings: DataFrame, iters: Int = 2): (DataFrame, DataFrame) = {
    val r = ratings.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // no eager count: the init scan populates the cache (the [[alsRank]] shape)
    var items = r.select("i").distinct()
      .selectExpr("i" +: initFactorExprsK(2, "i"): _*)
      .localCheckpoint()
    var users: DataFrame = null
    // r21: lazy generation chain (the [[alsRank]] rationale — solveSideNonneg
    // references `other` exactly once); init and the final solve eager
    for (t <- 1 to iters) {
      users = solveSideNonneg(r, items, "u", "i", bcastOther = true).localCheckpoint(false)
      items = solveSideNonneg(r, users, "i", "u").localCheckpoint(t == iters)
    }
    r.unpersist()
    (users, items)
  }

  /** SVD++ (Koren, KDD'08 — "Factorization Meets the Neighborhood";
    * reference graphx/src/main/scala/org/apache/spark/graphx/lib/
    * SVDPlusPlus.scala:67 trains the same model by gradient descent over
    * aggregateMessages rounds): the bias + implicit-feedback factor model
    *   r̂(u,i) = μ + b_u + b_i + q_i · (p_u + |N(u)|^-1/2 Σ_{j∈N(u)} y_j)
    * trained by `iters` full-batch gradient iterations with the
    * reference's exact two-phase structure — phase 1 recomputes every
    * user's implicit vector z_u = p_u + |N(u)|^-1/2 Σ y_j (one join +
    * per-user sum), phase 2 computes every edge's clamped prediction
    * error and applies the reference's update equations, aggregated
    * per-vertex (one edge projection + one per-user and one per-item
    * hash aggregate). Same γ1/γ2/γ6/γ7 learning/decay structure, same
    * min/max rating clamp, same bias init b_v = mean(ratings at v) − μ.
    *
    * Deliberate deviations, same rationale as [[alsRank]]:
    *   - deterministic hash init instead of `Random.nextDouble` arrays
    *     (the reference's TODO at SVDPlusPlus.scala:72 concedes the seed
    *     should be fixed);
    *   - rank fixed at 2, every parameter QUANTIZED to 2^16 integer
    *     units after each update, and each edge's error (and its
    *     invSqrt-weighted variant) quantized before the per-vertex sums —
    *     so every cross-partition aggregate is an exact integer sum and
    *     the one double expression per update is engine-reproducible;
    *   - the reference's message merge drops one side's y-update when
    *     two messages meet (SVDPlusPlus.scala:164 clones g2._2 and then
    *     daxpy's g2._2 again, discarding g1._2) — a defect, not a
    *     semantic; this implementation sums contributions correctly.
    *
    * Scale shape per iteration: ratings join factor tables (the factor
    * side is (key, few longs) — broadcastable), one map-side-combined
    * aggregate per side, update projections; generations
    * localCheckpointed. Returns (users(u, p1q, p2q, z1q, z2q, buq),
    * items(i, q1q, q2q, y1q, y2q, biq), μ). */
  def svdpp(ratings: DataFrame, iters: Int = 2,
            g1: Double = 0.007, g2: Double = 0.007,
            g6: Double = 0.005, g7: Double = 0.015,
            minVal: Double = 1.0, maxVal: Double = 5.0): (DataFrame, DataFrame, Double) = {
    val r = ratings.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // global mean from exact integer sums — one action
    val totRow = r.agg(sum(col("r")), count(lit(1))).head()
    val mu = totRow.getLong(0).toDouble / totRow.getLong(1).toDouble
    def hashInit(key: Column, m: Int, div: Long): Column =
      ((key % m) + 1) * lit(QuantScale / div)
    // bias init: per-vertex rating mean minus μ; invSqrt stays a DOUBLE
    // column (exactly derived from the integer degree — sqrt and divide
    // are correctly-rounded IEEE ops both engines reproduce)
    var users = r.groupBy("u")
      .agg(count(lit(1)).as("deg"), sum(col("r")).as("sr"))
      .select(col("u"),
        hashInit(col("u"), 7, 8).as("p1q"), hashInit(col("u"), 5, 8).as("p2q"),
        lit(0L).as("z1q"), lit(0L).as("z2q"),
        round(((col("sr").cast("double") / col("deg")) - lit(mu)) * lit(Q)).cast("long").as("buq"),
        (lit(1.0) / sqrt(col("deg").cast("double"))).as("nsq"))
      .localCheckpoint()
    var items = r.groupBy("i")
      .agg(count(lit(1)).as("deg"), sum(col("r")).as("sr"))
      .select(col("i"),
        hashInit(col("i"), 7, 8).as("q1q"), hashInit(col("i"), 5, 8).as("q2q"),
        hashInit(col("i"), 3, 8).as("y1q"), hashInit(col("i"), 11, 16).as("y2q"),
        round(((col("sr").cast("double") / col("deg")) - lit(mu)) * lit(Q)).cast("long").as("biq"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      // the item factor table is catalog-bounded (the reference
      // blockifies for the same reason) — broadcast it explicitly so the
      // edge table is never shuffled by item: the checkpointed factor
      // generations have no size statistics, so without the hint the
      // planner sort-merge-joins and pays a full ratings shuffle + sort
      // per join per iteration (r21, guide §3.1)
      // Phase 1: z_u = p_u + invSqrt(u) * Σ y_j over u's rated items
      val ysum = r.join(broadcast(items.select("i", "y1q", "y2q")), "i")
        .groupBy("u").agg(sum("y1q").as("sy1"), sum("y2q").as("sy2"))
      users = users.drop("z1q", "z2q").join(ysum, "u")
        .select(col("u"), col("p1q"), col("p2q"),
          (col("p1q") + round(col("nsq") * col("sy1")).cast("long")).as("z1q"),
          (col("p2q") + round(col("nsq") * col("sy2")).cast("long")).as("z2q"),
          col("buq"), col("nsq"))
        .localCheckpoint()
      // Phase 2: per-edge clamped error, quantized, then per-side sums
      val e = r
        .join(users.select("u", "z1q", "z2q", "buq", "nsq"), "u")
        .join(broadcast(items.select("i", "q1q", "q2q", "y1q", "y2q", "biq")), "i")
      val pred = least(greatest(
        lit(mu) + (col("buq") / lit(Q)) + (col("biq") / lit(Q))
          + ((col("q1q") * col("z1q") + col("q2q") * col("z2q")) / lit(Q2)),
        lit(minVal)), lit(maxVal))
      // persisted: the user-side AND item-side aggregates both consume the
      // scored edge table — without the pin each would replay the
      // three-way join
      val scored = e
        .withColumn("errq", round((col("r") - pred) * lit(Q)).cast("long"))
        .withColumn("ewq", round(col("errq") * col("nsq")).cast("long"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the common update form: cur/Q + γ((S / sDiv) − reg·deg·cur/Q),
      // re-quantized — the oracle repeats this parenthesization verbatim
      def upd(curq: Column, s: Column, sDiv: Double, gamma: Double, reg: Double): Column =
        round(((curq / lit(Q)) + lit(gamma) * ((s / lit(sDiv))
          - (lit(reg) * (col("deg") * (curq / lit(Q)))))) * lit(Q)).cast("long")
      val uagg = scored.groupBy("u").agg(
        count(lit(1)).as("deg"), sum("errq").as("serr"),
        sum(col("errq") * col("q1q")).as("sq1"), sum(col("errq") * col("q2q")).as("sq2"),
        sum("y1q").as("ty1"), sum("y2q").as("ty2"))
      users = users.drop("deg").join(uagg, "u")
        .select(col("u"),
          upd(col("p1q"), col("sq1"), Q2, g2, g7).as("p1q"),
          upd(col("p2q"), col("sq2"), Q2, g2, g7).as("p2q"),
          // z's y-update has the per-user invSqrt factor and a plain −γ7·Σy decay
          round(((col("z1q") / lit(Q)) + lit(g2) * ((col("nsq") * (col("sq1") / lit(Q2)))
            - (lit(g7) * (col("ty1") / lit(Q))))) * lit(Q)).cast("long").as("z1q"),
          round(((col("z2q") / lit(Q)) + lit(g2) * ((col("nsq") * (col("sq2") / lit(Q2)))
            - (lit(g7) * (col("ty2") / lit(Q))))) * lit(Q)).cast("long").as("z2q"),
          upd(col("buq"), col("serr"), Q, g1, g6).as("buq"),
          col("nsq"))
        .localCheckpoint()
      val iagg = scored.groupBy("i").agg(
        count(lit(1)).as("deg"), sum("errq").as("serr"),
        sum(col("errq") * col("z1q")).as("sz1"), sum(col("errq") * col("z2q")).as("sz2"),
        sum(col("ewq") * col("q1q")).as("sw1"), sum(col("ewq") * col("q2q")).as("sw2"))
      items = items.join(iagg, "i")
        .select(col("i"),
          upd(col("q1q"), col("sz1"), Q2, g2, g7).as("q1q"),
          upd(col("q2q"), col("sz2"), Q2, g2, g7).as("q2q"),
          upd(col("y1q"), col("sw1"), Q2, g2, g7).as("y1q"),
          upd(col("y2q"), col("sw2"), Q2, g2, g7).as("y2q"),
          upd(col("biq"), col("serr"), Q, g1, g6).as("biq"))
        .localCheckpoint()
      scored.unpersist() // both side-aggregates are materialized above
    }
    r.unpersist()
    (users, items, mu)
  }

  /** Top-1 unrated item per user under the factor model: score every
    * (user, candidate) pair with the EXACT integer dot product
    * f1q·g1q + f2q·g2q (scale 2^32 — no float argmax, no tie drift;
    * ties break to the smallest item id), excluding already-rated pairs.
    * The item factor table is broadcast — (i, 2 longs) rows stay tiny for
    * realistic catalogs; a billion-item catalog would swap this for the
    * ANN index path (s02-s04). Returns (u, rec_item, score_q). */
  def recommendTop1(ratings: DataFrame, users: DataFrame,
                    items: DataFrame): DataFrame = {
    val cands = users.crossJoin(broadcast(
        items.select(col("i"), col("f1q").as("g1q"), col("f2q").as("g2q"))))
      .join(ratings.select("u", "i"), Seq("u", "i"), "left_anti")
      .select(col("u"), col("i"),
        (col("f1q") * col("g1q") + col("f2q") * col("g2q")).as("score_q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy(col("score_q").desc, col("i"))
    cands.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("u"), col("i").as("rec_item"), col("score_q"))
  }

  /** Batch top-`k` recommendations for EVERY user in `users` (reference
    * mllib/recommendation/MatrixFactorizationModel.scala:128
    * recommendProducts and :270 recommendForAll, which blockifies the
    * same all-items scoring — rated items INCLUDED, unlike
    * [[recommendTop1]]'s unrated-only serving shape; that difference is
    * the reference's own API contract). Items broadcast (a catalog is
    * bounded; the reference blockifies for the same reason), scores are
    * exact integer dot products, and the per-user top-k rank window is
    * partitioned by user over the catalog-bounded candidate set — never
    * a global sort. At billion-item scale this swaps for the ANN index
    * path (s02-s04), exactly as recommendTop1 documents. Returns
    * (u, rnk, rec_item, score_q). */
  def recommendTopK(users: DataFrame, items: DataFrame, k: Int): DataFrame = {
    val cands = users.crossJoin(broadcast(
        items.select(col("i"), col("f1q").as("g1q"), col("f2q").as("g2q"))))
      .select(col("u"), col("i"),
        (col("f1q") * col("g1q") + col("f2q") * col("g2q")).as("score_q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy(col("score_q").desc, col("i"))
    cands.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("u"), col("rnk"), col("i").as("rec_item"), col("score_q"))
  }
}
