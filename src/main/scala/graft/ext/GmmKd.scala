package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Joint (d, K) Gaussian-mixture EM (reference mllib/clustering/
  * GaussianMixture.scala:161 run — the reference model is d-dimensional
  * with K components and a FULL covariance per component via
  * MultivariateGaussian). This module GENERATES the whole EM expression
  * text for any (d ≤ 3, K ≤ 4) from per-dimension kernels (determinant /
  * Mahalanobis / naming / unit-scale) composed with K-fold complement
  * machinery; the fixed-size GMM rows (1, 3) s101, (2, 3) s110 and
  * (3, 2) s116 are instantiations of the same text, each with
  * [[oracleSql]] at the same (d, K) as its oracle. The (2, 2) point
  * reproduces [[Clustering.gmmFit2d]]'s fitted output exactly
  * (GmmKdSpec); s96 keeps that member, which runs faster at its size
  * (its scaladoc has the measurement).
  *
  * Declared deviations from the reference:
  *   - deterministic init from x-axis mean/half-mean region splits
  *     (exact integer membership compares — no double ever decides a
  *     region) instead of random sampling: K = 2 the mean split on the
  *     FIRST coordinate, K = 3 the half-mean three regions (low /
  *     middle / high), K = 4 all three boundaries; each region seeds
  *     its own (weight, mean, covariance).
  *   - responsibilities and parameters re-quantize to micro/milli
  *     integers every step, so every state is engine-portable: d = 1
  *     keeps x in raw units with milli means/variances (m{k}m, v{k}m);
  *     d ≥ 2 keeps milli coordinates and means (m{k}x, m{k}y, …) with
  *     micro covariances (c{k}11, c{k}12, …).
  *   - variances and covariance diagonals floored at 1 (milli at d = 1,
  *     micro at d ≥ 2), so the closed-form inverse never divides by a
  *     collapsed variance; weights floored at 1 micro AND capped at
  *     999999 (the ln-safety convention), so a collapsed component keeps
  *     a live ln() argument on both sides of the 1e6 complement. A
  *     component whose responsibility mass truly collapses (sr = 0)
  *     still fails loudly in the mean division — the input must keep
  *     all K components alive.
  *
  * Structure:
  *   - component K is the exact complement on every statistic — K−1
  *     responsibility columns per E-step scan, never a Kth.
  *   - K = 2 uses the numerically-stable binary SIGMOID responsibility
  *     (no max shift needed); K ≥ 3 the max-shifted softmax (the s15
  *     softmax stabilization, so exp never overflows).
  *
  * Scale shape: init is 2–3 corpus scans; each EM iteration is ONE
  * corpus scan against a broadcast 1-row state plus a 1-row update
  * projection, localCheckpointed — at 1000 executors the per-iteration
  * cost is the scan, and the state stays K·d² integers. */
object GmmKd {

  /** Axis names by dimension index 1..d. */
  def axes(d: Int): Seq[String] = Seq("x", "y", "z").take(d)

  private def pairs(d: Int): Seq[(Int, Int)] =
    for { i <- 1 to d; j <- i to d } yield (i, j)

  private def ax(i: Int): String = Seq("x", "y", "z")(i - 1)

  /** Constant corpus totals carried through every state row: count,
    * exact coordinate sums, DECIMAL(38,0)/HUGEINT second moments. */
  def constCols(d: Int): Seq[String] =
    "n" +: (axes(d).map(a => s"s$a") ++ pairs(d).map { case (i, j) => s"s${ax(i)}${ax(j)}" })

  /** Sum-column suffix: the binary slice keeps unindexed names
    * (sr, srx, …); K ≥ 3 indexes per component (sr1, srx1, …). */
  private def sfx(kTot: Int, k: Int): String = if (kTot == 2) "" else k.toString

  // ---- per-dimension kernel: density pieces ---------------------------

  /** ln-argument weight of component k (component K is the exact
    * 1e6-complement of the stored K−1). */
  private def wD(kTot: Int, k: Int): String =
    if (k == kTot)
      s"CAST(1000000 - ${(1 until kTot).map(j => s"w${j}u").reduce((a, b) => s"($a + $b)")} AS DOUBLE)"
    else s"CAST(w${k}u AS DOUBLE)"

  private def sig2(k: Int, i: Int, j: Int) = s"(CAST(c$k$i$j AS DOUBLE) / 1000000.0)"
  private def dx2(k: Int, a: String) = s"(CAST($a - m$k$a AS DOUBLE) / 1000.0)"
  private def dx1(k: Int) =
    s"(CAST(x AS DOUBLE) - (CAST(m${k}m AS DOUBLE) / 1000.0))"

  /** Σ entry text with canonical (row ≤ col) index order. */
  private def sigE(k: Int, i: Int, j: Int): String =
    if (i <= j) sig2(k, i, j) else sig2(k, j, i)

  /** Cofactor C_ij of the 3×3 Σ_k (symmetric, so adj = cofactor
    * matrix): minor with sign, built from the canonical entries. */
  private def cof3(k: Int, i: Int, j: Int): String = {
    val (r1, r2) = (Seq(1, 2, 3).filter(_ != i)(0), Seq(1, 2, 3).filter(_ != i)(1))
    val (c1, c2) = (Seq(1, 2, 3).filter(_ != j)(0), Seq(1, 2, 3).filter(_ != j)(1))
    val minor = s"((${sigE(k, r1, c1)} * ${sigE(k, r2, c2)}) - (${sigE(k, r1, c2)} * ${sigE(k, r2, c1)}))"
    if ((i + j) % 2 == 0) minor else s"(0.0 - $minor)"
  }

  /** det Σ_k in real units (d = 1: the scalar variance; d = 3: the
    * first-row cofactor expansion). */
  def detExpr(d: Int, k: Int): String = d match {
    case 1 => s"(CAST(v${k}m AS DOUBLE) / 1000.0)"
    case 2 => s"((${sig2(k, 1, 1)} * ${sig2(k, 2, 2)}) - (${sig2(k, 1, 2)} * ${sig2(k, 1, 2)}))"
    case 3 => s"(((${sig2(k, 1, 1)} * ${cof3(k, 1, 1)}) + (${sig2(k, 1, 2)} * ${cof3(k, 1, 2)})) + " +
      s"(${sig2(k, 1, 3)} * ${cof3(k, 1, 3)}))"
  }

  /** Mahalanobis quadratic form dᵀΣ⁻¹d (d = 2 via the 2×2 adjugate —
    * the closed 2×2 form; d = 3 via the symmetric cofactor matrix:
    * Σ diag terms + 2× each off-diagonal). */
  private def qExpr(d: Int, k: Int): String = d match {
    case 1 => s"((${dx1(k)} * ${dx1(k)}) / ${detExpr(1, k)})"
    case 2 =>
      s"(((((${dx2(k, "x")} * ${dx2(k, "x")}) * ${sig2(k, 2, 2)}) - " +
        s"(((2.0 * ${dx2(k, "x")}) * ${dx2(k, "y")}) * ${sig2(k, 1, 2)})) + " +
        s"((${dx2(k, "y")} * ${dx2(k, "y")}) * ${sig2(k, 1, 1)})) / ${detExpr(2, k)})"
    case 3 =>
      val terms =
        (1 to 3).map(i =>
          s"((${dx2(k, ax(i))} * ${dx2(k, ax(i))}) * ${cof3(k, i, i)})") ++
          (for { i <- 1 to 3; j <- i + 1 to 3 } yield
            s"(((2.0 * ${dx2(k, ax(i))}) * ${dx2(k, ax(j))}) * ${cof3(k, i, j)})")
      s"((${terms.reduce((a, b) => s"($a + $b)")}) / ${detExpr(3, k)})"
  }

  /** Half quadratic form, in a fixed parenthesization per d
    * (d = 1 divides the squared deviation by 2σ²;
    * d = 2 halves the adjugate form). */
  private def halfQ(d: Int, k: Int): String = d match {
    case 1 => s"((${dx1(k)} * ${dx1(k)}) / (2.0 * ${detExpr(1, k)}))"
    case _ => s"(0.5 * ${qExpr(d, k)})"
  }

  /** Component-k log-density (2π normalizers cancel within a fixed d). */
  private def logLik(d: Int, kTot: Int, k: Int): String =
    s"((ln(${wD(kTot, k)}) - (0.5 * ln(${detExpr(d, k)}))) - ${halfQ(d, k)})"

  /** Component-k responsibility in micro units: the binary sigmoid at
    * K = 2 (k must be 1), else the max-shifted softmax over all K.
    * exp overflow saturates identically to exactly 0 / 1e6 in both
    * engines (the [[Clustering.gmmRespExpr]] argument). */
  def respExpr(d: Int, kTot: Int, k: Int): String =
    if (kTot == 2) {
      require(k == 1, "binary slice stores only component 1's responsibility")
      s"CAST(round(1000000.0 / (1.0 + exp(ln((1000000.0 - w1u) / CAST(w1u AS DOUBLE)) + " +
        s"((0.5 * ln(${detExpr(d, 1)} / ${detExpr(d, 2)})) + (0.5 * (${qExpr(d, 1)} - ${qExpr(d, 2)})))))) AS BIGINT)"
    } else {
      val ls = (1 to kTot).map(j => logLik(d, kTot, j))
      val mx = s"greatest(${ls.mkString(", ")})"
      val den = ls.map(l => s"exp($l - $mx)").reduce((a, b) => s"($a + $b)")
      s"CAST(round((1000000.0 * exp(${ls(k - 1)} - $mx)) / $den) AS BIGINT)"
    }

  // ---- M-step / init expression generation ----------------------------

  private def meanD(n: String, s: String) = s"(CAST($s AS DOUBLE) / CAST($n AS DOUBLE))"

  /** Weight update/init body with the ln-safety floor + cap. */
  private def wClamp(body: String) = s"greatest(least($body, 999999), 1)"

  /** Ordered state parameter columns for (d, K). */
  def paramCols(d: Int, kTot: Int): Seq[String] =
    (1 until kTot).map(k => s"w${k}u") ++
      (1 to kTot).flatMap(k => d match {
        case 1 => Seq(s"m${k}m")
        case _ => axes(d).map(a => s"m$k$a")
      }) ++
      (1 to kTot).flatMap(k => d match {
        case 1 => Seq(s"v${k}m")
        case _ => pairs(d).map { case (i, j) => s"c$k$i$j" }
      })

  /** The M-step over the per-component responsibility sums plus the
    * constant totals: component K's statistics are exact complements on
    * every axis (reduced over the K−1 stored components). */
  def updateExprs(d: Int, kTot: Int): Seq[(String, String)] = {
    def parts(base: String) =
      (1 until kTot).map(k => s"$base${sfx(kTot, k)}").reduce((a, b) => s"($a + $b)")
    def dparts(base: String) =
      (1 until kTot).map(k => s"CAST($base${sfx(kTot, k)} AS DOUBLE)").reduce((a, b) => s"($a + $b)")
    val weights = (1 until kTot).map { k =>
      s"w${k}u" -> wClamp(s"CAST(sr${sfx(kTot, k)} DIV n AS BIGINT)")
    }
    val stored = (1 until kTot).flatMap { k =>
      val s = sfx(kTot, k)
      d match {
        case 1 =>
          Seq(s"m${k}m" -> s"CAST(round(${meanD(s"sr$s", s"srx$s")} * 1000.0) AS BIGINT)")
        case _ =>
          axes(d).map(a =>
            s"m$k$a" -> s"CAST(round(${meanD(s"sr$s", s"sr$a$s")}) AS BIGINT)")
      }
    }
    val lastMean = d match {
      case 1 =>
        val srK = s"((n * 1000000) - ${parts("sr")})"
        val srxK = s"((CAST(sx AS DOUBLE) * 1000000.0) - ${dparts("srx")})"
        Seq(s"m${kTot}m" -> s"CAST(round(($srxK / CAST($srK AS DOUBLE)) * 1000.0) AS BIGINT)")
      case _ =>
        val srKD = s"((CAST(n AS DOUBLE) * 1000000.0) - ${dparts("sr")})"
        def compD(tot: String, base: String) =
          s"(((CAST($tot AS DOUBLE) * 1000000.0) - ${dparts(base)}) / $srKD)"
        axes(d).map(a =>
          s"m$kTot$a" -> s"CAST(round(${compD(s"s$a", s"sr$a")}) AS BIGINT)")
    }
    val storedCov = (1 until kTot).flatMap { k =>
      val s = sfx(kTot, k)
      d match {
        case 1 =>
          val m = meanD(s"sr$s", s"srx$s")
          Seq(s"v${k}m" -> (s"greatest(CAST(round(((CAST(srxx$s AS DOUBLE) / CAST(sr$s AS DOUBLE)) - " +
            s"($m * $m)) * 1000.0) AS BIGINT), 1)"))
        case _ =>
          pairs(d).map { case (i, j) =>
            val (ai, aj) = (ax(i), ax(j))
            val (mi, mj) = (meanD(s"sr$s", s"sr$ai$s"), meanD(s"sr$s", s"sr$aj$s"))
            val body = s"CAST(round((CAST(sr$ai$aj$s AS DOUBLE) / CAST(sr$s AS DOUBLE)) - ($mi * $mj)) AS BIGINT)"
            s"c$k$i$j" -> (if (i == j) s"greatest($body, 1)" else body)
          }
      }
    }
    val lastCov = d match {
      case 1 =>
        val srK = s"((n * 1000000) - ${parts("sr")})"
        val srxK = s"((CAST(sx AS DOUBLE) * 1000000.0) - ${dparts("srx")})"
        val srxxK = s"((CAST(sxx AS DOUBLE) * 1000000.0) - ${dparts("srxx")})"
        Seq(s"v${kTot}m" -> (s"greatest(CAST(round((($srxxK / CAST($srK AS DOUBLE)) - " +
          s"(($srxK / CAST($srK AS DOUBLE)) * ($srxK / CAST($srK AS DOUBLE)))) * 1000.0) AS BIGINT), 1)"))
      case _ =>
        val srKD = s"((CAST(n AS DOUBLE) * 1000000.0) - ${dparts("sr")})"
        def compD(tot: String, base: String) =
          s"(((CAST($tot AS DOUBLE) * 1000000.0) - ${dparts(base)}) / $srKD)"
        pairs(d).map { case (i, j) =>
          val (ai, aj) = (ax(i), ax(j))
          val body = s"CAST(round(${compD(s"s$ai$aj", s"sr$ai$aj")} - " +
            s"(${compD(s"s$ai", s"sr$ai")} * ${compD(s"s$aj", s"sr$aj")})) AS BIGINT)"
          s"c$kTot$i$j" -> (if (i == j) s"greatest($body, 1)" else body)
        }
    }
    weights ++ stored ++ lastMean ++ storedCov ++ lastCov
  }

  /** Region labels in x-ascending order. */
  def regionNames(kTot: Int): Seq[String] = kTot match {
    case 2 => Seq("l", "h")
    case 3 => Seq("l", "m", "h2")
    case 4 => Seq("l", "m", "m2", "h2")
  }

  /** Per-region stat column names for region label `p`. */
  def regionStatCols(d: Int, p: String): Seq[String] = d match {
    case 1 => Seq(s"n$p", s"s$p", s"ss$p")
    case _ => s"n$p" +: (axes(d).map(a => s"s$p$a") ++
      pairs(d).map { case (i, j) => s"s$p${ax(i)}${ax(j)}" })
  }

  /** Init from the K region stats: every component seeds from its own
    * x-region (weight = region fraction, per-region means and full
    * covariances, diagonals floored). */
  def initExprs(d: Int, kTot: Int): Seq[(String, String)] = {
    val regs = regionNames(kTot)
    val weights = (1 until kTot).map { k =>
      s"w${k}u" -> wClamp(s"CAST((n${regs(k - 1)} * 1000000) DIV n AS BIGINT)")
    }
    val means = (1 to kTot).flatMap { k =>
      val p = regs(k - 1)
      d match {
        case 1 => Seq(s"m${k}m" -> s"CAST(round(${meanD(s"n$p", s"s$p")} * 1000.0) AS BIGINT)")
        case _ => axes(d).map(a =>
          s"m$k$a" -> s"CAST(round(${meanD(s"n$p", s"s$p$a")}) AS BIGINT)")
      }
    }
    val covs = (1 to kTot).flatMap { k =>
      val p = regs(k - 1)
      d match {
        case 1 =>
          val m = meanD(s"n$p", s"s$p")
          Seq(s"v${k}m" -> (s"greatest(CAST(round(((CAST(ss$p AS DOUBLE) / CAST(n$p AS DOUBLE)) - " +
            s"($m * $m)) * 1000.0) AS BIGINT), 1)"))
        case _ =>
          pairs(d).map { case (i, j) =>
            val (ai, aj) = (ax(i), ax(j))
            val (mi, mj) = (meanD(s"n$p", s"s$p$ai"), meanD(s"n$p", s"s$p$aj"))
            val body = s"CAST(round((CAST(s$p$ai$aj AS DOUBLE) / CAST(n$p AS DOUBLE)) - ($mi * $mj)) AS BIGINT)"
            s"c$k$i$j" -> (if (i == j) s"greatest($body, 1)" else body)
          }
      }
    }
    weights ++ means ++ covs
  }

  /** Region membership CASE over x, from the exact integer boundary
    * compares (global mean; half-means of the mean split). Expects the
    * relevant boundary sums in scope: (n, sx) for K = 2;
    * (nlo, slo, nhi, shi) for K = 3; all six for K = 4. */
  def regionExpr(kTot: Int): String = kTot match {
    case 2 => s"CASE WHEN ${Clustering.gmmSplitExpr} THEN 1 ELSE 2 END"
    case 3 => "CASE WHEN (x * nlo) < slo THEN 1 WHEN (x * nhi) < shi THEN 2 ELSE 3 END"
    case 4 => s"CASE WHEN (x * nlo) < slo THEN 1 WHEN ${Clustering.gmmSplitExpr} THEN 2 " +
      "WHEN (x * nhi) < shi THEN 3 ELSE 4 END"
  }

  /** Hard-assignment CASE over the K−1 responsibility columns (ties to
    * the lower component; K = 2 is the r ≥ ½ test). */
  def hardExpr(kTot: Int): String =
    if (kTot == 2) "CAST(CASE WHEN r >= 500000 THEN 1 ELSE 2 END AS BIGINT)"
    else {
      val rK = s"1000000 - ${(1 until kTot).map(k => s"r$k").reduce((a, b) => s"($a + $b)")}"
      val arms = (1 until kTot).map { k =>
        val beats = ((k + 1) until kTot).map(j => s"r$k >= r$j") :+ s"r$k >= $rK"
        s"WHEN ${beats.mkString(" AND ")} THEN $k"
      }
      s"CAST(CASE ${arms.mkString(" ")} ELSE $kTot END AS BIGINT)"
    }

  /** Output weight of component k (K is the complement). */
  def outWeightExpr(kTot: Int, k: Int): String =
    if (k < kTot) s"w${k}u"
    else s"CAST(1000000 - ${(1 until kTot).map(j => s"w${j}u").reduce((a, b) => s"($a + $b)")} AS BIGINT)"

  // ---- layered Spark-side scorer ---------------------------------------
  //
  // [[respExpr]] is ONE self-contained text per responsibility column —
  // the form the DuckDB oracle ingests verbatim. Evaluated as-is on the
  // Spark side it duplicates the determinant/cofactor/log-likelihood
  // subtrees many times over (the d = 2, K = 3 column pair is 2 x 11.6 KB
  // of text), and the per-row cost of the E-step scan blows up with the
  // arity. The scorer below binds each shared piece to a NAMED COLUMN in
  // a chain of projections instead — the same parse trees, the same IEEE
  // op order, just evaluated once per row each (substitution of a named
  // subexpression is value-identical; the oracle, which evaluates
  // [[respExpr]] verbatim, gates every output). Catalyst keeps the layers apart:
  // CollapseProject refuses to inline a non-cheap alias referenced more
  // than once, which every bound piece here is.

  /** dx column name for component k, axis a (d >= 2) / the 1-D deviation. */
  private def dxc(k: Int, a: String) = s"gkd_dx_${k}_$a"

  /** The layered per-row score chain: each element is one projection's
    * expression list (aliased), assuming the previous layers' columns are
    * in scope along with the state columns and axes. The final layer
    * emits the responsibility columns named exactly as [[respExpr]]'s
    * consumers expect (`r` at K = 2, `r1..r{K-1}` otherwise). */
  private def scoreLayers(d: Int, kTot: Int): Seq[Seq[String]] = {
    val ks = 1 to kTot
    // deviations (d >= 2; the 1-D dx1 text stays inline — it is tiny)
    val dxL: Seq[String] = if (d == 1) Nil
    else ks.flatMap(k => axes(d).map(a => s"${dx2(k, a)} AS ${dxc(k, a)}"))
    def dxr(k: Int, a: String): String = if (d == 1) dx1(k) else dxc(k, a)
    // cofactors (d = 3 only)
    val cfL: Seq[String] = if (d != 3) Nil
    else ks.flatMap(k => for { i <- 1 to 3; j <- i to 3 }
      yield s"${cof3(k, i, j)} AS gkd_cf_${k}_${i}_$j")
    def cfr(k: Int, i: Int, j: Int): String =
      if (i <= j) s"gkd_cf_${k}_${i}_$j" else s"gkd_cf_${k}_${j}_$i"
    // determinants, via cofactor refs at d = 3 (same parenthesization)
    val detL: Seq[String] = ks.map { k =>
      val t = d match {
        case 3 => s"(((${sig2(k, 1, 1)} * ${cfr(k, 1, 1)}) + (${sig2(k, 1, 2)} * ${cfr(k, 1, 2)})) + " +
          s"(${sig2(k, 1, 3)} * ${cfr(k, 1, 3)}))"
        case _ => detExpr(d, k)
      }
      s"$t AS gkd_det_$k"
    }
    // quadratic forms via dx/cofactor/det refs (identical term order)
    def qRef(k: Int): String = d match {
      case 1 => s"((${dxr(k, "x")} * ${dxr(k, "x")}) / gkd_det_$k)"
      case 2 =>
        s"(((((${dxr(k, "x")} * ${dxr(k, "x")}) * ${sig2(k, 2, 2)}) - " +
          s"(((2.0 * ${dxr(k, "x")}) * ${dxr(k, "y")}) * ${sig2(k, 1, 2)})) + " +
          s"((${dxr(k, "y")} * ${dxr(k, "y")}) * ${sig2(k, 1, 1)})) / gkd_det_$k)"
      case 3 =>
        val terms =
          (1 to 3).map(i =>
            s"((${dxr(k, ax(i))} * ${dxr(k, ax(i))}) * ${cfr(k, i, i)})") ++
            (for { i <- 1 to 3; j <- i + 1 to 3 } yield
              s"(((2.0 * ${dxr(k, ax(i))}) * ${dxr(k, ax(j))}) * ${cfr(k, i, j)})")
        s"((${terms.reduce((a, b) => s"($a + $b)")}) / gkd_det_$k)"
    }
    if (kTot == 2) {
      val qL = ks.map(k => s"${qRef(k)} AS gkd_q_$k")
      val resp = s"CAST(round(1000000.0 / (1.0 + exp(ln((1000000.0 - w1u) / CAST(w1u AS DOUBLE)) + " +
        s"((0.5 * ln(gkd_det_1 / gkd_det_2)) + (0.5 * (gkd_q_1 - gkd_q_2)))))) AS BIGINT) AS r"
      Seq(dxL, cfL, detL, qL, Seq(resp)).filter(_.nonEmpty)
    } else {
      // half quadratic form in the [[halfQ]] parenthesization per d
      def halfQRef(k: Int): String = d match {
        case 1 => s"((${dxr(k, "x")} * ${dxr(k, "x")}) / (2.0 * gkd_det_$k))"
        case _ => s"(0.5 * ${qRef(k)})"
      }
      val llL = ks.map(k =>
        s"((ln(${wD(kTot, k)}) - (0.5 * ln(gkd_det_$k))) - ${halfQRef(k)}) AS gkd_ll_$k")
      val mxL = Seq(s"greatest(${ks.map(k => s"gkd_ll_$k").mkString(", ")}) AS gkd_mx")
      val denL = Seq(ks.map(k => s"exp(gkd_ll_$k - gkd_mx)")
        .reduce((a, b) => s"($a + $b)") + " AS gkd_den")
      val resp = (1 until kTot).map(k =>
        s"CAST(round((1000000.0 * exp(gkd_ll_$k - gkd_mx)) / gkd_den) AS BIGINT) AS r$k")
      Seq(dxL, cfL, detL, llL, mxL, denL, resp).filter(_.nonEmpty)
    }
  }

  /** Per-row responsibilities of `f` against the broadcast 1-row
    * `state`, through the layered chain; emits the responsibility
    * columns plus `keep` passthroughs. */
  private def scored(f: DataFrame, state: DataFrame, d: Int, kTot: Int,
                     keep: Seq[String]): DataFrame = {
    var cur = f.crossJoin(broadcast(state))
    val layers = scoreLayers(d, kTot)
    val respNames =
      if (kTot == 2) Seq("r") else (1 until kTot).map(k => s"r$k")
    layers.zipWithIndex.foreach { case (layer, i) =>
      val carry =
        if (i == layers.size - 1) keep // final: resp cols + passthrough only
        else cur.columns.toSeq
      cur = cur.selectExpr(carry ++ layer: _*)
    }
    cur.selectExpr(respNames ++ keep: _*)
  }

  // ---- the EM driver --------------------------------------------------

  /** EM fit of a K-component, d-dimensional full-covariance mixture over
    * a (x[, y[, z]] BIGINT) table (d = 1: raw units; d ≥ 2: milli
    * units). Output per component: d = 1
    * (comp, weight_micro, mean_milli, var_milli, n_hard); d = 2
    * (comp, weight_micro, mean_x_milli, mean_y_milli, var_x_micro,
    * cov_xy_micro, var_y_micro, n_hard). */
  def gmmFitKd(xs: DataFrame, d: Int, kTot: Int, iters: Int = 3): DataFrame = {
    require(d >= 1 && d <= 3, s"gmmFitKd: d = $d outside [1, 3]")
    require(kTot >= 2 && kTot <= 4, s"gmmFitKd: K = $kTot outside [2, 4]")
    val cc = constCols(d)
    // spread across the session's cores before persisting: the chain
    // re-scans f with the expression-heavy E-step 3+ times, and a small
    // parquet source yields too few splits to feed them (no-op at real
    // scale / on tiny frames — Scale.spreadForScans scaladoc)
    val base = xs.select(axes(d).map(col): _*)
    val f = Scale.spreadForScans(base, base.count())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // no eager count: the first consumer (the `tot` aggregate below)
    // populates the cache during its own scan — same work, one fewer job
    val totAggs = axes(d).map(a => sum(a).as(s"s$a")) ++
      pairs(d).map { case (i, j) =>
        sum(expr(s"CAST(${ax(i)} * ${ax(j)} AS DECIMAL(38,0))")).as(s"s${ax(i)}${ax(j)}")
      }
    // eager 1-row checkpoint: tot/bounds are each referenced from two
    // places below (the broadcast into the next scan AND the 1-row
    // reattach) — without the pin the lazy aggregate subtree, a full
    // corpus scan, would re-execute per reference
    val tot = f.agg(count(lit(1)).as("n"), totAggs: _*).localCheckpoint()
    // K > 2 needs the half-mean boundaries of the mean split first.
    // KEYLESS aggregates + 1-row reattach (r21): the former
    // groupBy(constCols) carried the constant totals through the scan as
    // grouping keys — three of them DECIMAL(38,0), hashed PER ROW by the
    // aggregate (measured: the two init scans were the fit's
    // CPU-heaviest stages) — when the group is single by construction.
    // Summing keyless and crossJoining the 1-row totals back is
    // value-identical and drops the per-row key hashing plus the
    // grouping-key codegen weight.
    val bounds =
      if (kTot == 2) tot
      else f.crossJoin(broadcast(tot))
        .selectExpr("x",
          s"CASE WHEN ${Clustering.gmmSplitExpr} THEN 1 ELSE 0 END AS lo")
        .agg(sum(expr("lo")).as("nlo"), sum(expr("x * lo")).as("slo"),
          sum(expr("1 - lo")).as("nhi"), sum(expr("x * (1 - lo)")).as("shi"))
        .crossJoin(tot)
        .select((cc ++ Seq("nlo", "slo", "nhi", "shi")).map(col): _*)
        .localCheckpoint()
    val regs = regionNames(kTot)
    val regionAggs = regs.zipWithIndex.flatMap { case (p, idx) =>
      val r = idx + 1
      count_lit(s"reg = $r").as(s"n$p") +: (d match {
        case 1 => Seq(sum(expr(s"CASE WHEN reg = $r THEN x ELSE 0 END")).as(s"s$p"),
          sum(expr(s"CAST(CASE WHEN reg = $r THEN x * x ELSE 0 END AS DECIMAL(38,0))")).as(s"ss$p"))
        case _ =>
          axes(d).map(a =>
            sum(expr(s"CASE WHEN reg = $r THEN $a ELSE 0 END")).as(s"s$p$a")) ++
            pairs(d).map { case (i, j) =>
              sum(expr(s"CAST(CASE WHEN reg = $r THEN ${ax(i)} * ${ax(j)} ELSE 0 END AS DECIMAL(38,0))"))
                .as(s"s$p${ax(i)}${ax(j)}")
            }
      })
    }
    // keyless for the same reason as `bounds`; the constant totals
    // rejoin as one row for the init projection (weights divide by n)
    val regions = f.crossJoin(broadcast(bounds))
      .selectExpr(axes(d) :+ s"${regionExpr(kTot)} AS reg": _*)
      .agg(regionAggs.head, regionAggs.tail: _*)
      .crossJoin(bounds)
    var state = regions.selectExpr(cc ++
        initExprs(d, kTot).map { case (c, e) => s"$e AS $c" }: _*)
      .localCheckpoint()
    val sumAggs = (1 until kTot).flatMap { k =>
      val s = sfx(kTot, k)
      val rn = if (kTot == 2) "r" else s"r$k"
      sum(rn).as(s"sr$s") +: (axes(d).map(a =>
        sum(expr(s"CAST($rn * $a AS DECIMAL(38,0))")).as(s"sr$a$s")) ++
        pairs(d).map { case (i, j) =>
          sum(expr(s"CAST($rn * ${ax(i)} AS DECIMAL(38,0)) * ${ax(j)}")).as(s"sr${ax(i)}${ax(j)}$s")
        })
    }
    // the responsibility chain reads ONLY the param columns — broadcast
    // just those into the scan (guide §2.3 "project before the
    // exchange"): the constant DECIMAL(38,0) corpus totals otherwise ride
    // the nested-loop join and every scorer layer as passthrough columns,
    // fattening the whole-stage-codegen unit for nothing (the M-step's
    // 1-row update projection keeps the full state)
    def params(st: DataFrame): DataFrame =
      st.selectExpr(paramCols(d, kTot): _*)
    for (_ <- 1 to iters) {
      val sums = scored(f, params(state), d, kTot, axes(d))
        .agg(sumAggs.head, sumAggs.tail: _*)
      state = sums.crossJoin(state)
        .selectExpr(cc ++
          updateExprs(d, kTot).map { case (c, e) => s"$e AS $c" }: _*)
        .localCheckpoint()
    }
    val hard = scored(f, params(state), d, kTot, Nil)
      .selectExpr(s"${hardExpr(kTot)} AS comp")
      .groupBy("comp").agg(count(lit(1)).as("n_hard"))
    val outCols = outColNames(d)
    def compRow(k: Int): DataFrame = {
      val params = compParams(d, k)
      val named = if (k == 1) params.zip(outCols).map { case (p, o) => s"$p AS $o" } else params
      state.selectExpr((s"CAST($k AS BIGINT)${if (k == 1) " AS comp" else ""}" +:
        s"${outWeightExpr(kTot, k)}${if (k == 1) " AS weight_micro" else ""}" +: named): _*)
    }
    val comps = (2 to kTot).map(compRow).foldLeft(compRow(1))(_ union _)
    val out = comps.join(hard, Seq("comp"), "left")
      .na.fill(0L, Seq("n_hard"))
    f.unpersist()
    out
  }

  private def count_lit(cond: String) = sum(expr(s"CASE WHEN $cond THEN 1 ELSE 0 END"))

  /** Output column names: per-axis milli means, then the covariance
    * upper triangle in micro (var_ on the diagonal, cov_ off it). */
  private def outColNames(d: Int): Seq[String] = d match {
    case 1 => Seq("mean_milli", "var_milli")
    case _ => axes(d).map(a => s"mean_${a}_milli") ++
      pairs(d).map { case (i, j) =>
        if (i == j) s"var_${ax(i)}_micro" else s"cov_${ax(i)}${ax(j)}_micro"
      }
  }

  private def compParams(d: Int, k: Int): Seq[String] = d match {
    case 1 => Seq(s"m${k}m", s"v${k}m")
    case _ => axes(d).map(a => s"m$k$a") ++
      pairs(d).map { case (i, j) => s"c$k$i$j" }
  }

  // ---- DuckDB mirror --------------------------------------------------

  /** The full unrolled oracle SQL for [[gmmFitKd]]: same shared
    * expression Seqs (DIV → //, DECIMAL second moments as HUGEINT),
    * every chain CTE MATERIALIZED. `xsCte` must define `xs` with the
    * axis columns. */
  def oracleSql(d: Int, kTot: Int, iters: Int, xsCte: String): String = {
    val cc = constCols(d).mkString(", ")
    def fix(e: String) = e.replace(" DIV ", " // ")
    val init = initExprs(d, kTot).map { case (c, e) => s"${fix(e)} AS $c" }.mkString(",\n  ")
    val upd = updateExprs(d, kTot).map { case (c, e) => s"${fix(e)} AS $c" }.mkString(",\n    ")
    val totSel = s"SELECT CAST(count(*) AS BIGINT) AS n, " +
      axes(d).map(a => s"CAST(sum($a) AS BIGINT) AS s$a").mkString(", ") + ", " +
      pairs(d).map { case (i, j) => s"sum(CAST(${ax(i)} * ${ax(j)} AS HUGEINT)) AS s${ax(i)}${ax(j)}" }
        .mkString(", ") + " FROM xs"
    val boundsCte =
      if (kTot == 2) s"bounds AS (SELECT * FROM tot)"
      else s"""bounds AS (SELECT $cc,
         |    CAST(sum(lo) AS BIGINT) AS nlo, CAST(sum(x * lo) AS BIGINT) AS slo,
         |    CAST(sum(1 - lo) AS BIGINT) AS nhi, CAST(sum(x * (1 - lo)) AS BIGINT) AS shi
         |  FROM (SELECT $cc, ${axes(d).mkString(", ")},
         |          CASE WHEN ${Clustering.gmmSplitExpr} THEN 1 ELSE 0 END AS lo
         |        FROM xs CROSS JOIN tot)
         |  GROUP BY $cc)""".stripMargin
    val regs = regionNames(kTot)
    val regionSel = regs.zipWithIndex.flatMap { case (p, idx) =>
      val r = idx + 1
      s"CAST(sum(CASE WHEN reg = $r THEN 1 ELSE 0 END) AS BIGINT) AS n$p" +: (d match {
        case 1 => Seq(s"CAST(sum(CASE WHEN reg = $r THEN x ELSE 0 END) AS BIGINT) AS s$p",
          s"sum(CAST(CASE WHEN reg = $r THEN x * x ELSE 0 END AS HUGEINT)) AS ss$p")
        case _ =>
          axes(d).map(a =>
            s"CAST(sum(CASE WHEN reg = $r THEN $a ELSE 0 END) AS BIGINT) AS s$p$a") ++
            pairs(d).map { case (i, j) =>
              s"sum(CAST(CASE WHEN reg = $r THEN ${ax(i)} * ${ax(j)} ELSE 0 END AS HUGEINT)) AS s$p${ax(i)}${ax(j)}"
            }
      })
    }.mkString(",\n    ")
    val respSel = (1 until kTot).map { k =>
      val n = if (kTot == 2) "r" else s"r$k"
      s"${fix(respExpr(d, kTot, k))} AS $n"
    }.mkString(",\n          ")
    val sumSel = (1 until kTot).flatMap { k =>
      val s = sfx(kTot, k)
      val rn = if (kTot == 2) "r" else s"r$k"
      s"CAST(sum($rn) AS BIGINT) AS sr$s" +: (axes(d).map(a =>
        s"sum(CAST($rn * $a AS HUGEINT)) AS sr$a$s") ++
        pairs(d).map { case (i, j) =>
          s"sum(CAST($rn * ${ax(i)} AS HUGEINT) * ${ax(j)}) AS sr${ax(i)}${ax(j)}$s"
        })
    }.mkString(",\n    ")
    val iterCtes = (1 to iters).map { k =>
      s"""ga$k AS MATERIALIZED (
         |  SELECT $sumSel
         |  FROM (SELECT $respSel, ${axes(d).mkString(", ")}
         |        FROM xs CROSS JOIN g${k - 1})),
         |g$k AS MATERIALIZED (SELECT $cc, $upd FROM ga$k CROSS JOIN g${k - 1})""".stripMargin
    }.mkString(",\n")
    val outCols = outColNames(d)
    def compSel(k: Int): String = {
      val params = compParams(d, k)
      val named = if (k == 1) params.zip(outCols).map { case (p, o) => s"$p AS $o" } else params
      val head = if (k == 1) s"SELECT CAST($k AS BIGINT) AS comp, ${outWeightExpr(kTot, k)} AS weight_micro"
      else s"SELECT CAST($k AS BIGINT), ${outWeightExpr(kTot, k)}"
      s"$head, ${named.mkString(", ")} FROM g$iters"
    }
    s"""WITH $xsCte,
       |tot AS ($totSel),
       |$boundsCte,
       |g0 AS MATERIALIZED (SELECT $cc,
       |  $init
       |  FROM (
       |  SELECT $cc,
       |    $regionSel
       |  FROM (SELECT b.*, ${axes(d).map(a => s"p.$a").mkString(", ")},
       |          ${fix(regionExpr(kTot))} AS reg
       |        FROM xs p CROSS JOIN bounds b)
       |  GROUP BY $cc)),
       |$iterCtes,
       |hard AS (SELECT ${fix(hardExpr(kTot))} AS comp
       |  FROM (SELECT $respSel
       |        FROM xs CROSS JOIN g$iters)),
       |hc AS (SELECT comp, CAST(count(*) AS BIGINT) AS n_hard FROM hard GROUP BY 1),
       |comps AS (${(1 to kTot).map(compSel).mkString("\n  UNION ALL ")})
       |SELECT c.comp, c.weight_micro, ${outCols.map(o => s"c.$o").mkString(", ")},
       |  COALESCE(h.n_hard, 0) AS n_hard
       |FROM comps c LEFT JOIN hc h USING (comp) ORDER BY comp""".stripMargin
  }
}
