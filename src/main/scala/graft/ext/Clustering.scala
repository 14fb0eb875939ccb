package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Relational Lloyd k-means over an embedding column — the MLlib-slice
  * analog done Spark-first (reference satellite:
  * mllib/src/main/scala/org/apache/spark/mllib/clustering/KMeans.scala:48
  * runs the same assign/recompute loop over RDDs with collected centers).
  *
  * Scale + determinism design:
  *   - Vectors are quantized ONCE to exact integer units
  *     (`round(x * 2^20) as bigint`), so every centroid is derived from
  *     exact integer sums — bit-identical under any partitioning or
  *     engine, where a naive double mean would drift at 1000 executors.
  *   - Centroids are k x dims doubles — tiny — so each Lloyd iteration is
  *     ONE narrow scan (a compiled argmin kernel over broadcast-captured
  *     centroids) plus ONE map-side-combined groupBy(cluster) of per-dim
  *     integer sums. No joins, no explode: 2 stages per iteration at any
  *     corpus size, the same shape MLlib's implementation shuffles.
  *   - Ties (equal distance) break toward the lowest cluster label;
  *     clusters that lose all members are dropped (both rules mirrored in
  *     the DuckDB oracle).
  */
object Clustering {

  /** Quantization scale: 2^20 integer units per 1.0. */
  val QuantScale: Long = 1L << 20

  /** Argmin-distance assignment over a fixed (label, centroid) set; the
    * centroid matrix is captured in the closure, the loop is JIT'd, and
    * doubles accumulate left-to-right (engine-portable). */
  def assignUdf(centers: Seq[(Long, Array[Double])]): UserDefinedFunction = {
    val labels = centers.map(_._1).toArray
    val cs = centers.map(_._2).toArray
    udf { (vq: Seq[Long]) =>
      if (vq == null) None
      else {
        val x = vq.toArray
        var best = 0; var bestD = Double.PositiveInfinity
        var j = 0
        while (j < cs.length) {
          val c = cs(j); val n = math.min(c.length, x.length)
          var d = 0.0; var i = 0
          while (i < n) { val t = x(i) - c(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = j } // strict: ties keep lowest label
          j += 1
        }
        Some(labels(best))
      }
    }
  }

  /** (vec_id, vq) table: vectors quantized to exact integer units. The
    * lambda is interpreted but runs once per pipeline over 64 elements —
    * and `round` here must be SQL round (half away from zero) to stay
    * engine-portable, which a JVM `math.round` would not be. */
  def quantized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("vec_id"),
      expr(s"transform(cast($vecCol as array<double>), x -> cast(round(x * $QuantScale) as bigint))").as("vq"))

  // ---- k-means|| initialization (reference mllib/clustering/
  // KMeans.scala:370 initKMeansParallel — Bahmani et al., VLDB'12, the
  // DEFAULT init (:55 K_MEANS_PARALLEL): per round every point is
  // sampled independently with probability ∝ l·cost(x)/φ (:428-432
  // `rand.nextDouble() < 2.0 * c(r) * k / sumCosts(r)`), the sampled
  // points join the candidate set, and the candidates are finally
  // weighted by how many points they're closest to (:440s) before the
  // local refinement. DECLARED DEVIATIONS: the Bernoulli draw is a
  // deterministic per-id hash residue (the house no-RNG rule — the
  // reference's XORShift stream depends on partition layout, :429),
  // costs are scaled DIV 1024 before the φ sum (keeps φ exact BIGINT
  // with 2^63 headroom at any corpus size; the selection inequality is
  // scaled on both sides so the rule is unchanged), and the driver-side
  // LocalKMeans refinement is elided — s05/s07 already gate Lloyd; the
  // distributed oversampling + weighting IS this algorithm's content. --

  /** The scaled Bernoulli selection: pick x iff
    * u(id, round)/2^31 < l·costk(x)/φk, cross-multiplied (one double
    * comparison, fixed parenthesization, shared with the oracle). The
    * round number enters the draw — the reference reseeds per round
    * (:429 `new XORShiftRandom(seed ^ (step << 16) ^ index)`); a draw
    * reused across rounds correlates them (round 1 consumes exactly the
    * low-residue points and later rounds starve — measured: 0 of ~8
    * expected picks in round 2). Points already in the candidate set
    * have cost 0 and can never re-select. Expects (vec_id, cost, phik)
    * in scope. */
  def kppSelExpr(l: Int, round: Int): String =
    // vec_id is reduced mod 2^31 BEFORE the Knuth multiply: (2^31-1) ×
    // 2654435761 ≈ 5.7e18 stays inside BIGINT, whereas the raw product
    // overflows for vec_id ≳ 3.47e9 — Spark would silently wrap negative
    // (admitting every point) while DuckDB throws. Identical draws for
    // all ids < 2^31, so small-SF results are unchanged.
    s"(CAST((((vec_id % 2147483648) * 2654435761) + ($round * 1013904223)) % 2147483648 AS DOUBLE) * CAST(phik AS DOUBLE)) < " +
      s"((CAST($l AS DOUBLE) * CAST(cost DIV 1024 AS DOUBLE)) * 2147483648.0)"

  /** Exact integer squared distance between the point's `vq` and a
    * candidate's `cq` (both quantized BIGINT arrays). */
  val kppDistExpr: String =
    "CAST(aggregate(zip_with(vq, cq, (a, b) -> (a - b) * (a - b)), " +
      "CAST(0 AS BIGINT), (acc, x) -> acc + x) AS BIGINT)"

  /** k-means|| oversampling: `rounds` rounds of cost-proportional
    * selection from the min-id seed, then candidate weighting. Per
    * round: ONE point × candidate join (candidates are a broadcast
    * handful by construction) + a per-point min + a 1-row φ aggregate +
    * the selection filter — row-linear at any corpus size. Returns
    * (cand_id, round_added, weight), weight = points closest to the
    * candidate (ties toward the smaller candidate id; a candidate
    * shadowed by an identical lower-id vector weighs 0). */
  def kmeansParallelInit(df: DataFrame, idCol: String, vecCol: String,
                         l: Int = 8, rounds: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = quantized(df, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    v.count()
    var cands = v.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("cand"), col("vq").as("cq"),
        lit(0L).as("round_added"))
      .localCheckpoint()
    for (r <- 1 to rounds) {
      val costs = v.crossJoin(broadcast(cands.select("cand", "cq")))
        .selectExpr("vec_id", s"$kppDistExpr AS d2")
        .groupBy("vec_id").agg(min("d2").as("cost"))
      val phik = costs.agg(sum(expr("cost DIV 1024")).as("phik"))
      val fresh = costs.crossJoin(broadcast(phik))
        .filter(expr(kppSelExpr(l, r)))
        .join(v, "vec_id")
        .select(col("vec_id").as("cand"), col("vq").as("cq"),
          lit(r.toLong).as("round_added"))
      cands = cands.unionByName(fresh).localCheckpoint()
    }
    val weights = v.crossJoin(broadcast(cands.select("cand", "cq")))
      .selectExpr("vec_id", "cand", s"$kppDistExpr AS d2")
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("d2"), col("cand"))))
      .filter(col("rn") === 1)
      .groupBy("cand").agg(count(lit(1)).as("weight"))
    val out = cands.join(weights, Seq("cand"), "left")
      .na.fill(0L, Seq("weight"))
      .select(col("cand").as("cand_id"), col("round_added"), col("weight"))
    v.unpersist()
    out
  }

  /** Full Lloyd run: returns the per-cluster summary
    * (cluster, n_members, min_member, mean_sqnorm) after `iters`
    * assign/recompute rounds seeded by the `k` smallest-id vectors. */
  def kmeans(df: DataFrame, idCol: String, vecCol: String, dims: Int,
             k: Int = 4, iters: Int = 2): DataFrame =
    kmeansFrom(quantized(df, idCol, vecCol), dims, k, iters)

  /** Lloyd training loop: returns the final (label, centroid) set after
    * `iters` assign/recompute rounds over `train`, seeded by the k
    * smallest-id vectors (orderBy+limit, not filter(id < k): ids may be
    * sparse or non-0-based). Each round is one narrow scan + one
    * map-side-combined groupBy — the collected table is k rows. */
  private def lloydCenters(train: DataFrame, dims: Int, k: Int,
                           iters: Int): Seq[(Long, Array[Double])] = {
    var centers: Seq[(Long, Array[Double])] = train.orderBy("vec_id").limit(k).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).map(_.toDouble).toArray)).toSeq
    require(centers.nonEmpty, "kmeans: input has no vectors to seed from")
    val sumAggs = (0 until dims).map(d =>
      sum(expr(s"element_at(vq, ${d + 1})")).as(s"s$d")) :+ count(lit(1)).as("cnt")
    for (_ <- 1 to iters) {
      val rows = train.withColumn("cluster", assignUdf(centers)(col("vq")))
        .groupBy("cluster").agg(sumAggs.head, sumAggs.tail: _*)
        .collect()
      // recomputed centroid = exact integer sums / count; emptied clusters drop
      centers = rows.map { r =>
        val cnt = r.getLong(dims + 1).toDouble
        (r.getLong(0), (0 until dims).map(d => r.getLong(d + 1).toDouble / cnt).toArray)
      }.sortBy(_._1).toSeq
    }
    centers
  }

  /** Final assignment + per-cluster summary of `q` under `centers` —
    * public so the streaming path ([[streamingUpdate]]) can summarize a
    * corpus under its decay-trained centers with the identical
    * (argmin-assign, integer-sum) rules the batch path uses. */
  def assignSummary(q: DataFrame,
                    centers: Seq[(Long, Array[Double])]): DataFrame =
    summarize(q, centers)

  /** One STREAMING k-means micro-batch update (reference
    * mllib/src/main/scala/org/apache/spark/mllib/clustering/
    * StreamingKMeans.scala:88 — the same decay-weighted rule
    *   c' = (c · w·a + Σ_batch x) / (w·a + m),  w' = w·a + m
    * applied there per batch via update(), with the model held on the
    * driver between batches exactly as callers hold `centers` here
    * across foreachBatch invocations). `batch` is an already-quantized
    * (vec_id, vq) frame; the batch work is ONE assignment scan (compiled
    * argmin over the broadcast-captured centers) plus ONE
    * map-side-combined per-cluster aggregate of exact integer per-dim
    * sums — so every cross-partition sum is engine- and
    * partitioning-exact, and the single double expression per dim
    * ((c_d · wa) + S_d) / (wa + m) has fixed parenthesization for the
    * oracle. Clusters with no batch members keep their centroid and
    * decay their weight (the reference's behavior); decay = 1 never
    * forgets, decay = 0 makes each update a pure Lloyd step (so N
    * static re-feeds ≡ N Lloyd iterations — StreamingSpec pins that
    * equivalence against [[kmeansFrom]]). */
  def streamingUpdate(centers: Seq[(Long, Double, Array[Double])],
                      batch: DataFrame, dims: Int,
                      decay: Double): Seq[(Long, Double, Array[Double])] = {
    val sumAggs = (0 until dims).map(d =>
      sum(expr(s"element_at(vq, ${d + 1})")).as(s"s$d")) :+ count(lit(1)).as("cnt")
    val rows = batch
      .withColumn("cluster", assignUdf(centers.map(c => (c._1, c._3)))(col("vq")))
      .groupBy("cluster").agg(sumAggs.head, sumAggs.tail: _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    centers.map { case (label, w, c) =>
      val wa = w * decay
      rows.get(label) match {
        case Some(r) =>
          val m = r.getLong(dims + 1)
          val nc = (0 until dims)
            .map(d => ((c(d) * wa) + r.getLong(d + 1)) / (wa + m)).toArray
          (label, wa + m, nc)
        case None => (label, wa, c)
      }
    }
  }

  /** Final assignment + per-cluster summary of `q` under `centers`. */
  private def summarize(q: DataFrame,
                        centers: Seq[(Long, Array[Double])]): DataFrame =
    q.withColumn("cluster", assignUdf(centers)(col("vq")))
      .withColumn("sqnorm", expr("aggregate(vq, 0L, (a, x) -> a + x * x)"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"), min("vec_id").as("min_member"),
        sum("sqnorm").as("ssq"))
      .select(col("cluster"), col("n_members"), col("min_member"),
        round(col("ssq").cast("double") / col("n_members") / (QuantScale.toDouble * QuantScale), 4)
          .as("mean_sqnorm"))

  /** Lloyd over an already-quantized (vec_id, vq) table. */
  def kmeansFrom(vq: DataFrame, dims: Int, k: Int, iters: Int): DataFrame = {
    val q = vq.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = summarize(q, lloydCenters(q, dims, k, iters)).localCheckpoint()
    q.unpersist()
    out
  }

  /** Sample-trained k-means — the 100 TB recipe: Lloyd iterates over a
    * deterministic hash sample (`vec_id % sampleMod == 0`), then the FULL
    * corpus is assigned exactly once. Full-corpus Lloyd reads the corpus
    * iters+1 times; this reads sample x iters + corpus x 1 — at a billion
    * vectors the training passes shrink by sampleMod while centroid
    * quality (k tiny, sample still huge) is statistically unchanged. The
    * hash sample (not Bernoulli) keeps the result engine-exact for the
    * oracle. */
  def kmeansSampled(df: DataFrame, idCol: String, vecCol: String, dims: Int,
                    k: Int = 4, iters: Int = 2, sampleMod: Int = 4): DataFrame = {
    val q = quantized(df, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centers = lloydCenters(q.filter(col("vec_id") % sampleMod === 0), dims, k, iters)
    val out = summarize(q, centers).localCheckpoint()
    q.unpersist()
    out
  }

  /** Per-parent-cluster 2-way argmin assignment: each row competes only
    * against its OWN cluster's sub-centers (ties keep the lowest sub
    * index, like [[assignUdf]]). Parents with one surviving sub-center
    * send everything to it. */
  private def assignWithinUdf(centers: Map[Long, Array[(Long, Array[Double])]]): UserDefinedFunction =
    udf { (cluster: Long, vq: Seq[Long]) =>
      val cs = centers(cluster)
      val x = vq.toArray
      var best = 0; var bestD = Double.PositiveInfinity
      var j = 0
      while (j < cs.length) {
        val c = cs(j)._2; val n = math.min(c.length, x.length)
        var d = 0.0; var i = 0
        while (i < n) { val t = x(i) - c(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      cs(best)._1
    }

  /** Level-synchronous bisecting k-means (reference
    * mllib/src/main/scala/org/apache/spark/mllib/clustering/
    * BisectingKMeans.scala:112 — run() splits ALL divisible clusters each
    * pass with an inner 2-means until >= k leaves; this thin slice runs
    * `levels` full passes, so k = 2^levels, and labels clusters by the
    * same binary tree encoding the reference uses (root 1, children 2n /
    * 2n+1 — BisectingKMeans.scala's leftChildIndex/rightChildIndex)).
    * Per level: 2-means inside every current cluster, seeded by the
    * cluster's two smallest-id vectors (deterministic, no RNG — the
    * [[kmeans]] seeding rule applied per cluster), `iters` Lloyd rounds
    * where each round is ONE scan (compiled per-cluster argmin over the
    * broadcast-captured seed map) + ONE map-side-combined integer-sum
    * aggregate of clusters x 2 rows. Sub-clusters that lose all members
    * drop (the [[kmeans]] convention); a cluster left with one sub keeps
    * its rows under that surviving child's label. Centroids derive from exact integer
    * sums — bit-identical under any partitioning or engine.
    * Returns the per-leaf summary (cluster, n_members, min_member,
    * mean_sqnorm). */
  def bisectingKmeans(df: DataFrame, idCol: String, vecCol: String, dims: Int,
                      levels: Int = 2, iters: Int = 2): DataFrame = {
    val q = quantized(df, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var a = q.withColumn("cluster", lit(1L)).localCheckpoint()
    val sumAggs = (0 until dims).map(d =>
      sum(expr(s"element_at(vq, ${d + 1})")).as(s"s$d")) :+ count(lit(1)).as("cnt")
    for (_ <- 1 to levels) {
      // seeds: the 2 smallest-id vectors per cluster (clusters x 2 rows)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster").orderBy("vec_id")
      var centers: Map[Long, Array[(Long, Array[Double])]] = a
        .withColumn("sub", (row_number().over(w) - 1).cast("long"))
        .filter(col("sub") <= 1)
        .select("cluster", "sub", "vq")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[Long](2).map(_.toDouble).toArray))
        .groupBy(_._1)
        .map { case (cl, rows) =>
          cl -> rows.map(t => (t._2, t._3)).sortBy(_._1).toArray
        }
      for (_ <- 1 to iters) {
        val rows = a.withColumn("sub", assignWithinUdf(centers)(col("cluster"), col("vq")))
          .groupBy("cluster", "sub").agg(sumAggs.head, sumAggs.tail: _*)
          .collect()
        centers = rows
          .map { r =>
            val cnt = r.getLong(dims + 2).toDouble
            (r.getLong(0), r.getLong(1),
              (0 until dims).map(d => r.getLong(d + 2).toDouble / cnt).toArray)
          }
          .groupBy(_._1)
          .map { case (cl, rs) =>
            cl -> rs.map(t => (t._2, t._3)).sortBy(_._1).toArray
          }
      }
      a = a.withColumn("sub", assignWithinUdf(centers)(col("cluster"), col("vq")))
        .withColumn("cluster", col("cluster") * 2 + col("sub"))
        .drop("sub")
        .localCheckpoint()
    }
    val out = a
      .withColumn("sqnorm", expr("aggregate(vq, 0L, (a, x) -> a + x * x)"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"), min("vec_id").as("min_member"),
        sum("sqnorm").as("ssq"))
      .select(col("cluster"), col("n_members"), col("min_member"),
        round(col("ssq").cast("double") / col("n_members") / (QuantScale.toDouble * QuantScale), 4)
          .as("mean_sqnorm"))
      .localCheckpoint()
    q.unpersist()
    out
  }

  /** Sampled-Lloyd centroid TRAINING only — the training half of
    * [[kmeansSampled]], exposed for index builds (IVF coarse quantizers,
    * PQ-style codebooks) that need the centers without the summary pass.
    * Returns the k-or-fewer (label, centroid) rows in quantized units;
    * the sampled train table is persisted for the iters+1 training passes
    * and released before returning. At production scale these centers are
    * what you'd persist as a centroid table (the x04 storage convention)
    * and reuse across every query against the index. */
  def sampledCenters(df: DataFrame, idCol: String, vecCol: String, dims: Int,
                     k: Int, iters: Int, sampleMod: Int): Seq[(Long, Array[Double])] = {
    val t = quantized(df, idCol, vecCol)
      .filter(col("vec_id") % sampleMod === 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centers = lloydCenters(t, dims, k, iters)
    t.unpersist()
    centers
  }

  // ---- Gaussian mixture, 1-D two-component EM (reference mllib/
  // clustering/GaussianMixture.scala:161 run — per EM iteration one
  // aggregate of per-point responsibility-weighted sums (:198, the
  // ExpectationSum treeAggregate) then a driver update of weights and
  // gaussians (:238) — exactly the scan + 1-row-projection loop below.
  // Thin-slice deviations, declared: one dimension, two components, and
  // a SHARED variance held fixed at the population variance (the
  // reference re-fits per-component covariances; a known-common-variance
  // location mixture keeps the responsibility a pure sigmoid of x, so
  // the whole E-step shares the s19 sigmoid machinery and quantizes to
  // exact micro integers) ----------------------------------------------

  // ---- topic models, K-topic PLSA EM (reference mllib/clustering/
  // LDA.scala:46, `k` the headline parameter — :131 setK; the EM path —
  // LDAOptimizer.scala:79 EMLDAOptimizer — re-aggregates per-edge topic
  // responsibilities over the doc-term graph every iteration (:150 next,
  // responsibilities from LDA.scala:418 computePTopic), which is exactly
  // the counts ⋈ theta ⋈ phi join + two groupBys below). DECLARED
  // DEVIATIONS: PLSA EM (the α = η → 1 limit of the smoothed EM below —
  // no Dirichlet smoothing), and parity-seeded doc mixtures: EM needs an
  // asymmetric start to leave the symmetric fixed point, and the
  // reference's randomized init is exactly what an oracle gate cannot
  // allow. INTEGER-EXACT throughout: K−1 stored mixtures and
  // responsibilities in micro units, complement columns keep every sum
  // exact, so the E-step is one integer multiply/divide — not one double
  // in the whole chain (the p13 standard). Resolution note: phi lives in
  // micro-units, so vocabularies must stay well under 1e6 tokens (raise
  // the quantization scale beyond that). -------------------------------

  /** Topic-k PLSA responsibility in micro units over the K−1 stored doc
    * mixtures (th1..) and the K emissions (p1..pK) — pure integer
    * arithmetic; a word with zero mass in EVERY topic falls back to the
    * uniform 1e6 DIV K (½ at K = 2). */
  def plsaRespExprK(kTot: Int, k: Int): String = {
    val thK = s"(1000000 - ${(1 until kTot).map(j => s"th$j").reduce((a, b) => s"($a + $b)")})"
    def term(j: Int) = if (j < kTot) s"(th$j * p$j)" else s"($thK * p$kTot)"
    val den = (1 to kTot).map(term).reduce((a, b) => s"($a + $b)")
    s"CAST(CASE WHEN $den = 0 THEN ${1000000 / kTot} " +
      s"ELSE (${term(k)} * 1000000) DIV $den END AS BIGINT)"
  }

  /** K-topic PLSA over (`idCol`, `textCol`) documents: `iters` EM
    * iterations, each ONE counts ⋈ theta ⋈ phi join (row-linear in
    * distinct (doc, word) pairs) plus a per-doc and a per-word hash
    * aggregate (K−1 and K sum columns respectively); both state tables
    * localCheckpoint per iteration (the pregel discipline — theta is
    * doc-scaled, phi vocabulary-bounded). Doc mixtures seed by the
    * [[ldaSeedFracExpr]] K-residue parity (250000/750000 at K = 2).
    * Returns the top-`topK` words per topic: (topic, rnk, tok,
    * phi_micro), ties toward the smaller token. */
  def plsaTopicsK(docs: DataFrame, idCol: String, textCol: String,
                  kTot: Int, iters: Int = 2, topK: Int = 8): DataFrame = {
    require(kTot >= 2 && kTot <= 6, s"plsaTopicsK: K = $kTot outside [2, 6]")
    import org.apache.spark.sql.expressions.Window
    val ks = 1 until kTot
    val counts = docs.select(col(idCol).as("did"),
        explode(split(col(textCol), " ")).as("tok"))
      .groupBy("did", "tok").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    counts.count()
    val vocabN = counts.agg(count_distinct(col("tok")).as("vn"))
    var theta = counts.select("did").distinct()
      .selectExpr("did" +:
        ks.map(k => s"CAST(${ldaSeedFracExpr(kTot, k)} AS BIGINT) AS th$k"): _*)
      .localCheckpoint()
    var phi = counts.select("tok").distinct()
      .crossJoin(broadcast(vocabN))
      .selectExpr("tok" +:
        (1 to kTot).map(k => s"CAST(1000000 DIV vn AS BIGINT) AS p$k"): _*)
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val rK = s"(1000000 - ${ks.map(k => s"r$k").reduce((a, b) => s"($a + $b)")})"
      val scored = counts.join(theta, "did").join(phi, "tok")
        .selectExpr(Seq("did", "tok", "c") ++
          ks.map(k => s"${plsaRespExprK(kTot, k)} AS r$k"): _*)
        .selectExpr(Seq("did", "c", "tok") ++
          ks.map(k => s"r$k * c AS s${k}c") :+ s"$rK * c AS s${kTot}c": _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      theta = scored.groupBy("did")
        .agg(sum("s1c").as("sc1"),
          (ks.drop(1).map(k => sum(s"s${k}c").as(s"sc$k")) :+ sum("c").as("sc")): _*)
        .selectExpr("did" +:
          ks.map(k => s"CAST(sc$k DIV sc AS BIGINT) AS th$k"): _*)
        .localCheckpoint()
      val pa = scored.groupBy("tok")
        .agg(sum("s1c").as("w1"),
          (2 to kTot).map(k => sum(s"s${k}c").as(s"w$k")): _*)
      val tot = pa.agg(sum("w1").as("t1"),
        (2 to kTot).map(k => sum(s"w$k").as(s"t$k")): _*)
      phi = pa.crossJoin(broadcast(tot))
        .selectExpr("tok" +:
          (1 to kTot).map(k => s"CAST((w$k * 1000000) DIV t$k AS BIGINT) AS p$k"): _*)
        .localCheckpoint()
      scored.unpersist()
    }
    counts.unpersist()
    val topics = (2 to kTot).map(k =>
        phi.select(lit(k.toLong), col("tok"), col(s"p$k")))
      .foldLeft(phi.select(lit(1L).as("topic"), col("tok"), col("p1").as("phi_micro")))(_ union _)
    topics.select(col("topic"), col("tok"), col("phi_micro"),
        row_number().over(Window.partitionBy("topic")
          .orderBy(col("phi_micro").desc, col("tok"))).cast("long").as("rnk"))
      .filter(col("rnk") <= topK)
      .select("topic", "rnk", "tok", "phi_micro")
  }

  // ---- smoothed LDA EM (reference mllib/clustering/LDA.scala:418
  // computePTopic — γ_wjk ∝ (N_wk + η−1)(N_jk + α−1)/(N_k + W(η−1)) —
  // driven by LDAOptimizer.scala:150 next(): E-step scales γ by the
  // token count N_wj, M-step re-aggregates expected counts per doc
  // vertex, per term vertex and globally; `k` is the headline
  // parameter, :131 setK). This is the reference's ACTUAL EM (PLSA
  // above is its α = η → 1 limit): the state is EXPECTED COUNTS in
  // micro units, not normalized mixtures, and the reference's default
  // priors are kept — α = 50/K + 1 (26 at K = 2) embedded as a shared
  // double literal, η = 1.1 (LDA.scala:131,163 document the -1 →
  // default resolution). Topic K is the exact complement of the stored
  // K−1 on every count. DECLARED DEVIATION, the PLSA convention: a
  // parity-seeded doc split in place of the randomized γ init
  // (LDAOptimizer.scala:130) — EM needs asymmetry to leave the
  // symmetric fixed point and randomness is exactly what the oracle
  // gate cannot allow. The E-step ratio is ONE double expression over
  // exact integer state with fixed parenthesization (the gmm
  // convention), re-quantized to micro; every M-step sum is an exact
  // integer. Resolution bound: the final φ normalization multiplies a
  // micro count by 1e6, so total corpus tokens must stay under ~9e6 at
  // BIGINT — past that, widen the normalization to DECIMAL(38,0). -------

  /** α−1 in micro units as a Double.toString round-trip literal —
    * identical text, identical double in both engines. */
  def ldaAlphaM1Micro(kTot: Int): String = ((50.0 / kTot) * 1e6).toString

  private def ldaParts(base: String, kTot: Int): String =
    (1 until kTot).map(j => s"$base$j").reduce((a, b) => s"($a + $b)")

  /** Topic-k responsibility of one (doc, term) cell in micro units over
    * the K−1 stored expected-count columns (nw1.., nj1.., n1..) and the
    * constant totals; topic K's counts are exact 1e6-complements. η−1 =
    * 0.1 → 100000 micro. Strictly positive numerators (η > 1), so no
    * zero-denominator fallback exists to mirror. */
  def ldaRespExprK(kTot: Int, k: Int): String = {
    val al = ldaAlphaM1Micro(kTot)
    def g(nwk: String, njk: String, nk: String) =
      s"((($nwk + 100000.0) * ($njk + $al)) / ($nk + (CAST(vn AS DOUBLE) * 100000.0)))"
    val gs = (1 to kTot).map { j =>
      if (j < kTot) g(s"CAST(nw$j AS DOUBLE)", s"CAST(nj$j AS DOUBLE)", s"CAST(n$j AS DOUBLE)")
      else g(s"CAST((nw * 1000000) - ${ldaParts("nw", kTot)} AS DOUBLE)",
        s"CAST((nj * 1000000) - ${ldaParts("nj", kTot)} AS DOUBLE)",
        s"CAST((ntot * 1000000) - ${ldaParts("n", kTot)} AS DOUBLE)")
    }
    s"CAST(round((${gs(k - 1)} / ${gs.reduce((a, b) => s"($a + $b)")}) * 1000000.0) AS BIGINT)"
  }

  /** Parity-seeded doc-mixture fraction of topic k in micro units:
    * doc `did` prefers topic K − (did % K); the preferred topic takes
    * 1e6 − (K−1)·base, the rest base = 1e6 DIV 2K — the K = 2 values
    * are the 250000/750000 split. */
  def ldaSeedFracExpr(kTot: Int, k: Int): String = {
    val base = 1000000 / (2 * kTot)
    val pref = 1000000 - (kTot - 1) * base
    s"(CASE WHEN (did % $kTot) = ${kTot - k} THEN $pref ELSE $base END)"
  }

  /** K-topic smoothed LDA EM over (`idCol`, `textCol`) documents:
    * `iters` iterations, each ONE counts ⋈ docState ⋈ termState join
    * (row-linear in distinct (doc, word) pairs; the 1-row global state
    * broadcasts) plus per-doc / per-term hash aggregates of K−1 sum
    * columns each — the exact relational transcription of the
    * aggregateMessages send/merge above. Both state tables
    * localCheckpoint per iteration (the pregel discipline). Returns
    * (topic, rnk, tok, phi_micro) for the top-`topK` terms of each of
    * the K topics, φ the unsmoothed normalized term-topic count, ties
    * toward the smaller token. */
  def ldaTopicsK(docs: DataFrame, idCol: String, textCol: String,
                 kTot: Int, iters: Int = 2, topK: Int = 8): DataFrame = {
    require(kTot >= 2 && kTot <= 6, s"ldaTopicsK: K = $kTot outside [2, 6]")
    import org.apache.spark.sql.expressions.Window
    val ks = 1 until kTot
    val counts = docs.select(col(idCol).as("did"),
        explode(split(col(textCol), " ")).as("tok"))
      .groupBy("did", "tok").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    counts.count()
    val docTotals = counts.groupBy("did").agg(sum("c").as("nj"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val termTotals = counts.groupBy("tok").agg(sum("c").as("nw"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = termTotals
      .agg(sum("nw").as("ntot"), count(lit(1)).as("vn"))
      .localCheckpoint()
    val uni = 1000000 / kTot
    var doc = docTotals
      .selectExpr("did" +: "nj" +:
        ks.map(k => s"CAST(nj * ${ldaSeedFracExpr(kTot, k)} AS BIGINT) AS nj$k"): _*)
      .localCheckpoint()
    var term = termTotals
      .selectExpr("tok" +: "nw" +:
        ks.map(k => s"CAST(nw * $uni AS BIGINT) AS nw$k"): _*)
      .localCheckpoint()
    var glob = totals
      .selectExpr(ks.map(k => s"CAST(ntot * $uni AS BIGINT) AS n$k"): _*)
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val scored = counts
        .join(doc, "did").join(term, "tok")
        .crossJoin(broadcast(glob)).crossJoin(broadcast(totals))
        .selectExpr("did" +: "tok" +: "c" +:
          ks.map(k => s"${ldaRespExprK(kTot, k)} AS r$k"): _*)
        .selectExpr("did" +: "tok" +: ks.map(k => s"c * r$k AS s${k}c"): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      doc = scored.groupBy("did")
        .agg(sum(s"s1c").as("nj1"), ks.drop(1).map(k => sum(s"s${k}c").as(s"nj$k")): _*)
        .join(docTotals, "did")
        .select("did", "nj" +: ks.map(k => s"nj$k"): _*)
        .localCheckpoint()
      term = scored.groupBy("tok")
        .agg(sum(s"s1c").as("nw1"), ks.drop(1).map(k => sum(s"s${k}c").as(s"nw$k")): _*)
        .join(termTotals, "tok")
        .select("tok", "nw" +: ks.map(k => s"nw$k"): _*)
        .localCheckpoint()
      glob = term
        .agg(sum("nw1").as("n1"), ks.drop(1).map(k => sum(s"nw$k").as(s"n$k")): _*)
        .localCheckpoint()
      scored.unpersist()
    }
    counts.unpersist(); docTotals.unpersist()
    val phi = term.crossJoin(broadcast(glob)).crossJoin(broadcast(totals))
      .selectExpr("tok" +:
        (ks.map(k => s"CAST((nw$k * 1000000) DIV n$k AS BIGINT) AS p$k") :+
          (s"CAST((((nw * 1000000) - ${ldaParts("nw", kTot)}) * 1000000) DIV " +
            s"((ntot * 1000000) - ${ldaParts("n", kTot)}) AS BIGINT) AS p$kTot")): _*)
    termTotals.unpersist()
    val topics = (2 to kTot).map(k =>
        phi.select(lit(k.toLong), col("tok"), col(s"p$k")))
      .foldLeft(phi.select(lit(1L).as("topic"), col("tok"), col("p1").as("phi_micro")))(_ union _)
    topics.select(col("topic"), col("tok"), col("phi_micro"),
        row_number().over(Window.partitionBy("topic")
          .orderBy(col("phi_micro").desc, col("tok"))).cast("long").as("rnk"))
      .filter(col("rnk") <= topK)
      .select("topic", "rnk", "tok", "phi_micro")
  }

  // ---- ONLINE variational LDA (reference mllib/clustering/
  // LDAOptimizer.scala:231 OnlineLDAOptimizer, `k` taken from the
  // enclosing LDA — the second registered optimizer and the
  // production-corpus path: instead of EM's full doc-topic-term
  // re-aggregation, each iteration samples a MINIBATCH, runs per-doc
  // variational inference against the broadcast topic state (:538
  // variationalTopicInference), and blends the batch's sufficient
  // statistics into λ at learning rate ρ_t = (τ0 + t)^−κ (:467
  // updateLambda). No complement trick here: the reference's λ stores
  // ALL K topic rows, and so does this state — per-topic column loops
  // over the SAME ratio / fraction / blend formula strings. DECLARED
  // DEVIATIONS, the EM conventions sharpened for the online path:
  // deterministic hash-residue minibatches (¼ of the docs per
  // iteration, disjoint across iterations — the sample-with-replacement
  // draw is exactly what the oracle gate cannot allow); seeded λ and γ
  // inits in place of the random Gamma(100, 0.01) matrices (K = 2 the
  // parity seeds; K ≥ 3 rotates a +½/−½ γ perturbation by doc residue
  // and favors topic K − residue in the λ seed); ONE γ update per doc
  // instead of the 1e-3-convergence inner loop; and exp∘digamma(x) ≈
  // x − 1/2 (exact to O(1/x) for the x ≥ 0.5 shapes every state here
  // keeps), which turns the reference's expElogbeta/expElogtheta rows
  // into pure integer ratio expressions. Priors α = η = ½ (the
  // reference's 1/k default at K = 2, held at ½ for every K); defaults
  // kept: τ0 = 1024, κ = 0.51. All state is micro-unit
  // BIGINT; the only doubles are the ρ-blend update, ONE shared formula
  // string rounded once per cell. ----------------------------------

  /** exp(digamma(a) − digamma(s)) ≈ (a − ½)/(s − ½) over micro-unit
    * state, emitted in micro units. Non-negative operands (state never
    * drops below ½ micro-scaled), so `div` is seam-free. */
  def oldaRatioExpr(a: String, s: String, div: String): String =
    s"CAST((($a - 500000) * 1000000) $div ($s - 500000) AS BIGINT)"

  /** The per-(doc, term, topic) responsibility fraction
    * et_k·eb_k/φ in micro units over the exact integer φ = Σ_k et·eb;
    * a zero φ (every topic's mass rounded away) falls back to the
    * uninformative ½ like [[plsaRespExprK]] at K = 2. */
  def oldaFracExpr(et: String, eb: String, pn: String, div: String): String =
    s"CAST(CASE WHEN $pn = 0 THEN 500000 ELSE (($et * $eb) * 1000000) $div $pn END AS BIGINT)"

  /** The reference's updateLambda blend (LDAOptimizer.scala:467):
    * λ := (1−ρ)λ + ρ(stat·D/S + η), η = ½. One double expression over
    * the micro state, `rho` a shared power() literal, rounded ONCE. */
  def oldaLambdaUpdExpr(lk: String, br: String, rho: String): String =
    s"CAST(round(((1.0 - $rho) * CAST($lk AS DOUBLE)) + ($rho * ((CAST($br AS DOUBLE) * " +
      s"(CAST(dd AS DOUBLE) / CAST(ss AS DOUBLE))) + 500000.0))) AS BIGINT)"

  /** ρ_t = (τ0 + t)^−κ with the reference defaults, as a shared libm
    * literal (1-ulp pow slack is absorbed by the micro rounding). */
  def oldaRho(t: Int): String = s"power(${1024 + t}.0, -0.51)"

  /** The per-cell log-probability in milli-nats over the exact integer
    * φ-norm pn (= θ·β scaled by 1e12): one shared libm ln, rounded
    * once per cell so the corpus sum is an exact integer; a zero pn
    * (every topic's mass rounded away) pins the literal floor
    * round(1000·ln(1e-12)) = −27631. */
  def oldaLnCellExpr: String =
    "CAST(CASE WHEN pn = 0 THEN -27631 ELSE " +
      "round(ln(CAST(pn AS DOUBLE) / 1000000000000.0) * 1000.0) END AS BIGINT)"

  /** The perplexity projection over (n_tokens, ll_milli): exp of the
    * negative mean token log-probability, micro-rounded once. */
  def oldaPerpExpr: String =
    "CAST(round(exp(-(CAST(ll_milli AS DOUBLE) / 1000.0) / CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)"

  /** logPerplexity of the fitted two-topic online model (reference
    * LDAModel.scala:255 logPerplexity = −logLikelihood / corpus token
    * count, with :235 logLikelihood delegating to the :280
    * variational bound): run the [[onlineLdaStateK]] fit at K = 2,
    * then — like the reference — variational inference per doc over
    * the FULL corpus (γ init + one update, the fit's declared inner
    * slice) and the bound's dominant token term Σ_dw c·ln(θ_d·β_w),
    * each cell milli-rounded through ONE shared ln so the corpus sum is
    * an exact integer. DECLARED DEVIATION beyond the online-fit set:
    * the Dirichlet prior/entropy terms of the bound (E[log p(θ|α)] −
    * E[log q(θ|γ)] and the topic analogs) are omitted — they need
    * lgamma, which Spark SQL lacks; the token term is the
    * data-dependent part perplexity comparisons rank by. Returns ONE
    * row: (n_cells, n_tokens, ll_milli, perplexity_micro). */
  def onlineLdaPerplexity(docs: DataFrame, idCol: String, textCol: String,
                          iters: Int = 2): DataFrame = {
    val kTot = 2
    val (counts, lambda) = onlineLdaStateK(docs, idCol, textCol, kTot, iters)
    // the full-corpus evaluation scores twice (γ update, then the bound
    // under the updated γ) — the corpus ⋈ expElogbeta join is shared and
    // pinned exactly like the fit's per-iteration batch join
    val ce = counts.join(oldaEbK(lambda, kTot), "tok")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gz = counts.select("did").distinct()
      .selectExpr("did" +: oldaGammaInitExprsK(kTot): _*)
    val g1 = oldaGammaStepK(oldaScoreK(ce, gz, kTot), kTot)
    val out = oldaScoreK(ce, g1, kTot)
      .selectExpr("c", s"$oldaLnCellExpr AS lnq")
      .agg(count(lit(1)).as("n_cells"), sum("c").as("n_tokens"),
        sum(expr("c * lnq")).as("ll_milli"))
      .selectExpr("CAST(n_cells AS BIGINT) AS n_cells",
        "CAST(n_tokens AS BIGINT) AS n_tokens",
        "CAST(ll_milli AS BIGINT) AS ll_milli",
        s"$oldaPerpExpr AS perplexity_micro")
      .localCheckpoint() // eager 1-row: safe to release counts below
    ce.unpersist()
    counts.unpersist()
    out
  }

  /** γ seed expressions for K topics (the declared Gamma(100, 0.01)
    * stand-in): K = 2 the doc-parity seeds; K ≥ 3 docs with
    * residue r perturb topic r+1 by +½ and its successor by −½ around
    * the 1.25 base (every doc asymmetric, every topic reachable). */
  def oldaGammaInitExprsK(kTot: Int): Seq[String] =
    if (kTot == 2)
      Seq("CAST(750000 + (did % 2) * 500000 AS BIGINT) AS g1",
        "CAST(1750000 - (did % 2) * 500000 AS BIGINT) AS g2")
    else (1 to kTot).map { k =>
      s"CAST(1250000 + (CASE WHEN (did % $kTot) = ${k - 1} THEN 500000 " +
        s"WHEN (did % $kTot) = ${k % kTot} THEN -500000 ELSE 0 END) AS BIGINT) AS g$k"
    }

  /** λ seed for K topics over the token-hash residue `par` (in scope):
    * topic K − par takes the +½ boost (at K = 2, the token-parity
    * seeds). */
  def oldaLambdaInitExprK(kTot: Int, k: Int, parExpr: String): String =
    s"CAST(1000000 + (CASE WHEN ($parExpr) = ${kTot - k} THEN 500000 ELSE 0 END) AS BIGINT) AS l$k"

  /** The per-(doc, term, topic) responsibility stage shared by the fit
    * and the perplexity evaluation, over a PRE-JOINED `ce` = cells ⋈
    * expElogbeta frame (r21, guide §2.4 "two operations keyed the same
    * way share one exchange": every iteration scores TWICE — the γ
    * update, then the sufficient statistics under the updated γ — and
    * both scores join the same cells against the same eb rows, so the
    * tok-keyed join is computed once per iteration and pinned; only the
    * cheap did-keyed γ join differs between the two scores). θ ratios
    * over the γ sum, exact integer φ, per-topic fractions. Emits (did,
    * tok, c, pn, f1..fK). */
  private def oldaScoreK(ce: DataFrame, g: DataFrame,
                         kTot: Int): DataFrame = {
    val ks = 1 to kTot
    val gsum = ks.map(k => s"g$k").reduce((a, b) => s"($a + $b)")
    val pn = ks.map(k => s"(et$k * eb$k)").reduce((a, b) => s"$a + $b")
    ce.join(g, "did")
      .selectExpr(Seq("did", "tok", "c") ++
        ks.map(k => s"${oldaRatioExpr(s"g$k", gsum, "DIV")} AS et$k") ++
        ks.map(k => s"eb$k"): _*)
      .selectExpr(Seq("did", "tok", "c") ++ ks.map(k => s"et$k") ++
        ks.map(k => s"eb$k") :+ s"$pn AS pn": _*)
      .selectExpr(Seq("did", "tok", "c", "pn") ++
        ks.map(k => s"${oldaFracExpr(s"et$k", s"eb$k", "pn", "DIV")} AS f$k"): _*)
  }

  /** expElogbeta rows for a K-column λ state. */
  private def oldaEbK(lambda: DataFrame, kTot: Int): DataFrame = {
    val ks = 1 to kTot
    val lsum = lambda.agg(sum("l1").as("ls1"),
      ks.drop(1).map(k => sum(s"l$k").as(s"ls$k")): _*)
    lambda.crossJoin(broadcast(lsum))
      .selectExpr("tok" +:
        ks.map(k => s"${oldaRatioExpr(s"l$k", s"ls$k", "DIV")} AS eb$k"): _*)
  }

  /** One γ update from a scored frame (the declared inner-loop
    * slice). */
  private def oldaGammaStepK(scored: DataFrame, kTot: Int): DataFrame = {
    val ks = 1 to kTot
    scored.groupBy("did")
      .agg(sum(expr("c * f1")).as("s1"),
        ks.drop(1).map(k => sum(expr(s"c * f$k")).as(s"s$k")): _*)
      .selectExpr("did" +:
        ks.map(k => s"CAST(500000 + s$k AS BIGINT) AS g$k"): _*)
  }

  /** The K-topic online fitting loop: returns (counts — still
    * persisted, caller unpersists — and the final K-column λ). */
  private def onlineLdaStateK(docs: DataFrame, idCol: String,
                              textCol: String, kTot: Int,
                              iters: Int): (DataFrame, DataFrame) = {
    val ks = 1 to kTot
    val counts = docs.select(col(idCol).as("did"),
        explode(split(col(textCol), " ")).as("tok"))
      .groupBy("did", "tok").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    counts.count()
    val dTot = counts.select("did").distinct()
      .agg(count(lit(1)).as("dd")).localCheckpoint()
    val tokPar = s"(${Dedup.portableHash("tok", "'olda'")} % $kTot)"
    var lambda = counts.select("tok").distinct()
      .selectExpr("tok" +:
        ks.map(k => oldaLambdaInitExprK(kTot, k, tokPar)): _*)
      .localCheckpoint()
    for (t <- 1 to iters) {
      val eb = oldaEbK(lambda, kTot)
      // residue rotates mod 4 so iters > 4 reuses the batches instead of
      // selecting an empty one (pmod ∈ {0..3} never equals t-1 ≥ 4, and an
      // empty batch makes ss = 0 → dd/0 → NaN λ)
      val bc = counts.filter(expr(
        s"pmod(${Dedup.portableHash("cast(did as string)", "'oldab'")}, 4) = ${(t - 1) % 4}"))
      val gz = bc.select("did").distinct()
        .selectExpr("did" +: oldaGammaInitExprsK(kTot): _*)
      // one γ update (the declared inner-loop slice), then the batch
      // sufficient statistics under the UPDATED γ — the reference's
      // post-loop sstats shape. The batch ⋈ expElogbeta join is shared
      // by both scores (oldaScoreK scaladoc) and pinned for the iteration.
      val ce = bc.join(eb, "tok").localCheckpoint()
      val g1 = oldaGammaStepK(oldaScoreK(ce, gz, kTot), kTot)
      val br = oldaScoreK(ce, g1, kTot).groupBy("tok")
        .agg(sum(expr("c * f1")).as("br1"),
          ks.drop(1).map(k => sum(expr(s"c * f$k")).as(s"br$k")): _*)
      val bs = bc.select("did").distinct().agg(count(lit(1)).as("ss"))
      lambda = lambda.join(br, Seq("tok"), "left")
        .na.fill(0L, ks.map(k => s"br$k"))
        .crossJoin(broadcast(dTot)).crossJoin(broadcast(bs))
        .selectExpr("tok" +:
          ks.map(k => s"${oldaLambdaUpdExpr(s"l$k", s"br$k", oldaRho(t))} AS l$k"): _*)
        .localCheckpoint()
      ce.unpersist()
    }
    (counts, lambda)
  }

  /** K-topic online variational LDA over (`idCol`, `textCol`)
    * documents: `iters` minibatch iterations, each ONE batch ⋈ γ ⋈
    * expElogbeta join (row-linear in the BATCH's (doc, word) pairs —
    * the corpus is never re-aggregated, the point of the online path)
    * plus a per-doc γ aggregate, a per-term sufficient-statistics
    * aggregate, and the vocabulary-sized λ blend; λ localCheckpoints
    * per iteration (the pregel discipline). At 100 TB the per-iteration
    * cost is batch-proportional and λ is vocabulary-bounded — the exact
    * reason the reference ships this optimizer next to EM. Returns the
    * top-`topK` terms per topic: (topic, rnk, tok, lambda_micro), ties
    * toward the smaller token. */
  def onlineLdaTopicsK(docs: DataFrame, idCol: String, textCol: String,
                       kTot: Int, iters: Int = 2, topK: Int = 8): DataFrame = {
    require(kTot >= 2 && kTot <= 6, s"onlineLdaTopicsK: K = $kTot outside [2, 6]")
    import org.apache.spark.sql.expressions.Window
    val (counts, lambda) = onlineLdaStateK(docs, idCol, textCol, kTot, iters)
    counts.unpersist()
    val topics = (2 to kTot).map(k =>
        lambda.select(lit(k.toLong), col("tok"), col(s"l$k")))
      .foldLeft(lambda.select(lit(1L).as("topic"), col("tok"), col("l1").as("lambda_micro")))(_ union _)
    topics.select(col("topic"), col("tok"), col("lambda_micro"),
        row_number().over(Window.partitionBy("topic")
          .orderBy(col("lambda_micro").desc, col("tok"))).cast("long").as("rnk"))
      .filter(col("rnk") <= topK)
      .select("topic", "rnk", "tok", "lambda_micro")
  }

  /** The six split sufficient statistics carried (constant) through every
    * EM state row: per mean-split side, exact (count, Σx, Σx²). */
  private val gmmStatCols = Seq("nl", "sl", "ssl", "nh", "sh", "ssh")

  /** The SHARED variance, fixed at the pooled within-half variance of the
    * mean split — a double expression over the six exact sums, fixed
    * parenthesization, shared with the oracle. (Using the raw population
    * variance instead washes out separation when the between-cluster gap
    * dominates: measured fixed point 17.7/34.8 on a 10-vs-50 fixture; the
    * pooled-within estimate recovers 10/50 exactly.) */
  val gmmVarExpr: String =
    "(((CAST(ssl AS DOUBLE) - ((CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE)) / CAST(nl AS DOUBLE))) + (CAST(ssh AS DOUBLE) - ((CAST(sh AS DOUBLE) * CAST(sh AS DOUBLE)) / CAST(nh AS DOUBLE)))) / CAST(nl + nh AS DOUBLE))"

  /** Component-1 responsibility in micro-units: with a shared variance
    * the posterior is sigmoid(−(ln(w2/w1) + (μ1−μ2)((μ1+μ2)−2x)/2σ²)) —
    * expects the [[gmmStatCols]] state plus (w1u, m1m, m2m) and the point
    * x in scope. w1u must stay strictly inside (0, 1e6) (ln of the
    * odds) — guaranteed while both mean-split halves are nonempty, i.e.
    * the input is not single-valued. exp overflow is benign: ±Inf
    * saturates the sigmoid to exactly 0 / 1e6 identically in both
    * engines. */
  val gmmRespExpr: String = {
    val lnw = "ln((1000000.0 - w1u) / CAST(w1u AS DOUBLE))"
    val quad = "(((m1m - m2m) / 1000.0) * (((m1m + m2m) / 1000.0) - (2.0 * x)))"
    s"CAST(round(1000000.0 / (1.0 + exp($lnw + ($quad / (2.0 * $gmmVarExpr))))) AS BIGINT)"
  }

  /** M-step update strings over the state plus (sr, srx): the new weight
    * is one non-negative integer DIV; the two means are single rounded
    * double divisions of exact integer sums (component 2's sums are the
    * complements n·1e6−sr / Σx·1e6−srx — no second scan needed). */
  val gmmUpdateExprs: Seq[(String, String)] = Seq(
    "w1u" -> "CAST(sr DIV (nl + nh) AS BIGINT)",
    "m1m" -> "CAST(round((CAST(srx AS DOUBLE) / CAST(sr AS DOUBLE)) * 1000.0) AS BIGINT)",
    "m2m" -> "CAST(round((CAST(((sl + sh) * 1000000) - srx AS DOUBLE) / CAST(((nl + nh) * 1000000) - sr AS DOUBLE)) * 1000.0) AS BIGINT)")

  /** Deterministic init from the mean split itself: weight = the left
    * fraction, means = the per-half means. */
  val gmmInitExprs: Seq[(String, String)] = Seq(
    "w1u" -> "CAST((nl * 1000000) DIV (nl + nh) AS BIGINT)",
    "m1m" -> "CAST(round((CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)) * 1000.0) AS BIGINT)",
    "m2m" -> "CAST(round((CAST(sh AS DOUBLE) / CAST(nh AS DOUBLE)) * 1000.0) AS BIGINT)")

  /** The split predicate: x below the global mean, as the EXACT integer
    * compare x·n < Σx (no double ever decides side membership). */
  val gmmSplitExpr: String = "(x * n) < sx"

  /** EM fit over a 1-column (x BIGINT) table: two init scans (global
    * sums, then the mean-split conditional sums via [[gmmSplitExpr]]),
    * then `iters` iterations of ONE scan each (responsibilities from the
    * broadcast 1-row state, two exact integer sums) plus a 1-row update
    * projection, localCheckpointed — the logisticFit2 discipline.
    * Returns two rows (comp, weight_micro, mean_milli, n_hard) with
    * n_hard the r ≥ 0.5 hard-assignment count under the FINAL state. */
  def gmmFit1d(xs: DataFrame, iters: Int = 3): DataFrame = {
    val f = xs.select(col("x")).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // no eager count (r21): the init checkpoint's tot-broadcast scan
    // populates the cache — same work, one fewer full pass
    val tot = f.agg(count(lit(1)).as("n"), sum("x").as("sx"))
    val split = f.crossJoin(broadcast(tot))
      .selectExpr("x", s"CASE WHEN $gmmSplitExpr THEN 1 ELSE 0 END AS lo")
      .agg(sum(expr("lo")).as("nl"), sum(expr("x * lo")).as("sl"),
        sum(expr("x * x * lo")).as("ssl"),
        sum(expr("1 - lo")).as("nh"), sum(expr("x * (1 - lo)")).as("sh"),
        sum(expr("x * x * (1 - lo)")).as("ssh"))
    var state = split.selectExpr(gmmStatCols ++
        gmmInitExprs.map { case (c, e) => s"$e AS $c" }: _*)
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val sums = f.crossJoin(broadcast(state))
        .selectExpr(s"$gmmRespExpr AS r", "x")
        .agg(sum("r").as("sr"), sum(col("r") * col("x")).as("srx"))
      state = sums.crossJoin(state)
        .selectExpr(gmmStatCols ++
          gmmUpdateExprs.map { case (c, e) => s"$e AS $c" }: _*)
        .localCheckpoint()
    }
    val hard = f.crossJoin(broadcast(state))
      .selectExpr(s"CAST(CASE WHEN $gmmRespExpr >= 500000 THEN 1 ELSE 2 END AS BIGINT) AS comp")
      .groupBy("comp").agg(count(lit(1)).as("n_hard"))
    val comps = state.selectExpr("CAST(1 AS BIGINT) AS comp",
        "w1u AS weight_micro", "m1m AS mean_milli")
      .union(state.selectExpr("CAST(2 AS BIGINT)",
        "CAST(1000000 - w1u AS BIGINT)", "m2m"))
    val out = comps.join(hard, Seq("comp"), "left")
      .na.fill(0L, Seq("n_hard"))
    f.unpersist()
    out
  }

  // ---- 2-D FULL-covariance Gaussian mixture (reference mllib/
  // clustering/GaussianMixture.scala:161 run — the reference model is
  // d-dimensional with full Σ via MultivariateGaussian; this is the
  // d = 2 member with the closed-form 2×2 inverse/determinant as shared
  // formula strings over the same quantized EM scaffolding as
  // [[gmmFit1d]]. Declared deviations (as for the 1-D slice):
  // deterministic mean-split init on the FIRST coordinate instead of
  // random sampling; responsibilities and parameters quantized to
  // micro/milli integers each step so every state is engine-portable;
  // diagonal covariance entries floored at 1 micro so the closed-form
  // inverse never divides by a collapsed variance. GmmKd.gmmFitKd at
  // (d 2, K 2) yields the same rows from generated text, but s96 keeps
  // this member: on the sf0.001 benchmark tables the GmmKd fit ran
  // 1.33 → 1.55 s (median of five interleaved pairs, 4-core host) — it
  // spreads the corpus before persisting and scores through a layered
  // projection chain, both sized for the larger (d, K) points. ---------

  /** Constant per-corpus sufficient statistics carried through every EM
    * state row: count, exact coordinate sums and second moments. The
    * second moments are DECIMAL(38,0) sums (HUGEINT in the oracle) —
    * exact at any corpus size where a BIGINT Σx² would overflow; the
    * shared formula strings only ever CAST them to DOUBLE. */
  val gmm2ConstCols = Seq("n", "sx", "sy", "sxx", "sxy", "syy")

  private def g2s(k: Int, ij: String) = s"(CAST(c$k$ij AS DOUBLE) / 1000000.0)"
  private def g2dx(k: Int) = s"(CAST(x - m${k}x AS DOUBLE) / 1000.0)"
  private def g2dy(k: Int) = s"(CAST(y - m${k}y AS DOUBLE) / 1000.0)"

  /** det Σ_k of the closed-form 2×2, over the micro-quantized entries. */
  def gmm2DetExpr(k: Int): String =
    s"((${g2s(k, "11")} * ${g2s(k, "22")}) - (${g2s(k, "12")} * ${g2s(k, "12")}))"

  /** Mahalanobis quadratic form dᵀΣ⁻¹d via the 2×2 adjugate. */
  private def g2q(k: Int) =
    s"(((((${g2dx(k)} * ${g2dx(k)}) * ${g2s(k, "22")}) - (((2.0 * ${g2dx(k)}) * ${g2dy(k)}) * ${g2s(k, "12")})) + ((${g2dy(k)} * ${g2dy(k)}) * ${g2s(k, "11")})) / ${gmm2DetExpr(k)})"

  /** Component-1 responsibility in micro-units: sigmoid of the
    * log-odds ln(w2/w1) + ½ln(det1/det2) + ½(q1 − q2) — the 2π
    * normalizers cancel; exp overflow saturates identically to exactly
    * 0 / 1e6 in both engines (the [[gmmRespExpr]] argument). */
  val gmm2RespExpr: String =
    s"CAST(round(1000000.0 / (1.0 + exp(ln((1000000.0 - w1u) / CAST(w1u AS DOUBLE)) + ((0.5 * ln(${gmm2DetExpr(1)} / ${gmm2DetExpr(2)})) + (0.5 * (${g2q(1)} - ${g2q(2)})))))) AS BIGINT)"

  private val m1xD = "(CAST(srx AS DOUBLE) / CAST(sr AS DOUBLE))"
  private val m1yD = "(CAST(sry AS DOUBLE) / CAST(sr AS DOUBLE))"
  private val sr2D = "((CAST(n AS DOUBLE) * 1000000.0) - CAST(sr AS DOUBLE))"
  private def comp2D(tot: String, s1: String) =
    s"(((CAST($tot AS DOUBLE) * 1000000.0) - CAST($s1 AS DOUBLE)) / $sr2D)"

  /** M-step over (sr, srx, sry, srxx, srxy, sryy) plus the constant
    * totals: component 2's sums are exact complements (no second scan);
    * covariance entries are E[ab] − E[a]E[b] in micro units, diagonals
    * floored at 1. */
  val gmm2UpdateExprs: Seq[(String, String)] = Seq(
    // weight floored at 1 micro and capped at 999999 (the GmmKd ln-safety
    // convention): a collapsed component keeps a live ln() argument on
    // BOTH sides of the 1e6 complement instead of dying silently
    "w1u" -> "greatest(least(CAST(sr DIV n AS BIGINT), 999999), 1)",
    "m1x" -> s"CAST(round($m1xD) AS BIGINT)",
    "m1y" -> s"CAST(round($m1yD) AS BIGINT)",
    "m2x" -> s"CAST(round(${comp2D("sx", "srx")}) AS BIGINT)",
    "m2y" -> s"CAST(round(${comp2D("sy", "sry")}) AS BIGINT)",
    "c111" -> s"greatest(CAST(round((CAST(srxx AS DOUBLE) / CAST(sr AS DOUBLE)) - ($m1xD * $m1xD)) AS BIGINT), 1)",
    "c112" -> s"CAST(round((CAST(srxy AS DOUBLE) / CAST(sr AS DOUBLE)) - ($m1xD * $m1yD)) AS BIGINT)",
    "c122" -> s"greatest(CAST(round((CAST(sryy AS DOUBLE) / CAST(sr AS DOUBLE)) - ($m1yD * $m1yD)) AS BIGINT), 1)",
    "c211" -> s"greatest(CAST(round(${comp2D("sxx", "srxx")} - (${comp2D("sx", "srx")} * ${comp2D("sx", "srx")})) AS BIGINT), 1)",
    "c212" -> s"CAST(round(${comp2D("sxy", "srxy")} - (${comp2D("sx", "srx")} * ${comp2D("sy", "sry")})) AS BIGINT)",
    "c222" -> s"greatest(CAST(round(${comp2D("syy", "sryy")} - (${comp2D("sy", "sry")} * ${comp2D("sy", "sry")})) AS BIGINT), 1)")

  private def sideMeanD(s: String, nn: String) =
    s"(CAST($s AS DOUBLE) / CAST($nn AS DOUBLE))"
  private def sideCov(ab: String, a: String, b: String, nn: String) =
    s"CAST(round((CAST($ab AS DOUBLE) / CAST($nn AS DOUBLE)) - (${sideMeanD(a, nn)} * ${sideMeanD(b, nn)})) AS BIGINT)"

  /** Deterministic init from the x-mean split: weight = low fraction,
    * per-side means AND full per-side covariances. */
  val gmm2InitExprs: Seq[(String, String)] = Seq(
    "w1u" -> "CAST((nl * 1000000) DIV n AS BIGINT)",
    "m1x" -> s"CAST(round(${sideMeanD("slx", "nl")}) AS BIGINT)",
    "m1y" -> s"CAST(round(${sideMeanD("sly", "nl")}) AS BIGINT)",
    "m2x" -> s"CAST(round(${sideMeanD("shx", "nh")}) AS BIGINT)",
    "m2y" -> s"CAST(round(${sideMeanD("shy", "nh")}) AS BIGINT)",
    "c111" -> s"greatest(${sideCov("slxx", "slx", "slx", "nl")}, 1)",
    "c112" -> sideCov("slxy", "slx", "sly", "nl"),
    "c122" -> s"greatest(${sideCov("slyy", "sly", "sly", "nl")}, 1)",
    "c211" -> s"greatest(${sideCov("shxx", "shx", "shx", "nh")}, 1)",
    "c212" -> sideCov("shxy", "shx", "shy", "nh"),
    "c222" -> s"greatest(${sideCov("shyy", "shy", "shy", "nh")}, 1)")

  /** EM fit over a 2-column (x, y BIGINT milli) table: one init scan for
    * the global totals, one for the x-mean-split side statistics, then
    * `iters` iterations of ONE scan each (responsibilities from the
    * broadcast 1-row state, six exact sums) plus a 1-row update
    * projection, localCheckpointed — the gmmFit1d/logisticFit2
    * discipline. Returns two rows (comp, weight_micro, mean_x_milli,
    * mean_y_milli, var_x_micro, cov_xy_micro, var_y_micro, n_hard). */
  def gmmFit2d(xs: DataFrame, iters: Int = 3): DataFrame = {
    val f = xs.select(col("x"), col("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // no eager count (r21): the tot pin's scan populates the cache.
    // KEYLESS split + 1-row reattach (the GmmKd shape): the former
    // groupBy over six constant totals — three of them DECIMAL(38,0) —
    // hashed them PER ROW for a single-by-construction group. tot pins
    // eagerly (referenced by the broadcast AND the reattach).
    val tot = f.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum(expr("CAST(x * x AS DECIMAL(38,0))")).as("sxx"),
      sum(expr("CAST(x * y AS DECIMAL(38,0))")).as("sxy"),
      sum(expr("CAST(y * y AS DECIMAL(38,0))")).as("syy"))
      .localCheckpoint()
    val split = f.crossJoin(broadcast(tot))
      .selectExpr("x", "y",
        s"CASE WHEN $gmmSplitExpr THEN 1 ELSE 0 END AS lo")
      .agg(sum(expr("lo")).as("nl"),
        sum(expr("x * lo")).as("slx"), sum(expr("y * lo")).as("sly"),
        sum(expr("CAST(x * x * lo AS DECIMAL(38,0))")).as("slxx"),
        sum(expr("CAST(x * y * lo AS DECIMAL(38,0))")).as("slxy"),
        sum(expr("CAST(y * y * lo AS DECIMAL(38,0))")).as("slyy"),
        sum(expr("1 - lo")).as("nh"),
        sum(expr("x * (1 - lo)")).as("shx"), sum(expr("y * (1 - lo)")).as("shy"),
        sum(expr("CAST(x * x * (1 - lo) AS DECIMAL(38,0))")).as("shxx"),
        sum(expr("CAST(x * y * (1 - lo) AS DECIMAL(38,0))")).as("shxy"),
        sum(expr("CAST(y * y * (1 - lo) AS DECIMAL(38,0))")).as("shyy"))
      .crossJoin(tot)
    var state = split.selectExpr(gmm2ConstCols ++
        gmm2InitExprs.map { case (c, e) => s"$e AS $c" }: _*)
      .localCheckpoint()
    // broadcast only the param columns into the scans (the GmmKd trim) —
    // the responsibility chain never reads the constant DECIMAL totals
    val params2 = Seq("w1u", "m1x", "m1y", "m2x", "m2y",
      "c111", "c112", "c122", "c211", "c212", "c222")
    for (_ <- 1 to iters) {
      val sums = f.crossJoin(broadcast(state.selectExpr(params2: _*)))
        .selectExpr(s"$gmm2RespExpr AS r", "x", "y")
        .agg(sum("r").as("sr"),
          sum(expr("CAST(r * x AS DECIMAL(38,0))")).as("srx"),
          sum(expr("CAST(r * y AS DECIMAL(38,0))")).as("sry"),
          sum(expr("CAST(r * x AS DECIMAL(38,0)) * x")).as("srxx"),
          sum(expr("CAST(r * x AS DECIMAL(38,0)) * y")).as("srxy"),
          sum(expr("CAST(r * y AS DECIMAL(38,0)) * y")).as("sryy"))
      state = sums.crossJoin(state)
        .selectExpr(gmm2ConstCols ++
          gmm2UpdateExprs.map { case (c, e) => s"$e AS $c" }: _*)
        .localCheckpoint()
    }
    val hard = f.crossJoin(broadcast(state.selectExpr(params2: _*)))
      .selectExpr(s"CAST(CASE WHEN $gmm2RespExpr >= 500000 THEN 1 ELSE 2 END AS BIGINT) AS comp")
      .groupBy("comp").agg(count(lit(1)).as("n_hard"))
    val comps = state.selectExpr("CAST(1 AS BIGINT) AS comp",
        "w1u AS weight_micro", "m1x AS mean_x_milli", "m1y AS mean_y_milli",
        "c111 AS var_x_micro", "c112 AS cov_xy_micro", "c122 AS var_y_micro")
      .union(state.selectExpr("CAST(2 AS BIGINT)",
        "CAST(1000000 - w1u AS BIGINT)", "m2x", "m2y", "c211", "c212", "c222"))
    val out = comps.join(hard, Seq("comp"), "left")
      .na.fill(0L, Seq("n_hard"))
    f.unpersist()
    out
  }

  // ---- greedy k-center coreset (Gonzalez 1985 farthest-point
  // traversal, the classic 2-approximation for the k-center objective —
  // the diversity-selection / data-pruning primitive: pick the point
  // farthest from everything selected so far, k times; the selected set
  // covers the corpus within the last pick's radius). -------------------

  /** Exact minimum squared distance from a quantized vector to the
    * selected center set — integer arithmetic end to end, so the argmax
    * and the emitted radii are partition-order-free and shared with the
    * oracle's integer min. */
  private def minSqDistUdf(centers: Seq[Array[Long]]) = udf { (vq: Seq[Long]) =>
    if (vq == null) None
    else {
      val x = vq.toArray
      var best = Long.MaxValue
      var j = 0
      while (j < centers.length) {
        val c = centers(j); val n = math.min(c.length, x.length)
        var d = 0L; var i = 0
        while (i < n) { val t = x(i) - c(i); d += t * t; i += 1 }
        if (d < best) best = d
        j += 1
      }
      Some(best)
    }
  }

  /** Greedy k-center selection over (idCol, vecCol): the seed is the
    * LOWEST id (the house deterministic-init rule); each round scans the
    * corpus once for every point's min squared distance to the selected
    * set and takes the argmax via orderBy+limit (TakeOrderedAndProject —
    * never a global window), ties to the lowest id. Emits (sel_rank,
    * vec_id, d_q) where d_q is the pick's exact integer distance-to-set
    * at selection time (the seed's is 0) — the radii are NONINCREASING
    * by construction, and the final one bounds the covering radius of
    * the whole selection (the Gonzalez guarantee). Cost: k corpus scans,
    * each a narrow projection + top-1; the center set is k-bounded on
    * the driver, the x20/centers-collect convention. Duplicate-heavy
    * corpora exhaust at distance 0 and simply re-rank by id. */
  def kCenterCoreset(df: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"kCenterCoreset needs k >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val v = quantized(df, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seedRows = v.orderBy("vec_id").limit(1).as[(Long, Seq[Long])].collect()
    require(seedRows.nonEmpty, "kCenterCoreset needs a non-empty input")
    val seed = seedRows.head
    var picks = Vector((1L, seed._1, 0L))
    var centers = Vector(seed._2.toArray)
    for (r <- 2 to k) {
      val next = v.withColumn("d", minSqDistUdf(centers)(col("vq")))
        .orderBy(col("d").desc, col("vec_id")).limit(1)
        .as[(Long, Seq[Long], Long)].head()
      picks = picks :+ ((r.toLong, next._1, next._3))
      centers = centers :+ next._2.toArray
    }
    v.unpersist()
    picks.toDF("sel_rank", "vec_id", "d_q")
  }
}
