package graft

import graft.ext.Learn
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The (d, h) MLP kernel: its fitted weights equal the SQL step chain's
  * exactly, it rejects null and overflowing input, it runs one Spark job
  * per training iteration, and a 3-3-1 net separates a parity fixture
  * whose signal lives on the third feature interaction — a shape the
  * 2-2-1 net cannot express. */
class MlpDhSpec extends SparkSpec {
  import MlpDhSpec._

  // signed features around zero
  private def featsNeg = {
    import spark.implicits._
    (1L to 400L).map { i =>
      (i, i % 9 - 4, (i * 7) % 13 - 6, (i * 5) % 11 - 5, (i * 3) % 7 - 3,
        if ((i % 9) + (i * 7) % 13 > 10) 1000000L else 0L)
    }.toDF("o_orderkey", "x1", "x2", "x3", "x4", "yq")
  }

  // non-negative features shaped like s44's (line count, qty div 10).
  // Every third row sits on hidden unit 1's initial boundary (x1 = x2,
  // so h1 = 500000 and h1(1 − h1) = 0.25 exactly) with an off-grid
  // label: a quarter of those rows put their first hidden delta on a .5
  // tie, which only Spark's HALF_UP rounding resolves like SQL does
  private def featsPos = {
    import spark.implicits._
    (1L to 300L).map { i =>
      val (x1, x2) =
        if (i % 3 == 0) (100 * (i % 11 + 1), 100 * (i % 11 + 1)) else (i % 7 + 1, (i * 13) % 31)
      (i, x1, x2, i % 7, (i * 3) % 10,
        if (i % 3 == 0) 731000L + i % 101
        else if (10 * x2 + 5 * (i % 13) > 130) 1000000L else 0L)
    }.toDF("o_orderkey", "x1", "x2", "x3", "x4", "yq")
  }

  // XOR of two thresholded features, plus a noise feature: linearly
  // inseparable, needs at least two difference detectors ACROSS
  // (x1, x3) — the 3-3-1 cyclic init has them, the 2-2-1 does not even
  // see x3
  private def featsXor = {
    import spark.implicits._
    (1L to 480L).map { i =>
      val a = (i % 8).toInt - 4          // -4..3, fast index
      val b = ((i * 5) % 6).toInt - 3    // noise
      val c = ((i / 8) % 8).toInt - 4    // -4..3, slow index — independent of a
      val y = if ((a >= 0) != (c >= 0)) 1000000L else 0L
      (i, a.toLong, b.toLong, c.toLong, y)
    }.toDF("o_orderkey", "x1", "x2", "x3", "yq")
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("the kernel's fitted weights equal the SQL step chain's exactly") {
    for ((fixture, name) <- Seq((featsNeg, "signed"), (featsPos, "non-negative"));
         (d, h) <- Seq((2, 2), (3, 3), (4, 2), (2, 4));
         lr <- Seq(0.5, 1.0, 4.0)) {
      val f = fixture.select(((1 to d).map(i => s"x$i") :+ "yq").map(col): _*)
      val ref = sqlFit(f, d, h, 3, lr)
      for (iters <- Seq(0, 1, 3); parts <- Seq(1, 7))
        assert(Learn.mlpFitDh(f.repartition(parts), d, h, iters, lr) === ref(iters),
          s"$name fixture, (d, h) = ($d, $h), lr $lr, $iters iterations, $parts partitions")
    }
  }

  test("input checks: a null is rejected by column name, SQL-chain overflows fail too, no rows score nothing") {
    import spark.implicits._
    val f = featsNeg.select("o_orderkey", "x1", "x2", "yq")
    for (c <- Seq("x2", "yq")) {
      val holed = f.withColumn(c, when(col("o_orderkey") === 7L, lit(null).cast("bigint")).otherwise(col(c)))
      val e = intercept[IllegalArgumentException](
        Learn.mlpFitPredictDh(holed, 2, 2, 1, 1.0, "o_orderkey", 10L))
      assert(e.getMessage.contains(s"column $c"), e.getMessage)
    }
    // a weight times a feature, a gradient sum over two rows (each
    // dh1·x1 ≈ −5.06e18 fits, their sum does not), and the update's
    // CAST to BIGINT under a huge step
    val product = Seq((Long.MaxValue / 1000, 0L, 0L)).toDF("x1", "x2", "yq")
    val sum = Seq.fill(2)((1L << 45, (1L << 45) - 1, 0L)).toDF("x1", "x2", "yq")
    for ((in, lr) <- Seq((product, 1.0), (sum, 1.0), (f.select("x1", "x2", "yq"), 1e300))) {
      val viaSql = intercept[Exception](sqlFit(in, 2, 2, 1, lr))
      assert(causes(viaSql).exists(_.isInstanceOf[ArithmeticException]), viaSql)
      intercept[ArithmeticException](Learn.mlpFitDh(in, 2, 2, 1, lr))
    }
    // no rows: the SQL chain's weights turn NULL without an error, and
    // the cohort is empty either way
    assert(sqlStep(f.limit(0), sqlInit(spark, 2, 2), 2, 2, 1.0).head().isNullAt(0))
    assert(Learn.mlpFitPredictDh(f.limit(0), 2, 2, 2, 1.0, "o_orderkey", 10L).collect().isEmpty)
  }

  test("a fit runs one Spark job per training iteration") {
    def jobs(iters: Int) = jobsStartedBy {
      Learn.mlpFitPredictDh(featsNeg, 2, 2, iters, 1.0, "o_orderkey", 400L).collect()
    }
    assert(jobs(3) - jobs(1) === 2)
  }

  test("3-3-1 separates the x1 xor x3 parity; a 2-feature net cannot") {
    // quantized full-batch sigmoids saturate short of a perfect xor
    // (measured plateau ~0.86 across the iters x lr grid); the pin is
    // the CAPACITY GAP vs the narrow net at chance, not perfection
    val wide = Learn.mlpFitPredictDh(featsXor, d = 3, h = 3, iters = 150, lr = 4.0,
      "o_orderkey", 480L).collect()
    val accWide = wide.count(r => r.getLong(6) === r.getLong(1)).toDouble / wide.length
    assert(accWide > 0.8, s"3-3-1 must learn most of the planted xor: acc $accWide")
    // the same rows through the 2-2-1 net (x3 unseen): stuck near chance
    val narrow = Learn.mlpFitPredictDh(featsXor, d = 2, h = 2, iters = 150, lr = 4.0,
      "o_orderkey", 480L).collect()
    val accNarrow = narrow.count(r => r.getLong(5) === r.getLong(1)).toDouble / narrow.length
    assert(accNarrow < 0.6, s"2-2-1 cannot see the xor signal: acc $accNarrow")
    intercept[IllegalArgumentException](
      Learn.mlpFitPredictDh(featsXor, d = 5, h = 2, iters = 1, lr = 1.0, "o_orderkey", 1L))
  }
}

/** The reference Learn.mlpFitDh mirrors: the backprop step as Spark SQL
  * over the shared formula strings, one 1-row weight frame per step. The
  * DuckDB oracles of s44 and s112 unroll the same SQL. */
object MlpDhSpec {

  def sqlInit(spark: SparkSession, d: Int, h: Int): DataFrame =
    spark.sql("SELECT " + Learn.mlpInitValsDh(d, h).zip(Learn.mlpWeightColsDh(d, h))
      .map { case (v, c) => s"CAST($v AS BIGINT) AS $c" }.mkString(", "))

  /** ONE full-batch backprop step at (d, h): forward with the generated
    * layer strings, per-row quantized deltas, then n plus
    * (h+1) + h(d+1) exact integer gradient sums (ten aggregates at
    * (2, 2)) and the update strings. */
  def sqlStep(feats: DataFrame, w: DataFrame, d: Int, h: Int, lr: Double): DataFrame = {
    import Learn._
    val xs = (1 to d).map(i => s"x$i")
    val hs = (1 to h).map(j => s"h$j")
    // the weight columns ride through the projections and the aggregate
    val wCols = mlpWeightColsDh(d, h)
    val fwd = feats.crossJoin(broadcast(w))
      .selectExpr(xs ++ Seq("yq") ++ wCols ++
        (1 to h).map(j => s"${mlpHiddenExprDh(j, d)} AS h$j"): _*)
      .selectExpr(xs ++ hs ++ Seq(s"yq - ${mlpOutExprH(h)} AS dlt") ++
        wCols: _*)
      .selectExpr(xs ++ hs ++ Seq("dlt") ++
        (1 to h).map(j => s"${mlpHidDeltaExpr(s"v${j}q", s"h$j")} AS dh$j") ++
        wCols: _*)
    val aggs = sum("dlt").as("gv0") +:
      ((1 to h).map(j => sum(col("dlt") * col(s"h$j")).as(s"gv$j")) ++
        (1 to h).flatMap(j => sum(s"dh$j").as(s"g${j}0") +:
          (1 to d).map(i => sum(col(s"dh$j") * col(s"x$i")).as(s"g$j$i"))) ++
        wCols.map(c => max(c).as(c)))
    fwd.agg(count(lit(1)).as("n"), aggs: _*).selectExpr(
      ((1 to h).flatMap(j => (0 to d).map(i =>
        s"${lrUpdExpr(s"w$j${i}q", s"g$j$i", lr)} AS w$j${i}q")) ++
        (s"${lrUpdExpr("v0q", "gv0", lr)} AS v0q" +:
          (1 to h).map(j => s"${mlpUpd12Expr(s"v${j}q", s"gv$j", lr)} AS v${j}q"))): _*)
  }

  /** The weights after 0..iters reference steps, in mlpWeightColsDh order. */
  def sqlFit(feats: DataFrame, d: Int, h: Int, iters: Int, lr: Double): Seq[Seq[Long]] =
    (1 to iters).scanLeft(sqlInit(feats.sparkSession, d, h)) { (w, _) =>
      sqlStep(feats, w, d, h, lr).localCheckpoint(true)
    }.map(_.head().toSeq.map(_.asInstanceOf[Long]))
}
