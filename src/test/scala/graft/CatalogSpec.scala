package graft

import graft.compat.Legacy._
import org.apache.spark.sql.functions._

/** Commands / DDL / metadata surface (SURVEY §2.11: SetCommand,
  * ExplainCommand, Cache/UncacheTable, DescribeCommand, ShowTables, temp
  * table registry) plus the 1.6 compat shim. */
class CatalogSpec extends SparkSpec {

  test("temp views: register, list, query, drop — including 1.6 name") {
    Tables.nation(spark, sf001).registerTempTable("nation_legacy") // 1.6 shim
    assert(spark.catalog.tableExists("nation_legacy"))
    assert(spark.sql("SELECT count(*) FROM nation_legacy").collect().head.getLong(0) > 0)
    assert(spark.sql("SHOW TABLES").collect().map(_.getString(1)).contains("nation_legacy"))
    spark.catalog.dropTempView("nation_legacy")
    assert(!spark.catalog.tableExists("nation_legacy"))
  }

  test("cache manager: cacheTable swaps in InMemoryRelation, uncache removes it") {
    Tables.region(spark, sf001).createOrReplaceTempView("region_c")
    spark.catalog.cacheTable("region_c")
    try {
      assert(spark.catalog.isCached("region_c"))
      val plan = spark.table("region_c").queryExecution.optimizedPlan.toString
      assert(plan.contains("InMemoryRelation"))
      assert(spark.table("region_c").count() > 0) // materializes the cache
    } finally {
      spark.catalog.uncacheTable("region_c")
      assert(!spark.catalog.isCached("region_c"))
    }
  }

  test("Observation API: named metrics ride the job, no second scan") {
    // the production job-health hook: row counts / null rates / sums
    // collected as a side effect of the action itself — at 100 TB a
    // separate validation scan doubles the read bill; observe() does not
    val obs = new org.apache.spark.sql.Observation("orders_health")
    val df = Tables.orders(spark, sf001)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("cents"),
        count(when(col("o_custkey").isNull, 1)).as("null_keys"))
      .filter(col("o_totalprice") > 0)
    val n = df.count()
    val m = obs.get
    assert(m("n_rows").asInstanceOf[Long] === 1500L) // metrics see PRE-filter rows
    assert(m("null_keys").asInstanceOf[Long] === 0L)
    assert(m("cents").asInstanceOf[Long] > 0L)
    assert(n <= 1500L)
  }

  test("DESCRIBE / EXPLAIN / SET commands") {
    Tables.region(spark, sf001).createOrReplaceTempView("region_d")
    val desc = spark.sql("DESCRIBE region_d").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.contains("r_regionkey") && desc.contains("r_name"))
    val explain = spark.sql("EXPLAIN SELECT count(*) FROM region_d").collect().head.getString(0)
    assert(explain.contains("Physical Plan"))
    val set = spark.sql("SET spark.sql.shuffle.partitions").collect().head
    assert(set.getString(0) === "spark.sql.shuffle.partitions")
  }

  test("function registry is queryable (SHOW FUNCTIONS / DESCRIBE FUNCTION)") {
    assert(spark.catalog.listFunctions().count() > 300)
    val d = spark.sql("DESCRIBE FUNCTION upper").collect().map(_.getString(0)).mkString("\n")
    assert(d.contains("upper"))
  }

  test("saveAsTable persists to the session catalog and spark.table reads it back") {
    spark.sql("DROP TABLE IF EXISTS region_saved")
    Tables.region(spark, sf001).write.saveAsTable("region_saved")
    try {
      assert(spark.catalog.tableExists("region_saved"))
      assert(spark.table("region_saved").count() === Tables.region(spark, sf001).count())
      spark.table("region_saved").createOrReplaceTempView("rs_v")
      assert(spark.sql("SELECT count(*) FROM region_saved").collect().head.getLong(0) > 0)
    } finally spark.sql("DROP TABLE IF EXISTS region_saved")
    assert(!spark.catalog.tableExists("region_saved"))
  }

  test("SQL TRANSFORM pipes rows through an external script") {
    Tables.region(spark, sf001).createOrReplaceTempView("region_t")
    val out = spark.sql(
      "SELECT TRANSFORM (r_name) USING 'cat' AS (name) FROM region_t")
      .collect().map(_.getString(0)).sorted
    val direct = Tables.region(spark, sf001)
      .collect().map(_.getAs[String]("r_name")).sorted
    assert(out.toSeq === direct.toSeq)
  }

  test("1.6 compat shim: unionAll, explodeColumn, renamed functions") {
    import spark.implicits._
    val a = Seq((1, "x y")).toDF("id", "s")
    assert(a.unionAll(a).count() === 2)
    val exploded = a.explodeColumn("s", "tok")(s => s.split(" ").toSeq)
      .select("tok").collect().map(_.getString(0))
    assert(exploded.toSeq === Seq("x", "y"))
    val ranked = a.unionAll(a).select(graft.compat.Legacy.rowNumber()
      .over(org.apache.spark.sql.expressions.Window.orderBy("id")).as("rn"))
      .collect().map(_.getInt(0))
    assert(ranked.toSeq === Seq(1, 2))
    assert(a.assertAnalyzed().count() === 1)
    // each renamed alias gives the modern function's values
    val w = org.apache.spark.sql.expressions.Window.orderBy("k")
    val ks = Seq(1, 1, 2, 3, 3, 3).toDF("k")
    val legacy = ks.select(denseRank().over(w), percentRank().over(w), cumeDist().over(w))
    val modern = ks.select(dense_rank().over(w), percent_rank().over(w), cume_dist().over(w))
    assert(legacy.collect().toSeq === modern.collect().toSeq)
    assert(legacy.collect().map(_.getInt(0)).toSeq === Seq(1, 1, 2, 3, 3, 3))
    assert(ks.select(graft.compat.Legacy.approxCountDistinct(col("k"))).head().getLong(0) ===
      ks.select(approx_count_distinct(col("k"))).head().getLong(0))
  }
}
