package graft

import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q01 aggregates are exact decimals grouped by flag+status") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sf001)
    val rows = df.collect()
    assert(rows.length === 6) // 3 returnflags x 2 linestatus in synthetic data
    val total = Tables.lineitem(spark, sf001)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02"))).count()
    assert(rows.map(_.getAs[Long]("count_order")).sum === total)
  }

  test("q09 cross join is |region| x |nation|") {
    val n = SparkEntry.queries("q09_region_nation_matrix")(spark, sf001).count()
    assert(n === Tables.region(spark, sf001).count() * Tables.nation(spark, sf001).count())
  }

  test("semi and anti joins partition customers") {
    val c = Tables.customer(spark, sf001).count()
    val withBig = SparkEntry.queries("q06_customers_with_big_order")(spark, sf001).count()
    val anti = Tables.customer(spark, sf001).join(
      Tables.orders(spark, sf001).filter(col("o_totalprice") > 400000.0),
      col("c_custkey") === col("o_custkey"), "left_anti").count()
    assert(withBig + anti === c)
  }
}
