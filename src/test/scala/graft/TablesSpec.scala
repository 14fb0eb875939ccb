package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The events reader must read the schema the file DECLARES, not the
  * layout last month's writer produced — round 9's only breakage was a
  * hard-coded ns-as-long assumption meeting a regenerated µs file. All
  * three physical layouts seen in the wild must normalize to the same
  * UTC instants. */
class TablesSpec extends SparkSpec {

  // 2024-01-01T00:00:01.234567 UTC, in µs since epoch
  private val micros = 1704067201234567L

  test("normalizeTs: ns-as-long, NTZ-micros, and instant layouts agree") {
    import spark.implicits._
    val asLong = Seq((1L, micros * 1000L)).toDF("event_id", "ts") // legacy ns-as-long
    val asInstant = Seq((1L, micros)).toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
    val asNtz = asInstant.select(col("event_id"),
      col("ts").cast(TimestampNTZType).as("ts")) // µs file with isAdjustedToUTC=false
    val outs = Seq(asLong, asNtz, asInstant).map { df =>
      val n = Tables.normalizeTs(df)
      assert(n.schema("ts").dataType === TimestampType)
      n.select(unix_micros(col("ts"))).head().getLong(0)
    }
    assert(outs.forall(_ === micros), s"normalized instants diverge: $outs")
  }

  test("normalizeTs: ns-as-long floor-truncates (never rounds through double)") {
    import spark.implicits._
    // .999 µs of sub-µs noise must truncate DOWN, like DuckDB's ns->µs cast
    val noisy = Seq((1L, micros * 1000L + 999L)).toDF("event_id", "ts")
    val got = Tables.normalizeTs(noisy).select(unix_micros(col("ts"))).head().getLong(0)
    assert(got === micros)
  }

  test("events reader: the shipped testdata round-trips through the adaptive branch") {
    val e = Tables.events(spark, sf001)
    assert(e.schema("ts").dataType === TimestampType)
    assert(e.count() > 0)
  }

  test("table reads infer the footer schema once: a second read starts no job") {
    Tables.orders(spark, sf001)
    assert(jobsStartedBy { Tables.orders(spark, sf001) } === 0,
      "a repeated accessor call re-read the footer with a Spark job")
    assert(Tables.orders(spark, sf001).schema === spark.read.parquet(s"$sf001/orders.parquet").schema)
  }

  test("table reads: a file rewritten in place reads back with its new schema") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tables-spec")
    val file = tmp.resolve("t.parquet")
    // a single-file table, as the accessors read: Spark writes a directory,
    // so the lone part file is copied over `file`
    def install(df: org.apache.spark.sql.DataFrame): Unit = {
      val out = tmp.resolve("out")
      df.coalesce(1).write.mode("overwrite").parquet(out.toString)
      val part = out.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, file, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    try {
      install(Seq((1L, "a")).toDF("id", "name"))
      assert(Tables.parquet(spark, file.toString).schema.fieldNames.toSeq === Seq("id", "name"))
      install(Seq((2, 0.5, "b")).toDF("k", "score", "tag"))
      val again = Tables.parquet(spark, file.toString)
      assert(again.schema === spark.read.parquet(file.toString).schema)
      assert(again.schema.fieldNames.toSeq === Seq("k", "score", "tag"))
      assert(again.collect().map(r => (r.getInt(0), r.getDouble(1), r.getString(2))).toSeq ===
        Seq((2, 0.5, "b")))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  // Drift detector: the driver regenerates /root/testdata between rounds
  // and has changed physical types before (r9: events.ts ns -> µs, which
  // errored 14 queries). This pins the CURRENT schema of every table so a
  // regeneration shows up as ONE named diff here instead of a scatter of
  // cryptic per-query analysis errors. On an intentional drift: audit the
  // readers (Tables.normalizeTs owns events.ts; timestamp_ntz columns are
  // read under the UTC-pinned session), re-run the oracle gate, then
  // update the expectation below.
  test("testdata schema drift: every table matches the audited layout") {
    val expected = Map(
      "region" -> "r_regionkey:int,r_name:string",
      "nation" -> "n_nationkey:int,n_name:string,n_regionkey:int",
      "customer" -> "c_custkey:bigint,c_name:string,c_nationkey:int,c_acctbal:double,c_mktsegment:string",
      "supplier" -> "s_suppkey:bigint,s_name:string,s_nationkey:int,s_acctbal:double",
      "part" -> "p_partkey:bigint,p_name:string,p_brand:string,p_type:string,p_size:int,p_retailprice:double",
      "orders" -> "o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string,o_totalprice:double,o_orderdate:timestamp_ntz,o_orderpriority:string",
      "lineitem" -> ("l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,l_linenumber:int," +
        "l_quantity:double,l_extendedprice:double,l_discount:double,l_tax:double," +
        "l_returnflag:string,l_linestatus:string,l_shipdate:timestamp_ntz"),
      "events" -> "event_id:bigint,ts:timestamp_ntz,user_id:bigint,event_type:string,value:double,props:string",
      "documents" -> "doc_id:bigint,text:string,lang:string,source:string,n_chars:bigint",
      "embeddings" -> "vec_id:bigint,embedding:array<float>,label:int")
    val drifted = expected.flatMap { case (t, want) =>
      val got = spark.read.parquet(s"$sf001/$t.parquet").schema.fields
        .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
      if (got == want) None else Some(s"$t:\n  expected $want\n  actual   $got")
    }
    assert(drifted.isEmpty,
      "TESTDATA SCHEMA DRIFTED (driver regenerated with new physical types?) — " +
        "audit the readers, re-run scripts/check_oracle.py, update this spec:\n" +
        drifted.mkString("\n"))
  }
}
