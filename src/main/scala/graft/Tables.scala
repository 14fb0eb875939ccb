package graft

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Typed accessors for the driver-generated TPC-H-ish test tables
  * (see /root/repo/TESTDATA.md). Each is a plain parquet scan so
  * Catalyst keeps full pushdown/pruning freedom — filters and column
  * selections applied downstream reach the parquet reader
  * (PushedFilters / ReadSchema in .explain).
  *
  * At 100 TB these would be partitioned/bucketed external tables; the
  * accessor layer is the single seam where that swap happens.
  */
object Tables {
  /** Settings that shape how a parquet footer's types convert to Spark
    * types; a cached schema is valid only under the values it was read
    * with. */
  private val footerConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive")
  private val footerSchemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long, Seq[String]), StructType]()

  /** A parquet read that infers the schema from the footer once per file
    * version. Plain `spark.read.parquet` launches a Spark job to re-read
    * the footer on every call (`mergeSchemasInParallel` runs it even for
    * one file): 80-110 ms in a warm JVM, against about 7 ms for a read
    * with the schema given, which starts no job.
    *
    * The cache key is the qualified path, the file's length and
    * modification time, and the current values of `footerConfs`: a file
    * rewritten in place, or a setting changed between reads, infers
    * afresh. Only a plain file is cached. A directory's schema is the
    * merge of every part file's footer, and a part file can be added
    * without changing the directory's own length or time, so a
    * directory (or a missing path, which then fails as usual) always
    * goes through normal inference. The cache holds one small entry per
    * file version read. */
  private[graft] def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val status = try Some(fs.getFileStatus(p)) catch { case _: FileNotFoundException => None }
    status.filter(_.isFile) match {
      case Some(f) =>
        val key = (f.getPath.toString, f.getLen, f.getModificationTime,
          footerConfs.map(spark.conf.get))
        val schema = footerSchemas.computeIfAbsent(key, _ => spark.read.parquet(path).schema)
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = t(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "lineitem")
  /** events.ts normalized to a UTC-instant TimestampType regardless of the
    * file's physical layout — read the schema the footer declares, don't
    * assume last month's. Three layouts seen in the wild:
    *   - TIMESTAMP_NANOS surfaced as raw Long (nanosAsLong): floor-truncate
    *     to µs with integer `div` (not `/`, which would round through
    *     double and lose precision above 2^53) — the same truncation DuckDB
    *     applies casting TIMESTAMP_NS → TIMESTAMP, so oracles line up;
    *   - TIMESTAMP_MICROS with isAdjustedToUTC=false (TimestampNTZ): cast
    *     to TimestampType — the session is pinned to UTC, so the wall-clock
    *     reinterpretation is the identity on the stored µs value;
    *   - already-instant TIMESTAMP: pass through. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def events(spark: SparkSession, dir: String): DataFrame = {
    // Harmless when the file is µs; required to read a ns-precision file at all.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(t(spark, dir, "events"))
  }
  def documents(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")

  /** A table spread across the session's parallelism BEFORE per-row-heavy
    * work (regex/JSON parsing, shingling, interpreted HOF lambdas): a
    * small single-file parquet table yields ONE input split, so a
    * shuffle-free projection — and the map side of the first exchange —
    * would serialize on one core no matter how many executor threads
    * exist (the s10 lesson; measured 9.7x -> 2.0x per-10x-rows on s60).
    * The shuffle moves only the tiny raw table bytes; at 100 TB the
    * corpus arrives as many splits and the source layout makes this
    * decision instead — which is exactly why it lives HERE, in the
    * accessor seam where the 100 TB table swap happens. Queries whose
    * first operation is already a wide shuffle on a high-cardinality key
    * (plain groupBy/join shapes) don't need it and don't pay it. */
  def documentsSpread(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).repartition(col("doc_id"))
  def eventsSpread(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).repartition(col("event_id"))
  def customerSpread(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir).repartition(col("c_custkey"))
}
