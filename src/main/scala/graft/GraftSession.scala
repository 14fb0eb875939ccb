package graft

import org.apache.spark.sql.SparkSession

/** Session factory pinning the semantics the engine is tested under.
  *
  * Mirrors the reference's driver-visible defaults where they still
  * matter (reference: sql/core/src/main/scala/org/apache/spark/sql/SQLConf.scala:217-243 —
  * 10 MB autoBroadcastJoinThreshold, adaptive execution), upgraded to
  * modern Spark: AQE stays ON (coalescing + skew-join + runtime join
  * re-selection replace the reference's off-by-default
  * ExchangeCoordinator).
  *
  * Shuffle parallelism is sized to the local core count here; on a
  * real cluster you'd leave AQE's coalescing to shrink
  * an intentionally-high initial partition count.
  */
object GraftSession {
  /** Artifact isolation is off. Spark keys its compiled-class cache
    * (`CodeGenerator.cache`) by class loader and generated code, and with
    * isolation on every cloned session (each streaming query runs in
    * one) hands the executors a fresh `ExecutorClassLoader`: every stream
    * run would recompile its generated classes (14 per run of the
    * transformWithState query, 0.2-0.35 s) and start them with a cold
    * JIT. The engine adds no session artifacts (jars, class files), so
    * one shared loader loses nothing. The setting is read only when the
    * session is created, which is why it lives in this factory.
    *
    * Local files go through [[ForkFreeLocalFileSystem]] (`FileSystem`) and
    * [[ForkFreeLocalFs]] (`FileContext`). Without the native Hadoop
    * library the stock local file system forks a shell for `chmod` on
    * every create and mkdir, and for `readlink` twice on every
    * `FileContext` rename: ~30 ms for each checkpoint file a stream run
    * writes (its offset and commit logs, checkpoint checksums and state
    * store snapshots), against ~0.1 ms for the write and rename themselves.
    * The replacements set the same permission bits and keep checksums and
    * the atomic no-overwrite rename; the `FileSystem` keeps the rule of
    * Hive's `ProxyLocalFileSystem`, which hive-exec otherwise registers
    * for `file://`: a rename onto an existing file returns `false`.
    * The settings live in this factory because Hadoop caches `FileSystem`
    * instances by scheme and user, not by configuration: the first
    * `file://` instance the JVM creates is the one every later session
    * gets. */
  def local(threads: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$threads]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Block-manager sweep shared by the Bench and Verify runners:
    * localCheckpoint()ed results register as persistent RDDs and linger
    * until GC collects their DataFrame refs; across a ~120-query run in
    * one JVM they accumulate and evict genuinely-persisted mid-query
    * tables (the round-4 phantom-regression signature). Blocking
    * unpersist removes the blocks synchronously; deliberately NO
    * System.gc() — a forced full GC's concurrent phases bleed ~0.5-1s
    * into the next timed region (measured). */
  def sweepBlocks(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
