package graft

/** Dev measurement main for the dup-rate gates (d06 SimHash and d04
  * MinHash near-dup pairs): times each operator with the gate FORCED each
  * way on the same corpus, so the dedup-first overhead (or win) is a
  * committed number rather than an inference from suite-level runs.
  * Prints one JSON line:
  * {"sf":…,"n_docs":N,"dup_rate_est":…,"d06_raw_sec":…,
  *  "d06_dedup_first_sec":…,"d04_raw_sec":…,"d04_dedup_first_sec":…}.
  * min-of-2 per path, same discipline as Bench. */
object DedupBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
    // same null-ignoring probe as the gate itself (count(text), not count(*))
    val stats = docs.agg(count(col("text")).as("n"),
      approx_count_distinct(md5(col("text"))).as("nd")).head()
    val n = stats.getLong(0)
    val dupRate = if (n == 0L) 0.0 else 1.0 - stats.getLong(1).toDouble / n
    // warmup (classloading/codegen) outside the timed loop
    graft.ext.Dedup.simhashNeardupPairs(docs, "doc_id", "text")
      .write.format("noop").mode("overwrite").save()
    graft.ext.Dedup.neardupPairs(docs, "doc_id", "text")
      .write.format("noop").mode("overwrite").save()
    // Force each path via knownDupRate (no probe job, deterministic
    // routing): the HLL estimate can come out slightly NEGATIVE on a
    // dup-free corpus, so threshold-gaming with minRate = 0.0 silently
    // re-times the raw path — measured exactly that bug here.
    def time(run: () => org.apache.spark.sql.DataFrame): Double =
      (1 to 2).map { _ =>
        GraftSession.sweepBlocks(spark)
        val t0 = System.nanoTime()
        run().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
    // forcedRate -1.0 is below any threshold -> raw; 1.0 -> dedup-first
    val d06Raw = time(() => graft.ext.Dedup.simhashNeardupPairs(
      docs, "doc_id", "text", knownDupRate = Some(-1.0)))
    val d06Dedup = time(() => graft.ext.Dedup.simhashNeardupPairs(
      docs, "doc_id", "text", knownDupRate = Some(1.0)))
    val d04Raw = time(() => graft.ext.Dedup.neardupPairs(
      docs, "doc_id", "text", knownDupRate = Some(-1.0)))
    val d04Dedup = time(() => graft.ext.Dedup.neardupPairs(
      docs, "doc_id", "text", knownDupRate = Some(1.0)))
    println(f"""{"sf":"$sfDir","n_docs":$n,"dup_rate_est":$dupRate%.4f,"d06_raw_sec":$d06Raw%.3f,"d06_dedup_first_sec":$d06Dedup%.3f,"d04_raw_sec":$d04Raw%.3f,"d04_dedup_first_sec":$d04Dedup%.3f}""")
    spark.stop()
  }
}
