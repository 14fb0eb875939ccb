package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=j01,j02 — run a comma-separated subset (local
    // iteration aid; the driver sets no filter and gets every query)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Per-query wall budget (QueryBudget): on overrun the query records a
    // named TIMEOUT row in verify_errors.json instead of hanging every
    // query after it.
    val budgetMs = QueryBudget.budgetMs
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def qj(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def writeErrors(): Unit = Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      errors.map { case (k, v) => s"${qj(k)}: ${qj(v)}" }.mkString("{", ",", "}"))
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      GraftSession.sweepBlocks(spark)
      val outcome = QueryBudget.run(spark, s"verify-$name", budgetMs) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      QueryBudget.errorOf(outcome, budgetMs).foreach { msg =>
        errors(name) = msg
        System.err.println(s"[verify] $name $msg")
      }
      if (outcome == QueryBudget.Stuck) {
        // a cancelled query that survives the grace period would run
        // CONCURRENTLY with subsequent queries on the shared session,
        // skewing their results and timings — abort the run and let the
        // partial artifacts + error map tell the story
        writeErrors()
        sys.exit(3)
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${qj(k)}: ${qj(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    writeErrors()
    spark.stop()
  }
}
