package perfbench

import graft.{GraftSession, SparkEntry}
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.metrics.source.CodegenMetrics

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Closed-loop driver for one benchmark run: one client plays the named
  * queries pass after pass through the noop sink, timing the calls into
  * each layer's public entry points from outside. Raw observations go to
  * a JSON file; `perfbench/metrics.py` turns them into metrics.
  *
  * Run order: the session build (timed from process start), a cold
  * pass, a check pass that writes each query's rows as parquet, `--warmup`
  * warm-up passes, then measured warm passes for `--seconds` (at least
  * one). With `--setup-only 1` it stops after the session build and
  * records only its time.
  *
  * With `--trace 1` it also registers a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener, sets a job group
  * per query, and keeps every span in memory until the run ends. */
object Harness {

  /** Everything a listener sees is charged to the execution the harness
    * is running; the bus is drained at each execution's end, so no event
    * crosses into the next one. */
  @volatile private var current = -1

  final class Acc {
    var heldPeak = 0L
    val pins = mutable.HashSet[Int]()
    var pinBytes = 0L
    var actions, analysisMs, optimizationMs, planningMs = 0L
    var batches, batchMs, commitMs, stateRows = 0L
  }

  /** Block bookkeeping (both modes) plus raw job, stage, SQL-execution
    * and streaming-progress records (traced mode only). */
  final class Events(full: Boolean) extends SparkListener {
    val accs = mutable.HashMap[Int, Acc]()
    def acc(i: Int): Acc = accs.getOrElseUpdate(i, new Acc)
    // block -> (memory bytes, execution that stored it)
    private val held = mutable.HashMap[(String, String), (Long, Int)]()
    private var heldByCurrent = 0L
    val jobs = ArrayBuffer[String]()
    val sqls = mutable.LinkedHashMap[Long, (Long, Long)]()
    private val stageExec = mutable.HashMap[Int, Int]()
    private val stages = mutable.LinkedHashMap[(Int, Int), Array[Long]]()
    private val jobStart = mutable.HashMap[Int, (Long, String, Long, Seq[Int], Int)]()

    def openWindow(): Unit = synchronized { heldByCurrent = 0L }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val info = e.blockUpdatedInfo
      val id = info.blockId
      if (id.isRDD || id.isBroadcast) {
        val key = (info.blockManagerId.executorId, id.name)
        val mem = if (info.storageLevel.isValid) info.memSize else 0L
        val (prev, by) = held.getOrElse(key, (0L, -1))
        // Only blocks this execution stored count towards its peak, and a
        // broadcast piece counts until the execution ends: the cleaner
        // frees those at GC-dependent times.
        if (by == current && (mem > 0L || id.isRDD)) heldByCurrent -= prev
        if (mem == 0L) held.remove(key)
        else { held(key) = (mem, current); heldByCurrent += mem }
        val a = acc(current)
        a.heldPeak = math.max(a.heldPeak, heldByCurrent)
        if (id.isRDD && info.storageLevel.isValid && prev == 0L) {
          a.pins += id.asRDDId.get.rddId
          a.pinBytes += info.memSize + info.diskSize
        }
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = if (full) synchronized {
      val p = e.properties
      def prop(k: String) = if (p == null) null else p.getProperty(k)
      val sql = Option(prop("spark.sql.execution.id")).map(_.toLong).getOrElse(-1L)
      e.stageIds.foreach(s => stageExec.getOrElseUpdate(s, current))
      jobStart(e.jobId) = (e.time, String.valueOf(prop("spark.jobGroup.id")), sql, e.stageIds, current)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (full) synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, group, sql, st, exec) =>
        jobs += s"""{"id":${e.jobId},"exec":$exec,"group":${Json.str(group)},"sql":$sql,""" +
          s""""start":$t0,"end":${e.time},"stages":${st.mkString("[", ",", "]")}}"""
      }
    }

    // per stage attempt: tasks, run ms, cpu ns, gc ms, shuffle write bytes,
    // shuffle read bytes, fetch wait ms, spill bytes, input bytes, input
    // rows, output bytes, output rows
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (full) synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new Array[Long](12))
        val sr = m.shuffleReadMetrics
        val v = Array(1L, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, sr.remoteBytesRead + sr.localBytesRead,
          sr.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
        for (k <- v.indices) s(k) += v(k)
      }
    }

    private val stageTimes = mutable.HashMap[(Int, Int), (Long, Long)]()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (full) synchronized {
      val i = e.stageInfo
      stageTimes((i.stageId, i.attemptNumber())) =
        (i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = if (full) synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart => sqls(s.executionId) = (s.time, s.time)
        case s: SparkListenerSQLExecutionEnd =>
          sqls.get(s.executionId).foreach { case (t0, _) => sqls(s.executionId) = (t0, s.time) }
        case _ =>
      }
    }

    def stageJson: Seq[String] = synchronized {
      stages.toSeq.map { case ((id, att), v) =>
        val (t0, t1) = stageTimes.getOrElse((id, att), (0L, 0L))
        s"""{"id":$id,"attempt":$att,"exec":${stageExec.getOrElse(id, -1)},"submit":$t0,"complete":$t1,""" +
          s""""m":${v.mkString("[", ",", "]")}}"""
      }
    }
  }

  final class Planning(ev: Events) extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = ev.synchronized {
      val a = ev.acc(current)
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
      a.actions += 1
      a.analysisMs += ms("analysis"); a.optimizationMs += ms("optimization"); a.planningMs += ms("planning")
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  final class Streams(ev: Events) extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = ev.synchronized {
      val p = e.progress
      val a = ev.acc(current)
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      a.batches += 1
      a.batchMs += p.batchDuration
      a.commitMs += d("walCommit") + d("commitOffsets") + p.stateOperators.map(_.commitTimeMs).sum
      a.stateRows += p.stateOperators.map(_.numRowsTotal).sum
    }
  }

  object Json {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
      str(k) + ":" + (v match {
        case s: String => str(s)
        case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
        case b: Boolean => b.toString
        case x => x.toString
      })
    }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val launchMs = opt("launch-ms").toDouble
    val dir = opt("sf-dir")
    val codes = opt("queries").split(",").toSeq
    val seconds = opt("seconds").toDouble
    val warmup = opt("warmup").toInt
    val traced = opt("trace") == "1"
    val threads = opt("threads").toInt
    val checkDir = opt("check-dir")
    val rng = new scala.util.Random(opt("seed").toLong)

    val all = SparkEntry.queries
    val names = codes.map(c => all.keys.find(_.startsWith(c + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no query with code $c")))
    val oracle = SparkEntry.oracleSql

    val baseNs = System.nanoTime()
    val baseMs = System.currentTimeMillis().toDouble
    def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
    val spans = ArrayBuffer[String]()
    var nextSpan = 0
    def span[T](name: String, parent: Int, attrs: (String, Any)*)(body: Int => T): T = {
      val id = nextSpan; nextSpan += 1
      val t0 = nowMs()
      try body(id)
      finally if (traced) spans += Json.obj(Seq[(String, Any)]("id" -> id, "parent" -> parent,
        "name" -> name, "start" -> t0, "end" -> nowMs()) ++ attrs: _*)
    }
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    val runSpan = 0; nextSpan = 1
    val runStart = nowMs()
    val spark = span("setup", runSpan) { _ => GraftSession.local(threads) }
    val setupS = (nowMs() - launchMs) / 1000.0
    val sessionS = (nowMs() - runStart) / 1000.0
    if (opt.get("setup-only").contains("1")) {
      Files.writeString(Paths.get(opt("out")), s"""{"setup_s":$setupS}\n""")
      spark.stop()
      return
    }
    val sc = spark.sparkContext
    val ev = new Events(traced)
    sc.addSparkListener(ev)
    if (traced) {
      spark.listenerManager.register(new Planning(ev))
      spark.streams.addListener(new Streams(ev))
    }

    val execs = ArrayBuffer[String]()
    val passes = ArrayBuffer[String]()
    def runExec(name: String, kind: String, pass: Int, passSpan: Int): Unit = {
      val idx = execs.size
      val fn = all(name)
      span("query", passSpan, "exec" -> idx, "query" -> name) { qs =>
        current = idx
        if (traced) sc.setJobGroup(s"perfbench-$idx-$name", s"$kind pass $pass: $name")
        val sweepS = span("sweep", qs) { _ => timed(GraftSession.sweepBlocks(spark)) }
        PerfbenchBus.drain(sc)
        ev.openWindow()
        val cg0 = CodeGenerator.compileTime
        val cgN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        var err = ""
        var buildS, actionS = 0.0
        try {
          var df: DataFrame = null
          buildS = span("build", qs) { _ => timed { df = fn(spark, dir) } }
          actionS = span("action", qs) { _ =>
            timed {
              if (kind == "check") df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
              else df.write.format("noop").mode("overwrite").save()
            }
          }
        } catch {
          case e: Throwable =>
            err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
        if (traced) sc.clearJobGroup()
        PerfbenchBus.drain(sc)
        val a = ev.synchronized(ev.acc(idx))
        execs += Json.obj("exec" -> idx, "query" -> name, "kind" -> kind, "pass" -> pass,
          "sweep_s" -> sweepS, "build_s" -> buildS, "action_s" -> actionS, "error" -> err,
          "held_peak_b" -> a.heldPeak, "pins" -> a.pins.size, "pin_bytes" -> a.pinBytes,
          "compile_ns" -> (CodeGenerator.compileTime - cg0),
          "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0),
          "actions" -> a.actions, "analysis_ms" -> a.analysisMs,
          "optimization_ms" -> a.optimizationMs, "planning_ms" -> a.planningMs,
          "batches" -> a.batches, "batch_ms" -> a.batchMs, "commit_ms" -> a.commitMs,
          "state_rows" -> a.stateRows)
      }
    }
    def runPass(kind: String, pass: Int): Unit = span("pass", runSpan, "kind" -> kind, "pass" -> pass) { ps =>
      // The cold and check passes keep the workload's order: the first
      // queries shape the JIT profile of the whole run (passes of a list of
      // streams were 40 % slower for every seed whose cold pass began with
      // v07 than for those that began with v08).
      val order = if (kind == "cold" || kind == "check") names else rng.shuffle(names)
      val cpu0 = os.getProcessCpuTime
      val t0 = nowMs()
      order.foreach(n => runExec(n, kind, pass, ps))
      passes += Json.obj("pass" -> pass, "kind" -> kind, "wall_s" -> (nowMs() - t0) / 1000.0,
        "cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9, "start" -> t0, "end" -> nowMs())
    }

    runPass("cold", 0)
    // The JIT keeps speeding passes up for many passes after the cold one,
    // so the check pass and `warmup` more passes only warm up. A count, not
    // a time: on a slower host a time would leave the JIT less far along.
    runPass("check", 1)
    var pass = 2
    while (pass < 2 + warmup) {
      runPass("warmup", pass)
      pass += 1
    }
    val start = System.nanoTime()
    val first = pass
    while (pass == first || (System.nanoTime() - start) / 1e9 < seconds) {
      runPass("warm", pass)
      pass += 1
    }
    val runEnd = nowMs()
    PerfbenchBus.drain(sc)

    val sb = new StringBuilder
    sb ++= "{\"setup_s\":" + setupS + ",\"session_s\":" + sessionS
    sb ++= ",\"oracle\":" + Json.obj(names.sorted.flatMap(n => oracle.get(n).map(n -> _)): _*)
    sb ++= ",\"execs\":" + execs.mkString("[\n", ",\n", "]")
    sb ++= ",\"passes\":" + passes.mkString("[\n", ",\n", "]")
    if (traced) {
      spans += Json.obj("id" -> runSpan, "parent" -> -1, "name" -> "run", "start" -> runStart, "end" -> runEnd)
      sb ++= ",\"spans\":" + spans.mkString("[\n", ",\n", "]")
      sb ++= ",\"jobs\":" + ev.synchronized(ev.jobs.toSeq).mkString("[\n", ",\n", "]")
      sb ++= ",\"stages\":" + ev.stageJson.mkString("[\n", ",\n", "]")
      sb ++= ",\"sqls\":" + ev.synchronized(ev.sqls.toSeq).map { case (id, (t0, t1)) =>
        Json.obj("id" -> id, "start" -> t0, "end" -> t1) }.mkString("[\n", ",\n", "]")
    }
    sb ++= "}\n"
    Files.writeString(Paths.get(opt("out")), sb.toString)
    spark.stop()
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
}
