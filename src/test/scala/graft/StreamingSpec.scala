package graft

import graft.streaming.{Event, ExactlyOnceSink, Streaming}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-streaming behavior the batch oracle can't see: MemoryStream
  * micro-batch parity with batch plans, watermark late-data handling, and
  * cross-batch GroupState (the mapWithState/updateStateByKey port —
  * reference STRM/dstream/PairDStreamFunctions.scala:379-497). */
class StreamingSpec extends SparkSpec {

  import org.apache.spark.sql.functions._

  private def sampleEvents: Seq[Event] =
    Tables.events(spark, sf001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("event_id").limit(300)
      .collect().map { r =>
        Event(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4))
      }.toSeq

  private def runToCompletion(df: org.apache.spark.sql.DataFrame,
                              name: String, mode: OutputMode): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
  }

  test("tumbling window aggregation: stream result equals batch result") {
    import spark.implicits._
    val evs = sampleEvents
    val ms = MemoryStream[Event](spark)
    // three micro-batches
    evs.grouped(100).foreach(ms.addData(_))
    runToCompletion(Streaming.tumblingStats(ms.toDF(), "1 hour"),
      "tumbling_stream", OutputMode.Complete())
    val streamed = spark.table("tumbling_stream").collect().toSet
    val batch = Streaming.tumblingStats(evs.toDF(), "1 hour").collect().toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("watermark drops data later than the allowed delay") {
    import spark.implicits._
    def at(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${10 + min / 60}%02d:${min % 60}%02d:00")
    val ms = MemoryStream[Event](spark)
    val agg = Streaming.tumblingStats(
      ms.toDF().withWatermark("ts", "10 minutes"), "15 minutes")
    val q = agg.writeStream.format("memory").queryName("wm_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData(Event(1, at(0), 1, "a", 1.0), Event(2, at(5), 1, "a", 1.0))
      q.processAllAvailable()
      // advance watermark far past the first window
      ms.addData(Event(3, at(120), 1, "a", 1.0))
      q.processAllAvailable()
      // this event is 2h late — behind the watermark — and must be dropped
      ms.addData(Event(4, at(1), 1, "a", 1.0))
      q.processAllAvailable()
      ms.addData(Event(5, at(240), 1, "a", 1.0)) // close remaining windows
      q.processAllAvailable()
    } finally q.stop()
    val first = spark.table("wm_stream")
      .filter(col("window_start") === at(0)).collect()
    assert(first.length === 1)
    assert(first.head.getAs[Long]("n") === 2) // late event 4 NOT counted
  }

  test("sliding windows update incrementally per micro-batch (inverse-reduce parity)") {
    // The reference's ReducedWindowedDStream avoids recomputing whole
    // sliding windows via an inverse reduce; Structured Streaming gets the
    // same effect from the state store — a micro-batch only touches the
    // (window, key) state rows its events fall into. Assert exactly that:
    // a 5-event second batch updates at most 5 * (size/slide) keys, not
    // the whole window state.
    import spark.implicits._
    val evs = sampleEvents
    val ms = MemoryStream[Event](spark)
    val agg = Streaming.slidingStats(ms.toDF(), "1 hour", "15 minutes")
    val q = agg.writeStream.format("memory").queryName("slide_inc")
      .outputMode(OutputMode.Complete()).start()
    try {
      ms.addData(evs.dropRight(5)); q.processAllAvailable()
      ms.addData(evs.takeRight(5)); q.processAllAvailable()
      val progs = q.recentProgress.filter(_.numInputRows > 0)
      assert(progs.length === 2)
      val updated2 = progs.last.stateOperators.head.numRowsUpdated
      assert(updated2 > 0 && updated2 <= 5 * 4,
        s"second batch should only update touched (window,type) keys, got $updated2")
      val total = spark.table("slide_inc").count()
      assert(updated2 < total, "incremental update must touch fewer keys than total state")
    } finally q.stop()
    assert(spark.table("slide_inc").collect().toSet
      === Streaming.slidingStats(evs.toDF(), "1 hour", "15 minutes").collect().toSet)
  }

  test("mapGroupsWithState carries per-key state across micro-batches") {
    import spark.implicits._
    val evs = sampleEvents
    val ms = MemoryStream[Event](spark)
    evs.grouped(100).foreach(ms.addData(_))
    val counted = ms.toDS().groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + batch.size
          state.update(total)
          (uid, total)
      }
    runToCompletion(counted.toDF("user_id", "n"), "state_stream", OutputMode.Update())
    // last update per key equals the batch count
    val streamed = spark.table("state_stream").groupBy("user_id")
      .agg(max("n").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = evs.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
    assert(streamed === batch)
  }

  test("file-stream source: parquet directory feeds the same aggregation") {
    import spark.implicits._
    val dir = "/tmp/graft_stream_src"
    val evs = sampleEvents
    evs.toDF().write.mode("overwrite").parquet(dir)
    val streamDf = spark.readStream.schema(evs.toDF().schema).parquet(dir)
    runToCompletion(Streaming.tumblingStats(streamDf, "1 hour"),
      "file_stream", OutputMode.Complete())
    assert(spark.table("file_stream").collect().toSet
      === Streaming.tumblingStats(evs.toDF(), "1 hour").collect().toSet)
  }

  test("foreachBatch sink sees every micro-batch once (foreachRDD parity)") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val ms = MemoryStream[Event](spark)
    val evs = sampleEvents
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = ms.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Event], id: Long) =>
        seen.add(id -> batch.count()); ()
      }.start()
    try {
      ms.addData(evs.take(50)); q.processAllAvailable()
      ms.addData(evs.slice(50, 80)); q.processAllAvailable()
    } finally q.stop()
    val sizes = seen.asScala.toSeq.sortBy(_._1).map(_._2)
    assert(sizes === Seq(50L, 30L))
  }

  test("exactly-once sink: batch replay is idempotent, crashed installs invisible") {
    import spark.implicits._
    val ms = MemoryStream[Event](spark)
    val evs = sampleEvents
    val root = "/tmp/graft_scale/eo_sink_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val q = ms.toDS().writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Event], id: Long) =>
        ExactlyOnceSink.writeBatch(root)(b.toDF(), id)
      }
      .start()
    try {
      ms.addData(evs.take(50)); q.processAllAvailable()
      ms.addData(evs.slice(50, 80)); q.processAllAvailable()
    } finally q.stop()
    def landedIds() = ExactlyOnceSink.read(spark, root)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    val expected = evs.take(80).map(_.event_id).sorted
    assert(landedIds() === expected)
    // restart REPLAY: the engine re-delivers the last micro-batch to
    // foreachBatch — re-installing batch 1 must replace, never append
    ExactlyOnceSink.writeBatch(root)(
      evs.slice(50, 80).toDF(), 1L)
    assert(landedIds() === expected, "replayed batch must be idempotent")
    // a crash mid-install (build throws after writing files) leaves the
    // committed batch untouched and no visible partial directory
    intercept[RuntimeException] {
      graft.ext.IndexStore.atomically(spark, s"$root/batch_id=1") { tmp =>
        evs.take(5).toDF().write.mode("overwrite").parquet(tmp)
        throw new RuntimeException("simulated sink crash")
      }
    }
    assert(landedIds() === expected, "crashed install must be invisible")
    // an IN-FLIGHT batch is invisible to readers: the dot-prefixed build
    // dir must neither surface rows nor corrupt the inferred batch_id
    // partition values (a bare `batch_id=2.__build_x` sibling would do
    // both — duplicate data and a string-typed partition column)
    graft.ext.IndexStore.atomically(spark, s"$root/batch_id=2") { tmp =>
      evs.slice(80, 90).toDF().write.mode("overwrite").parquet(tmp)
      assert(landedIds() === expected, "in-flight batch must be invisible mid-install")
    }
    assert(ExactlyOnceSink.read(spark, root)
      .select("event_id").count() === 90L)
    // batch_id rides as a stable BIGINT partition column for pruning
    val bdf = ExactlyOnceSink.read(spark, root)
    assert(bdf.schema("batch_id").dataType === org.apache.spark.sql.types.LongType)
    val b1 = bdf.filter(col("batch_id") === 1L).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(b1 === evs.slice(50, 80).map(_.event_id).sorted)
  }

  test("stream-static join enriches micro-batches against a dimension table") {
    // pair-DStream join with a batch RDD went through transform() in the
    // reference; Structured Streaming joins a streaming frame to a static
    // frame directly
    import spark.implicits._
    val evs = sampleEvents
    val dim = evs.map(_.user_id).distinct.sorted.map(u => (u, s"tier_${u % 3}"))
      .toDF("user_id", "tier")
    val ms = MemoryStream[Event](spark)
    evs.grouped(100).foreach(ms.addData(_))
    val joined = ms.toDF().join(dim, "user_id")
      .select("user_id", "event_id", "tier")
    runToCompletion(joined, "ss_join", OutputMode.Append())
    val streamed = spark.table("ss_join").collect().toSet
    val batch = evs.toDF().join(dim, "user_id")
      .select("user_id", "event_id", "tier").collect().toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("stream-stream inner join joins events within a time bound") {
    import spark.implicits._
    // feed both sides in EVENT-TIME order (batches split at the ts median)
    // with a generous watermark, so no pair is ever late — lateness-drop
    // semantics are covered by the watermark test above
    val evs = sampleEvents.take(120).sortBy(e => (e.ts.getTime, e.event_id))
    val a = MemoryStream[Event](spark)
    val b = MemoryStream[Event](spark)
    def sideA(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("ts").as("a_ts"), col("event_id").as("a_id"))
      .withWatermark("a_ts", "30 days")
    def sideB(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"), col("event_id").as("b_id"))
      .withWatermark("b_ts", "30 days")
    val cond = expr("user_id = b_user AND b_ts BETWEEN a_ts AND a_ts + interval 30 minutes AND a_id < b_id")
    val joined = sideA(a.toDF()).join(sideB(b.toDF()), cond)
      .select("user_id", "a_id", "b_id")
    val q = joined.writeStream.format("memory").queryName("ss2_join")
      .outputMode(OutputMode.Append()).start()
    try {
      a.addData(evs.take(60)); b.addData(evs.take(60))
      q.processAllAvailable()
      a.addData(evs.drop(60)); b.addData(evs.drop(60))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ss2_join").collect().toSet
    val full = evs.toDF()
    val batch = sideA(full).join(sideB(full), cond)
      .select("user_id", "a_id", "b_id").collect().toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("GroupStateTimeout expires idle keys when the watermark passes (StateSpec.timeout parity)") {
    import spark.implicits._
    def ev(id: Long, uid: Long, minute: Int) = Event(id,
      java.sql.Timestamp.valueOf(f"2024-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00"),
      uid, "x", 0.0)
    val ms = MemoryStream[Event](spark)
    // event-time timeout: deterministic (fires when the watermark passes
    // the per-key deadline — no wall clock, processAllAvailable quiesces)
    val tracked = ms.toDS()
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); (uid, -1L) }
          else {
            val evsB = batch.toSeq
            val n = state.getOption.getOrElse(0L) + evsB.size
            state.update(n)
            state.setTimeoutTimestamp(evsB.map(_.ts.getTime).max + 10 * 60000L)
            (uid, n)
          }
      }
    val q = tracked.toDF("user_id", "n").writeStream.format("memory")
      .queryName("timeout_stream").outputMode(OutputMode.Update()).start()
    try {
      ms.addData(ev(1, 7, 0)); q.processAllAvailable()   // key 7: deadline 10:10
      ms.addData(ev(2, 8, 120)); q.processAllAvailable() // watermark -> 12:00
      ms.addData(ev(3, 8, 180)); q.processAllAvailable() // batch sees wm past 10:10
    } finally q.stop()
    val rows = spark.table("timeout_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.contains((7L, 1L)), s"live update missing: $rows")
    assert(rows.contains((7L, -1L)), s"key 7 should have timed out: $rows")
  }

  test("foldSessions splits on gaps and carries prior state") {
    def ev(id: Long, min: Int) =
      Event(id, java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00"), 7, "x", 0.0)
    val closed = Streaming.foldSessions(Nil, 7,
      Seq(ev(1, 0), ev(2, 10), ev(3, 55)), gapMs = 30 * 60000L)
    assert(closed.reverse.map(s => (s.session_idx, s.n_events)) === List((1L, 2L), (2L, 1L)))
    // continuing from carried state extends the open session
    val continued = Streaming.foldSessions(closed, 7, Seq(ev(4, 70)), 30 * 60000L)
    assert(continued.head.n_events === 2L) // joined session 2
  }

  // Receiver-style source (reference STRM/StreamingContext.scala:327
  // socketTextStream): the socket source over a LOOPBACK server — no
  // network egress, no display, so "headless" does not exclude it. The
  // writer thread feeds lines after the source connects; the poll loop
  // bounds the receive wait (socket delivery is asynchronous — there is
  // no processAllAvailable guarantee for un-arrived bytes).
  test("socket source streams lines from a loopback server (receiver parity)") {
    val server = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    val lines = Seq("alpha", "beta", "gamma", "delta")
    val writer = new Thread(() => {
      val sock = server.accept()
      val w = new java.io.PrintWriter(sock.getOutputStream, true)
      lines.foreach(w.println)
      w.flush() // keep the socket open until the test closes the server:
      // the source treats disconnect as stream end and would stop the query
      Thread.sleep(30000)
    }, "socket-feeder")
    writer.setDaemon(true)
    writer.start()
    val df = spark.readStream.format("socket")
      .option("host", "127.0.0.1").option("port", server.getLocalPort).load()
    val q = df.writeStream.format("memory").queryName("sock_sink")
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("sock_sink").count() < lines.size &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
      val got = spark.table("sock_sink").collect().map(_.getString(0)).toSet
      assert(got === lines.toSet)
    } finally {
      q.stop()
      server.close()
      writer.interrupt()
    }
  }

  test("streaming crawl: each micro-batch probes the standing near-dup index via foreachBatch") {
    // The daily-crawl story end-to-end THROUGH the streaming engine: new
    // documents arrive as a stream, and every micro-batch runs the d18
    // incremental probe against the standing index — signatures computed
    // for the batch only, corpus text never touched. Scope: batch-vs-
    // corpus pairs per micro-batch (a production job also appends the
    // batch to the index between batches; the probe itself is what this
    // pins). The streamed result must equal probing each batch directly.
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val docs = Tables.documents(spark, sf001).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 300)
    val idx = "/tmp/graft_stream_crawl_idx"
    graft.ext.Dedup.writeNeardupIndex(corpus, "doc_id", "text", idx)
    val batch1 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 350)
      .as[(Long, String)].collect().toSeq
    val batch2 = docs.filter(col("doc_id") >= 350 && col("doc_id") < 400)
      .as[(Long, String)].collect().toSeq
    val ms = MemoryStream[(Long, String)](spark)
    val streamed = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.ext.Dedup.incrementalNeardupPairs(spark, idx, b, "doc_id", "text")
          .select("doc_a", "doc_b").collect()
          .foreach(r => streamed.add(r.getLong(0) -> r.getLong(1)))
        ()
      }.start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    def direct(rows: Seq[(Long, String)]) =
      graft.ext.Dedup.incrementalNeardupPairs(spark, idx,
          rows.toDF("doc_id", "text"), "doc_id", "text")
        .select("doc_a", "doc_b").collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val expected = direct(batch1) ++ direct(batch2)
    assert(streamed.asScala.toSet === expected)
    assert(expected.nonEmpty, "fixture should contain at least one batch-touching pair")
  }

  // ---- checkpoint-restart recovery (reference STRM/Checkpoint.scala +
  // util/WriteAheadLog*: restartability is half of DStream's
  // fault-tolerance story). Both tests feed a parquet FILE source in two
  // file batches, stop the query between them, and restart a NEW query
  // instance from the same checkpointLocation — the file-source log and
  // the state store must both recover: run 2 processes only the new file,
  // and per-key state continues from the checkpointed values.

  test("checkpoint restart: dedup state survives stop/start, final table equals single run") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val src = s"$root/src"; val ckpt = s"$root/ckpt"; val out = s"$root/out"
    def at(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val batch1 = Seq(Event(1, at(0), 1, "a", 1.0), Event(2, at(1), 2, "a", 1.0))
    // event 1 is REPLAYED across the restart boundary: only checkpointed
    // dedup state can suppress the re-emit
    val batch2 = Seq(Event(1, at(0), 1, "a", 1.0), Event(3, at(2), 1, "a", 1.0))
    val schema = batch1.toDF().schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src)
        .dropDuplicates("event_id")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    batch1.toDF().repartition(1).write.mode("append").parquet(src)
    runOnce() // run 1: processes batch 1, query stops
    batch2.toDF().repartition(1).write.mode("append").parquet(src)
    runOnce() // run 2: fresh query instance, same checkpoint
    val emitted = spark.read.parquet(out).select("event_id").as[Long].collect().sorted.toSeq
    assert(emitted === Seq(1L, 2L, 3L), "replayed id must emit exactly once across restart")
    val single = (batch1 ++ batch2).toDF().dropDuplicates("event_id")
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(emitted === single, "restarted result must equal the single-run result")
  }

  test("checkpoint restart: GroupState running counts resume from checkpointed state") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt2").toString
    val src = s"$root/src"; val ckpt = s"$root/ckpt"
    def at(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val batch1 = Seq(Event(1, at(0), 7, "a", 1.0), Event(2, at(1), 7, "a", 1.0))
    val batch2 = Seq(Event(3, at(2), 7, "a", 1.0), Event(4, at(3), 7, "a", 1.0),
      Event(5, at(4), 7, "a", 1.0))
    val schema = batch1.toDF().schema
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def runOnce(): Unit = {
      val counted = spark.readStream.schema(schema).parquet(src).as[Event]
        .groupByKey(_.user_id)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (uid: Long, batch: Iterator[Event], state: GroupState[Long]) =>
            val total = state.getOption.getOrElse(0L) + batch.size
            state.update(total)
            (uid, total)
        }.toDF("user_id", "n")
      val q = counted.writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => seen.add(r.getLong(0) -> r.getLong(1))); ()
        }
        .option("checkpointLocation", ckpt).outputMode("update").start()
      try q.processAllAvailable() finally q.stop()
    }
    batch1.toDF().repartition(1).write.mode("append").parquet(src)
    runOnce() // run 1: user 7 count reaches 2, checkpointed
    seen.clear() // observe run 2's output only
    batch2.toDF().repartition(1).write.mode("append").parquet(src)
    runOnce() // run 2 must NOT reprocess batch 1, and must resume state at 2
    import scala.jdk.CollectionConverters._
    val run2 = seen.asScala.toSeq
    assert(run2 === Seq(7L -> 5L),
      s"restart must resume the checkpointed count 2 and add batch 2's 3 events, got $run2")
  }

  test("RocksDB state store: stateful aggregation runs off-heap-capable, same results") {
    // The 100 TB state posture: HDFSBackedStateStore keeps every key in
    // executor heap; RocksDB spills state to local disk, which is what a
    // production job with more state than memory configures. Run the same
    // windowed aggregation under the RocksDB provider and require (a) the
    // provider is actually active in the query's state operators via the
    // customMetrics it alone emits, and (b) results identical to batch.
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val evs = sampleEvents
      val ms = MemoryStream[Event](spark)
      evs.grouped(100).foreach(ms.addData(_))
      val q = Streaming.tumblingStats(ms.toDF(), "1 hour")
        .writeStream.format("memory").queryName("rocks_stream")
        .outputMode(OutputMode.Complete()).start()
      try {
        q.processAllAvailable()
        val metrics = q.lastProgress.stateOperators.head.customMetrics
        assert(metrics.containsKey("rocksdbGetCount"),
          s"RocksDB provider not active; metrics: $metrics")
      } finally q.stop()
      assert(spark.table("rocks_stream").collect().toSet
        === Streaming.tumblingStats(evs.toDF(), "1 hour").collect().toSet)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming dedup: duplicates across micro-batches emit once, batch parity") {
    import spark.implicits._
    def at(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val batches = Seq(
      Seq(Event(1, at(0), 1, "a", 1.0), Event(2, at(1), 1, "a", 1.0)),
      // event 1 replayed in a later micro-batch (at-least-once delivery),
      // inside the watermark window — state still remembers it
      Seq(Event(1, at(0), 1, "a", 1.0), Event(3, at(2), 1, "a", 1.0)),
      Seq(Event(2, at(1), 1, "a", 1.0), Event(4, at(3), 1, "a", 1.0)))
    val ms = MemoryStream[Event](spark)
    val q = ms.toDF()
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    } finally q.stop()
    import org.apache.spark.sql.functions.col
    val streamed = spark.table("dedup_stream")
      .select("event_id").as[Long].collect().sorted.toSeq
    val batch = batches.flatten.toDF().dropDuplicates("event_id")
      .select(col("event_id")).as[Long].collect().sorted.toSeq
    assert(streamed === Seq(1L, 2L, 3L, 4L))
    assert(streamed === batch)
  }

  test("transformWithState: ValueState totals accumulate across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ts = new java.sql.Timestamp(0L)
      val ms = MemoryStream[Event](spark)
      val out = ms.toDS().groupByKey(_.user_id)
        .transformWithState(new graft.streaming.UserTotalsProcessor,
          TimeMode.None(), OutputMode.Append())
      val q = out.toDF().writeStream.format("memory").queryName("tws_stream")
        .outputMode("append").start()
      try {
        // batch 1: user 1 sees two events, user 2 one
        ms.addData(Event(1, ts, 1, "click", 1.0), Event(2, ts, 1, "view", 2.0),
          Event(3, ts, 2, "click", 5.0))
        q.processAllAvailable()
        // batch 2: user 1 again — totals must CONTINUE from state
        ms.addData(Event(4, ts, 1, "click", 3.0))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("tws_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // one emission per (user, batch): post-batch-1 snapshots + post-batch-2
      assert(rows === Set((1L, 2L, 300L), (2L, 1L, 500L), (1L, 3L, 600L)))
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("a stream run again reuses its generated classes: no recompile on the second run") {
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val v08 = SparkEntry.queries("v08_transform_with_state")
    val first = v08(spark, sf001).collect().toSeq
    // each stream runs in a cloned session; only with artifact isolation
    // off do its executors share the class loader the codegen cache keys on
    val before = METRIC_COMPILATION_TIME.getCount
    val second = v08(spark, sf001).collect().toSeq
    assert(METRIC_COMPILATION_TIME.getCount - before === 0L,
      "the second stream run recompiled generated classes")
    assert(second === first)
  }

  test("a stream run forks no shell for its file operations") {
    // Without the native Hadoop library the stock local file system forks
    // `chmod` per created file and directory and `readlink` per FileContext
    // rename: over 100 processes per run of this query. The session's
    // file systems do both in process (graft.LocalFs); this fails if the
    // factory's settings are lost or a stock `file://` FileSystem reached
    // Hadoop's cache first.
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import scala.jdk.CollectionConverters._
    val v08 = SparkEntry.queries("v08_transform_with_state")
    val jfr = java.nio.file.Files.createTempFile("graft_forks", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withoutStackTrace()
      rec.start()
      try assert(v08(spark, sf001).collect().nonEmpty) finally rec.stop()
      rec.dump(jfr)
      val commands = RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
      val shellFs = commands.filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
      assert(shellFs.size === 0, s"chmod/readlink forks in one stream run, e.g. ${shellFs.take(3)}")
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(jfr)
    }
  }

  test("Trigger.AvailableNow: drains everything available, then stops on its own") {
    import org.apache.spark.sql.streaming.Trigger
    val src = s"/tmp/graft_io/avail_now_src_${System.nanoTime}"
    Tables.events(spark, sf001).limit(200).write.parquet(src)
    val stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
      .groupBy("event_type").count()
    val q = stream.writeStream.format("memory").queryName("avail_now_sink")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    // the batch-job semantics of a streaming pipeline: no manual
    // processAllAvailable/stop — the trigger bounds the run itself
    assert(q.awaitTermination(120000), "AvailableNow query must self-terminate")
    val streamed = spark.table("avail_now_sink").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = spark.read.parquet(src).groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
  }

  test("stream-static join is stateless and broadcasts the static dim") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    val ms = MemoryStream[Event](spark)
    val dim = broadcast(Seq((1L, "SEG_A"), (2L, "SEG_B")).toDF("c_custkey", "c_mktsegment"))
    val joined = ms.toDF().join(dim, col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("c_mktsegment"))
    val q = joined.writeStream.format("memory").queryName("ssj_stream")
      .outputMode("append").start()
    try {
      ms.addData(Event(1, ts, 1, "click", 1.0), Event(2, ts, 3, "view", 2.0))
      q.processAllAvailable()
      ms.addData(Event(3, ts, 2, "click", 1.0))
      q.processAllAvailable()
      // rows join per-batch; user 3 has no dim row and drops (inner join)
      val rows = spark.table("ssj_stream").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows === Set((1L, "SEG_A"), (3L, "SEG_B")))
      // stateless: no state store operator in the executed plan
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(!plan.contains("StateStore"), s"stream-static join must keep no state:\n$plan")
      assert(plan.contains("BroadcastHashJoin"), s"static dim must broadcast:\n$plan")
    } finally q.stop()
  }

  test("streaming k-means: hand-checked decay arithmetic, empty-cluster decay") {
    import spark.implicits._
    import graft.ext.Clustering
    // 1-dim, hand-checkable: seeds (0, w=1, [0]) and (1, w=1, [100])
    val seeds = Seq((0L, 1.0, Array(0.0)), (1L, 1.0, Array(100.0)))
    val b1 = Seq((10L, Seq(2L)), (11L, Seq(4L))).toDF("vec_id", "vq")
    val u1 = Clustering.streamingUpdate(seeds, b1, dims = 1, decay = 0.5)
    // both rows assign to cluster 0: c' = (0*0.5 + 6)/(0.5 + 2) = 2.4
    assert(u1.head._2 === 2.5 && u1.head._3(0) === 2.4)
    // cluster 1 saw nothing: weight decays, centroid unchanged
    assert(u1(1)._2 === 0.5 && u1(1)._3(0) === 100.0)
    // a second batch compounds the decayed history:
    // (2.4*1.25 + 8)/(1.25 + 1) = 11/2.25
    val u2 = Clustering.streamingUpdate(u1,
      Seq((12L, Seq(8L))).toDF("vec_id", "vq"), dims = 1, decay = 0.5)
    assert(u2.head._2 === 2.25)
    assert(math.abs(u2.head._3(0) - 11.0 / 2.25) < 1e-12)
    assert(u2(1)._2 === 0.25 && u2(1)._3(0) === 100.0)
  }

  test("streaming k-means at decay 0 over a static re-feed equals batch Lloyd") {
    import spark.implicits._
    import graft.ext.Clustering
    // decay 0 makes every update a pure Lloyd step (history forgotten),
    // so N re-feeds of a static corpus == N batch Lloyd iterations
    val vecs = (1L to 40L).map(i =>
      (i, Seq((i % 7) * 3, (i % 5) * 2, i % 11).map(_ * Clustering.QuantScale)))
    val vq = vecs.toDF("vec_id", "vq")
    val emb = vecs.map { case (id, v) =>
      (id, v.map(_.toDouble / Clustering.QuantScale))
    }.toDF("vec_id", "embedding")
    var centers: Seq[(Long, Double, Array[Double])] = vecs.take(2)
      .map { case (id, v) => (id, 0.0, v.map(_.toDouble).toArray) }
    for (_ <- 1 to 2)
      centers = Clustering.streamingUpdate(centers, vq, dims = 3, decay = 0.0)
    val viaStreaming = Clustering.assignSummary(vq, centers.map(c => (c._1, c._3)))
      .orderBy("cluster").collect().toSeq
    val viaBatch = Clustering.kmeans(emb, "vec_id", "embedding", dims = 3,
        k = 2, iters = 2)
      .orderBy("cluster").collect().toSeq
    assert(viaStreaming === viaBatch)
    assert(viaBatch.size === 2)
  }

  test("streaming k-means through foreachBatch equals direct per-batch updates") {
    import spark.implicits._
    import graft.ext.Clustering
    val b1 = Seq((10L, Seq(2L, 0L)), (11L, Seq(4L, 2L)))
    val b2 = Seq((12L, Seq(8L, 6L)), (13L, Seq(100L, 90L)))
    val seeds = Seq((0L, 1.0, Array(0.0, 0.0)), (1L, 1.0, Array(100.0, 100.0)))
    // expected: the same update applied batch-by-batch, directly
    var expected = seeds
    for (b <- Seq(b1, b2))
      expected = Clustering.streamingUpdate(expected,
        b.toDF("vec_id", "vq"), dims = 2, decay = 0.5)
    // actual: through the streaming engine, model held across batches on
    // the driver exactly like the v11 query (and the reference's
    // StreamingKMeans.update contract)
    val ms = MemoryStream[(Long, Seq[Long])](spark)
    var centers = seeds
    val q = ms.toDF().toDF("vec_id", "vq").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
        centers = Clustering.streamingUpdate(centers, b, dims = 2, decay = 0.5)
      }
      .start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    assert(centers.map(c => (c._1, c._2, c._3.toSeq))
      === expected.map(c => (c._1, c._2, c._3.toSeq)))
  }

  test("streaming logistic regression: per-batch steps through foreachBatch equal direct steps") {
    import spark.implicits._
    import graft.ext.Learn
    val b1 = (1L to 40L).map(i => (i % 3, (i % 10) - 5, if ((i % 10) - 5 >= 0) 1000000L else 0L))
    val b2 = (41L to 80L).map(i => (i % 4, (i % 9) - 4, if ((i % 9) - 4 >= 0) 1000000L else 0L))
    // expected: two sequential full-gradient steps, directly
    var expected = Learn.zeroWeights(spark, 2).localCheckpoint()
    for (b <- Seq(b1, b2))
      expected = Learn.logisticStepK(b.toDF("x1", "x2", "yq"), expected, 2,
        Learn.constStep(1.0)).localCheckpoint()
    // actual: through the streaming engine, the model a driver var across
    // batches (the reference's trainOn contract, and v12's shape)
    val ms = MemoryStream[(Long, Long, Long)](spark)
    var w = Learn.zeroWeights(spark, 2).localCheckpoint()
    val q = ms.toDF().toDF("x1", "x2", "yq").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
        w = Learn.logisticStepK(b, w, 2, Learn.constStep(1.0)).localCheckpoint()
      }
      .start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    assert(w.head() === expected.head())
    // and the two-batch model differs from the one-batch model (the
    // second update really happened)
    val oneBatch = Learn.logisticStepK(b1.toDF("x1", "x2", "yq"),
      Learn.zeroWeights(spark, 2), 2, Learn.constStep(1.0))
    assert(w.head() !== oneBatch.head())
  }

  test("streaming t-test: peace period drops whole batches; cumulative state equals the direct sums") {
    import spark.implicits._
    import graft.ext.Learn
    // batch 0 is novelty noise (peace period 1 must drop it ENTIRELY);
    // batches 1-2 carry the real samples
    val b0 = Seq(("a", 999L), ("b", -999L))
    val b1 = Seq(("a", 10L), ("a", 12L), ("b", 20L))
    val b2 = Seq(("a", 14L), ("b", 22L), ("b", 24L), ("b", 26L))
    val peacePeriod = 1L
    val ms = MemoryStream[(String, Long)](spark)
    var state = Learn.welchZeroSums(spark).localCheckpoint()
    val q = ms.toDF().toDF("g", "v").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], id: Long) =>
        if (id >= peacePeriod) {
          state = Learn.welchAddSums(state,
            Learn.welchSums(b, "g", "a", "b", "v")).localCheckpoint()
        }
      }
      .start()
    try {
      ms.addData(b0); q.processAllAvailable()
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    // state equals the direct sums over batches 1-2 only — b0's outliers
    // never entered (the n18 fixture numbers: t, Welch df)
    val direct = Learn.welchTTest((b1 ++ b2).toDF("g", "v"), "g", "a", "b", "v").head()
    val streamed = Learn.welchStats(state).head()
    assert(streamed === direct)
    assert(streamed.getLong(0) === 3L && streamed.getLong(3) === 4L)
    assert(streamed.getLong(6) === -6350853L)
  }

  test("streaming linear regression: per-batch LMS steps through foreachBatch equal direct steps") {
    import spark.implicits._
    import graft.ext.Learn
    // y = 7·x2 exactly, two disjoint batches (v13's shape: the carried
    // 1-row weight frame IS the model state across micro-batches)
    val b1 = (1L to 30L).map(i => (i % 3, i % 10, 7 * (i % 10)))
    val b2 = (31L to 60L).map(i => (i % 5, i % 8, 7 * (i % 8)))
    var expected = Learn.zeroWeights(spark, 2).localCheckpoint()
    for (b <- Seq(b1, b2))
      expected = Learn.linearStep(b.toDF("x1", "x2", "y"), expected, 0.05).localCheckpoint()
    val ms = MemoryStream[(Long, Long, Long)](spark)
    var w = Learn.zeroWeights(spark, 2).localCheckpoint()
    val q = ms.toDF().toDF("x1", "x2", "y").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
        w = Learn.linearStep(b, w, 0.05).localCheckpoint()
      }
      .start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    assert(w.head() === expected.head())
    // the second batch pulled the slope weight CLOSER to the true slope 7
    // (2^16-quantized: 458752; lr 0.05 overshoots on batch 1, so the
    // informative claim is error contraction, not monotone approach)
    val one = Learn.linearStep(b1.toDF("x1", "x2", "y"), Learn.zeroWeights(spark, 2), 0.05).head().getLong(2)
    val two = w.head().getLong(2)
    assert(one > 0L && math.abs(two - 458752L) < math.abs(one - 458752L))
  }

  test("stream union: two sources merge statelessly, every row exactly once") {
    import spark.implicits._
    val ms1 = MemoryStream[(Long, String)](spark)
    val ms2 = MemoryStream[(Long, String)](spark)
    val q = ms1.toDF().toDF("id", "v").unionByName(ms2.toDF().toDF("id", "v"))
      .writeStream.format("memory").queryName("union_spec_sink")
      .outputMode("append").start()
    try {
      ms1.addData(Seq((1L, "a"), (2L, "b")))
      ms2.addData(Seq((10L, "x")))
      q.processAllAvailable()
      ms2.addData(Seq((11L, "y")))
      q.processAllAvailable()
      val got = spark.table("union_spec_sink").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted
      assert(got.toSeq === Seq((1L, "a"), (2L, "b"), (10L, "x"), (11L, "y")))
      // stateless: union shuffles nothing and keeps no state store
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(!plan.contains("StateStore"), s"union must keep no state:\n$plan")
      assert(!plan.contains("Exchange"), s"union must not shuffle:\n$plan")
    } finally q.stop()
  }

  test("invertible window: multi-batch additive state + inverse emission equal full re-reduce") {
    import spark.implicits._
    import graft.streaming.{Streaming => St}
    // three micro-batches; slices deliberately interleaved ACROSS batches
    // (additive merge is arrival-order independent) and key "y" is quiet
    // in slices 2-3 (dense-grid zero fill)
    val b0 = Seq(("x", 0L, 10L), ("x", 1L, 20L), ("y", 0L, 5L))
    val b1 = Seq(("x", 1L, 30L), ("x", 2L, 40L), ("y", 1L, 7L))
    val b2 = Seq(("x", 3L, 50L), ("y", 4L, 9L), ("x", 0L, 60L))
    val ms = MemoryStream[(String, Long, Long)](spark)
    var state = St.zeroBucketState(spark).localCheckpoint()
    val q = ms.toDF().toDF("event_type", "b", "vmilli").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        state = St.addBucketState(state, St.bucketPartials(batch)).localCheckpoint()
      }
      .start()
    try {
      ms.addData(b0); q.processAllAvailable()
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val got = St.inverseWindow(state, buckets = 5, w = 3)
      .orderBy("event_type", "b").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // full re-reduce from the union of all batches (the oracle's shape)
    val all = b0 ++ b1 ++ b2
    val want = for (k <- Seq("x", "y"); b <- 0L to 4L) yield {
      val in = all.filter(e => e._1 == k && e._2 >= b - 2 && e._2 <= b)
      (k, b, in.size.toLong, in.map(_._3).sum)
    }
    assert(got.toSeq === want)
    // the windowed total also satisfies the literal ReducedWindowedDStream
    // recurrence: w(b) = w(b-1) + partial(b) - partial(b-3)
    def partial(k: String, b: Long) = all.filter(e => e._1 == k && e._2 == b).map(_._3).sum
    for (k <- Seq("x", "y"); b <- 1L to 4L) {
      val prev = want.find(e => e._1 == k && e._2 == b - 1).get._4
      val cur = want.find(e => e._1 == k && e._2 == b).get._4
      assert(cur === prev + partial(k, b) - partial(k, b - 3))
    }
  }

  test("countByValueAndWindow trio: scripted batches match the DStream recurrences") {
    import spark.implicits._
    import graft.streaming.{Streaming => St}
    // a VALUE stream scripted over 3 micro-batches: (v, vmilli, slice);
    // value 7 vanishes after slice 1 (its window must decay to zero via
    // the inverse subtract), value 3 runs hot throughout
    val b0 = Seq((3L, 300L, 0L), (3L, 310L, 0L), (7L, 700L, 0L))
    val b1 = Seq((3L, 320L, 1L), (7L, 710L, 1L), (3L, 330L, 2L))
    val b2 = Seq((3L, 340L, 3L), (3L, 350L, 4L), (3L, 360L, 2L))
    val ms = MemoryStream[(Long, Long, Long)](spark)
    var state = St.zeroValueState(spark).localCheckpoint()
    val q = ms.toDF().toDF("v", "vmilli", "b").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        state = St.addValueState(state, St.valuePartials(batch)).localCheckpoint()
      }
      .start()
    try {
      ms.addData(b0); q.processAllAvailable()
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val got = St.valueWindowTrio(state, buckets = 5, w = 3)
      .orderBy("v", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val all = b0 ++ b1 ++ b2
    // countByValueAndWindow: per-value window counts from scratch
    for (v <- Seq(3L, 7L); b <- 0L to 4L) {
      val in = all.filter(e => e._1 == v && e._3 >= b - 2 && e._3 <= b)
      assert(got((v, b))._1 === in.size.toLong, s"countByValue($v, $b)")
    }
    // value 7's window decays to exactly zero once its slices expire
    assert(got((7L, 4L))._1 === 0L)
    // countByWindow (sentinel -1): the global row count per window
    // equals the sum of the per-value counts (DStream.scala:876's
    // map-to-one identity)
    for (b <- 0L to 4L) {
      val in = all.filter(e => e._3 >= b - 2 && e._3 <= b)
      assert(got((-1L, b))._1 === in.size.toLong, s"countByWindow($b)")
      assert(got((-1L, b))._1 === Seq(3L, 7L).map(v => got((v, b))._1).sum)
      // reduceByWindow with + over vmilli (DStream.scala:813)
      assert(got((-1L, b))._2 === in.map(_._2).sum, s"reduceByWindow($b)")
    }
  }

  test("streaming listener: per-batch progress events account for every input row") {
    // reference STRM/scheduler/StreamingListener.scala:31 — the
    // onBatchCompleted callback stream carrying per-batch numRecords /
    // processing times; modern equivalent is StreamingQueryListener's
    // QueryProgressEvent with progress.numInputRows. Three explicit
    // batches: the listener's per-batch counts must sum to the rows fed.
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import spark.implicits._
    val batchRows = new scala.collection.concurrent.TrieMap[Long, Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        batchRows.put(e.progress.batchId, e.progress.numInputRows)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val ms = MemoryStream[Event](spark)
      val agg = ms.toDF().groupBy("event_type").count()
      val q = agg.writeStream.format("memory").queryName("listener_audit")
        .outputMode(OutputMode.Complete).start()
      try {
        val ev = sampleEvents
        ms.addData(ev.take(100)); q.processAllAvailable()
        ms.addData(ev.slice(100, 250)); q.processAllAvailable()
        ms.addData(ev.slice(250, 300)); q.processAllAvailable()
      } finally q.stop()
      // every fed row appears in exactly one batch's progress count
      assert(batchRows.values.sum === 300L)
      // and the batch sizes arrived as fed (empty flush batches carry 0)
      assert(batchRows.values.filter(_ > 0).toSeq.sorted === Seq(50L, 100L, 150L))
    } finally spark.streams.removeListener(listener)
  }
}
