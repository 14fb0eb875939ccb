package graft.queries

import graft.Tables
import graft.streaming.{Event, Streaming}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming transforms executed in batch mode over the events table for
  * the DuckDB oracle (same plan runs incrementally under readStream —
  * StreamingSpec proves the parity). */
object Streams {

  private def events(s: SparkSession, dir: String) =
    Tables.events(s, dir).select("event_id", "ts", "user_id", "event_type", "value")

  /** A FRESH readStream over the events parquet (each call its own source
    * so stream-stream joins are two independent streams, not a self-join).
    * readStream requires an explicit schema, so take the one the file's
    * footer declares (read once per file version by Tables.parquet) —
    * never pin a hand-written one, which silently
    * reinterprets values when the upstream writer changes physical type —
    * then apply the same schema-adaptive ts normalization as
    * graft.Tables.events. */
  private def eventStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = Tables.parquet(s, s"$dir/events.parquet").schema
    Tables.normalizeTs(
      s.readStream.schema(sch)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  /** Run a streaming plan to completion into a memory sink and return the
    * (complete, deterministic) result table. processAllAvailable drains
    * the file source; the single-file listing arrives as one micro-batch,
    * so no row can be watermark-dropped and the result equals the batch
    * relation — the driver's oracle gates exactly that equality while the
    * plan still executes through the streaming engine's stateful
    * operators (state store, symmetric hash join, dedup state).
    *
    * `statePartitions` is a REQUIRED per-query sizing decision, not a
    * shared default: a streaming query's shuffle-partition count is
    * CHECKPOINT-PINNED at first start (state can never be re-split), so
    * production jobs size it to that query's expected state volume
    * explicitly rather than inheriting the session's relational default —
    * each call site documents its state shape and the count it implies.
    * At 100 TB you size UP per state volume; below ~MB of state the
    * per-store open/commit tax dominates and you size DOWN (inheriting
    * local[32]'s 32 costs ~5 s of pure store tax per run). Purely
    * physical: the result the oracle hashes is identical under any
    * partition count. */
  private def runToMemory(df: DataFrame, name: String, statePartitions: Int): DataFrame = {
    val s = df.sparkSession
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    try {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(name)
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v01_tumbling_windows" -> { (s, dir) =>
      Streaming.tumblingStats(events(s, dir), "1 hour")
        .orderBy("window_start", "event_type")
    },

    "v02_sliding_windows" -> { (s, dir) =>
      Streaming.slidingStats(events(s, dir), "1 hour", "15 minutes")
        .orderBy("window_start", "event_type")
    },

    "v03_sessionization" -> { (s, dir) =>
      import s.implicits._
      Streaming.sessionize(events(s, dir).as[Event], gapMinutes = 30)
        .toDF().orderBy("user_id", "session_idx")
    },

    // Native session_window (gap-merged event-time sessions; window end =
    // last event + gap, per Structured Streaming semantics).
    "v04_session_windows" -> { (s, dir) =>
      events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"), col("cents"))
        .orderBy("user_id", "session_start")
    },

    // Kafka wire-format roundtrip in batch: every event is encoded to the
    // sink record shape (key = user_id, value = microsecond-lossless JSON),
    // wrapped in the connector's fixed record schema, and decoded back.
    // The oracle is the identity projection of the source table — the
    // codec must be lossless, including timestamp microseconds (the
    // default ms format would silently truncate and fail this gate).
    "v05_kafka_wire_roundtrip" -> { (s, dir) =>
      // spread before the per-row JSON encode/decode round trip — the
      // Tables.documentsSpread single-file-single-split argument
      val records = graft.streaming.KafkaSource.encodeEvents(
        events(s, dir).repartition(col("event_id")))
        .withColumn("topic", lit("events"))
        .withColumn("partition", lit(0))
        .withColumn("offset", monotonically_increasing_id())
        .withColumn("timestamp", lit("2024-01-01 00:00:00").cast("timestamp"))
        .withColumn("timestampType", lit(0))
      graft.streaming.KafkaSource.decodeEvents(records)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")
    },

    // Stream-stream interval join THROUGH the streaming engine: two
    // independent file streams (clicks, purchases), watermarks on both
    // sides, event-time range condition — the plan runs as a
    // StreamingSymmetricHashJoin with watermark-bounded state, and the
    // oracle is the plain relational interval join it must equal. The
    // batch complement (bucketed, 100 TB shape) is j02.
    // Streaming union (reference streaming/dstream/DStream.scala:896
    // union + StreamingContext.scala:518 the multi-stream overload —
    // merging DStreams batch-by-batch; Structured Streaming's union of
    // two independent sources runs both in ONE query with a shared
    // trigger). Two separately-filtered event streams union THROUGH the
    // engine into a stateless sink; the oracle is the batch IN-filter,
    // so a dropped or duplicated source row mismatches. Stateless: zero
    // state stores — union needs no shuffle at all (asserted in
    // StreamingSpec).
    "v16_stream_union" -> { (s, dir) =>
      val clicks = eventStream(s, dir)
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val purchases = eventStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      runToMemory(clicks.unionByName(purchases), "v16_sink", statePartitions = 4)
        .orderBy("event_id")
    },

    "v06_stream_stream_join" -> { (s, dir) =>
      val clicks = eventStream(s, dir).filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val purchases = eventStream(s, dir).filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
      // state = both sides' watermark-window rows keyed by user: the
      // largest state of the streaming suite — size stores to the side
      // tables' in-window volume (sf0.1 events ≈ tens of MB → 8 stores;
      // at 100 TB this is the number you raise FIRST, before executors)
      runToMemory(joined, "v06_sink", statePartitions = 8)
        .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"))
        .orderBy("click_id", "purchase_id")
    },

    // Streaming dedup THROUGH the engine: dropDuplicates over a stream
    // runs as StreamingDeduplicate with per-key state. Projecting ONLY the
    // key columns keeps the emitted set deterministic (which physical row
    // wins per key is arbitrary; the key set is not) — the cross-batch
    // emit-once behavior is StreamingSpec's job, the complete-result
    // equality to DISTINCT is the oracle's.
    "v07_streaming_dedup" -> { (s, dir) =>
      val dd = eventStream(s, dir)
        .select("user_id", "event_type")
        .dropDuplicates("user_id", "event_type")
      // state = one row per distinct (user, type) — tiny keyset, so fewer
      // stores than v06: per-store open/commit tax dominates below ~MB
      runToMemory(dd, "v07_sink", statePartitions = 4)
        .orderBy("user_id", "event_type")
    },

    // Arbitrary state THROUGH the transformWithState API (see
    // streaming.UserTotalsProcessor): per-user ValueState folded over the
    // corpus-in-one-batch, emitting post-batch totals == the batch GROUP
    // BY the oracle runs. transformWithState requires the RocksDB state
    // store provider; set for this query, restored after.
    "v08_transform_with_state" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      import s.implicits._
      val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      try {
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val out = eventStream(s, dir)
          .select("event_id", "ts", "user_id", "event_type", "value").as[Event]
          .groupByKey(_.user_id)
          .transformWithState(new graft.streaming.UserTotalsProcessor,
            TimeMode.None(), OutputMode.Append())
        // state = two longs per user — tiny; 4 stores (v07's reasoning)
        runToMemory(out.toDF(), "v08_sink", statePartitions = 4)
          .orderBy("user_id")
      } finally prev match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    },

    // Stream-static join: each micro-batch of the event stream joins the
    // static customer dim — STATELESS on the stream side (nothing
    // watermark-bound to keep), with the dim broadcast per batch. This is
    // the canonical streaming enrichment; at 100 TB the static side stays
    // broadcast-sized or becomes a pre-bucketed table the batches probe.
    "v09_stream_static_join" -> { (s, dir) =>
      val stream = eventStream(s, dir).select("event_id", "user_id", "value")
      val dim = broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment")))
      val joined = stream.join(dim, col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"),
          col("c_mktsegment").as("segment"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
      // stateless plan: partition count is irrelevant to state, keep 1
      runToMemory(joined, "v09_sink", statePartitions = 1)
        .orderBy("event_id")
    },

    // The state data source: read a streaming checkpoint's STATE as a
    // DataFrame — the operational debugger for stateful pipelines (what
    // totals is user 17 carrying? is state skewed across partitions?)
    // and the offline-migration escape hatch. Runs the v08 pipeline to a
    // pinned checkpoint, then reads the "totals" ValueState back: per-user
    // (n, cents) — which must equal the batch GROUP BY the oracle runs,
    // because the state IS the aggregation. The checkpoint is rebuilt
    // fresh each call: a checkpoint carries the stream's identity, and a
    // stale one would short-circuit the source and serve another data
    // dir's state.
    "v10_state_reader" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      import s.implicits._
      // per-data-dir AND per-process path: the delete-and-rebuild below
      // would otherwise race a concurrent JVM's state read on the shared
      // scratch root (the d18 lesson; scratch here is rebuilt per call,
      // so process-private beats atomic-install)
      val ckpt = s"/tmp/graft_io/v10_ckpt_${Dedup.dirKey(dir)}_${ProcessHandle.current().pid()}"
      val p = new org.apache.hadoop.fs.Path(ckpt)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val prevProvider = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      try {
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        s.conf.set("spark.sql.shuffle.partitions", "4") // v08's state sizing
        val out = eventStream(s, dir)
          .select("event_id", "ts", "user_id", "event_type", "value").as[Event]
          .groupByKey(_.user_id)
          .transformWithState(new graft.streaming.UserTotalsProcessor,
            TimeMode.None(), OutputMode.Append())
        val q = out.toDF().writeStream.format("memory").queryName("v10_sink")
          .option("checkpointLocation", ckpt).outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prevParts)
        prevProvider match {
          case Some(pv) => s.conf.set("spark.sql.streaming.stateStore.providerClass", pv)
          case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      }
      s.read.format("statestore").option("path", ckpt)
        .option("stateVarName", "totals").load()
        .select(col("key.value").as("user_id"),
          col("value._1").as("n_events"), col("value._2").as("cents"))
        .orderBy("user_id")
    },

    // STREAMING k-means (reference mllib/clustering/StreamingKMeans
    // .scala: the decay-weighted rule c' = (c·w·a + Σx)/(w·a + m), model
    // held on the driver between batches): the embeddings corpus arrives
    // as one micro-batch through foreachBatch, updating the 4 seed
    // centroids (smallest-id vectors, weight 1.0) at decay 0.5 — the
    // decayed seed weight is IN the oracle-gated arithmetic. Per batch:
    // one compiled argmin scan + one map-side-combined integer-sum
    // aggregate (the s05 Lloyd shape); clusters with no batch members
    // keep their centroid and decay their weight, per the reference.
    // Emits (cluster, w_milli, cent_q) with centroids rounded to exact
    // integer quantized units via SQL round (engine-shared semantics).
    "v11_streaming_kmeans" -> { (s, dir) =>
      import graft.ext.Clustering
      val sch = Tables.parquet(s, s"$dir/embeddings.parquet").schema
      val stream = s.readStream.schema(sch)
        .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      var centers = Clustering
        .quantized(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy("vec_id").limit(4).collect()
        .map(r => (r.getLong(0), 1.0, r.getSeq[Long](1).map(_.toDouble).toArray))
        .toSeq
      val q = Clustering.quantized(stream, "vec_id", "embedding")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          centers = Clustering.streamingUpdate(centers, b, dims = 64, decay = 0.5)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      import s.implicits._
      centers.map { case (l, w, c) => (l, w, c.toSeq) }.toDF("cluster", "w", "c")
        .selectExpr("cluster",
          "CAST(round(w * 1000.0) AS BIGINT) AS w_milli",
          // flattened to one string: array columns crash the driver's
          // pandas-layer comparator (the d02 scalar-projection rule)
          "concat_ws(',', transform(c, x -> CAST(CAST(round(x) AS BIGINT) AS STRING))) AS cent_q")
        .orderBy("cluster")
    },

    // Streaming logistic regression (reference mllib/classification/
    // StreamingLogisticRegressionWithSGD.scala — trainOn runs ONE
    // gradient update per micro-batch, the model held on the driver
    // between batches): per-event features (user residue, value decile)
    // with a purchase label, the events file as one micro-batch through
    // foreachBatch, weights updated by graft.ext.Learn.logisticStepK —
    // the identical quantized step s19's batch loop uses, so the oracle
    // is one unrolled iteration over the same features.
    // Streaming linear regression (reference mllib/regression/
    // StreamingLinearRegressionWithSGD.scala:43 via
    // StreamingLinearAlgorithm.scala:88 trainOn — full SGD pass per batch
    // there; ONE quantized full-batch gradient step per micro-batch here,
    // the v12 thin-slice convention): the carried 1-row weight frame is
    // the model state, updated by Learn.linearStep in foreachBatch. The
    // target is value itself with x2 = its decile, so one step already
    // moves w2 decisively toward the true slope.
    // Streaming significance test (reference mllib/stat/test/
    // StreamingTest.scala:110 registerStream: dropPeacePeriod (:132,
    // batch-count based) -> summarizeByKeyAndWindow (:143, StatCounter
    // sums merged across the window; windowSize 0 = all batches so far)
    // -> the registered test method per batch). The carried 1-row
    // six-sum frame IS the summarizer state, updated additively in
    // foreachBatch (batches before the peace period are skipped by
    // batchId); the final emission is the Welch statistic over the
    // accumulated state — cumulative-window semantics. peacePeriod = 0
    // here (the file source is one micro-batch); the >0 drop path is
    // StreamingSpec-gated over a 3-batch MemoryStream.
    // Invertible windowed reduction (reference streaming/.../dstream/
    // PairDStreamFunctions.scala:249 reduceByKeyAndWindow with an
    // invReduceFunc, executed by ReducedWindowedDStream.scala:33 — the
    // DStream API's signature incremental optimization: the new window =
    // previous window + reduce(entering slices) − invReduce(leaving
    // slices), never a full re-reduce). The events pre-split into six
    // minute-residue slice files so the file source delivers REAL
    // multiple micro-batches (maxFilesPerTrigger = 1); per batch the
    // carried per-(key, slice) partial state merges additively
    // (commutative — deterministic under any batch arrival order), and
    // the emission computes 3-slice windows by the inverse closed form
    // cum(b) − cum(b−3). The oracle re-reduces every window from scratch
    // (ROWS 2 PRECEDING), gating the add/subtract identity.
    "v15_invertible_window" -> { (s, dir) =>
      import graft.streaming.{Streaming => St}
      // per-(dataset, process) scratch path — same isolation convention
      // as v10's checkpoint dir, so concurrent bench runs on one host
      // can't clobber each other's slice files mid-stream
      val path = s"/tmp/graft_io/v15_inv_${Dedup.dirKey(dir)}_${ProcessHandle.current().pid()}"
      Tables.events(s, dir)
        .selectExpr("event_type", "CAST(round(value * 1000) AS BIGINT) AS vmilli",
          "CAST(minute(ts) % 6 AS BIGINT) AS b")
        .repartition(col("b"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("b").parquet(path)
      val sch = s.read.parquet(path).schema
      val stream = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(path)
      var state = St.zeroBucketState(s).localCheckpoint()
      val q = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          state = St.addBucketState(state, St.bucketPartials(batch)).localCheckpoint()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      St.inverseWindow(state, buckets = 6, w = 3)
        .orderBy("event_type", "b")
    },

    // The DStream windowed-count tail (reference STRM/dstream/DStream
    // .scala:858 countByValueAndWindow / :876 countByWindow / :813
    // reduceByWindow): a VALUE stream (events bucketed to a ~20-value
    // domain) through the v15 invertible per-(value, slice) state —
    // per-value 3-slice window counts (countByValueAndWindow), plus the
    // global per-slice row count (countByWindow) and value sum
    // (reduceByWindow) under the v = -1 sentinel, all from ONE additive
    // state table. File slices deliver real micro-batches; the oracle
    // re-reduces every window from scratch, gating the inverse form.
    "v18_count_by_value_window" -> { (s, dir) =>
      import graft.streaming.{Streaming => St}
      val path = s"/tmp/graft_io/v18_cbv_${Dedup.dirKey(dir)}_${ProcessHandle.current().pid()}"
      Tables.events(s, dir)
        .selectExpr("CAST(CAST(round(greatest(value, CAST(0 AS DOUBLE)) * 1000) AS BIGINT) DIV 25000 AS BIGINT) AS v",
          "CAST(round(value * 1000) AS BIGINT) AS vmilli",
          "CAST(minute(ts) % 6 AS BIGINT) AS b")
        .repartition(col("b"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("b").parquet(path)
      val sch = s.read.parquet(path).schema
      val stream = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(path)
      var state = St.zeroValueState(s).localCheckpoint()
      val q = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          state = St.addValueState(state, St.valuePartials(batch)).localCheckpoint()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      St.valueWindowTrio(state, buckets = 6, w = 3)
        .orderBy("v", "b")
    },

    // Socket streaming source (reference STRM/StreamingContext.scala:327
    // socketTextStream — the reference's first-listed streaming source;
    // the one in-sandbox-testable network source, unlike Kafka). A
    // loopback ServerSocket serves a BOUNDED deterministic slice (the
    // 200 smallest event_ids — collect is 200 rows by construction) as
    // csv lines; readStream.format("socket") consumes them as a REAL
    // network stream (the TextSocketMicroBatchStream wire path, not a
    // file pretending to be one), then a pass-through append into a
    // memory sink — no streaming state, so no statePartitions decision.
    // A socket source has no natural end-of-input, so the drain polls
    // the sink until all 200 rows landed (bounded by a 60 s deadline);
    // the server thread blocks on read() until the source disconnects —
    // no sleeps, no port races (the OS picks the ephemeral port).
    "v17_socket_source" -> { (s, dir) =>
      val rows = Tables.events(s, dir)
        .selectExpr("event_id", "event_type",
          "CAST(round(value * 1000) AS BIGINT) AS vmilli")
        .orderBy("event_id").limit(200)
        .collect()
      val lines = rows.map(r => s"${r.getLong(0)},${r.getString(1)},${r.getLong(2)}")
      val server = new java.net.ServerSocket(0, 1,
        java.net.InetAddress.getByName("127.0.0.1"))
      val port = server.getLocalPort
      val t = new Thread(() => {
        try {
          val sock = server.accept()
          val w = new java.io.PrintWriter(new java.io.OutputStreamWriter(
            sock.getOutputStream, java.nio.charset.StandardCharsets.UTF_8))
          lines.foreach(w.println)
          w.flush()
          // hold the connection until the source side hangs up (read()
          // returns -1 / throws when the query stops) — closing early
          // would reset the source mid-batch
          try sock.getInputStream.read() catch { case _: java.io.IOException => () }
          sock.close()
        } catch { case _: java.io.IOException => () }
        finally server.close()
      })
      t.setDaemon(true)
      t.start()
      val parsed = s.readStream.format("socket")
        .option("host", "127.0.0.1").option("port", port.toString).load()
        .selectExpr(
          "CAST(split(value, ',')[0] AS BIGINT) AS event_id",
          "split(value, ',')[1] AS event_type",
          "CAST(split(value, ',')[2] AS BIGINT) AS vmilli")
      val q = parsed.writeStream.format("memory").queryName("v17_sink")
        .outputMode("append").start()
      try {
        val deadline = System.currentTimeMillis() + 60000L
        while (s.table("v17_sink").count() < lines.length &&
            System.currentTimeMillis() < deadline) {
          q.processAllAvailable()
          Thread.sleep(50)
        }
      } finally q.stop()
      s.table("v17_sink")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vmilli").as("sum_vmilli"),
          min("event_id").as("min_id"), max("event_id").as("max_id"))
        .orderBy("event_type")
    },

    "v14_streaming_ttest" -> { (s, dir) =>
      val src = eventStream(s, dir).selectExpr("event_type",
        "CAST(round(value * 1000) AS BIGINT) AS vm")
      val peacePeriod = 0L
      var state = graft.ext.Learn.welchZeroSums(s).localCheckpoint()
      val q = src.writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          if (id >= peacePeriod) {
            state = graft.ext.Learn.welchAddSums(state,
              graft.ext.Learn.welchSums(b, "event_type", "signup", "error", "vm"))
              .localCheckpoint()
          }
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      graft.ext.Learn.welchStats(state)
    },

    "v13_streaming_linreg" -> { (s, dir) =>
      val feats = eventStream(s, dir).selectExpr(
        "CAST(user_id % 10 AS BIGINT) AS x1",
        "CAST(CAST(round(value) AS BIGINT) DIV 10 AS BIGINT) AS x2",
        "CAST(round(value) AS BIGINT) AS y")
      var w = graft.ext.Learn.zeroWeights(s, 2).localCheckpoint()
      val q = feats.writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          w = graft.ext.Learn.linearStep(b, w, lr = 0.05).localCheckpoint()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      w.select("w0q", "w1q", "w2q")
    },

    "v12_streaming_logistic" -> { (s, dir) =>
      val feats = eventStream(s, dir).selectExpr(
        "CAST(user_id % 10 AS BIGINT) AS x1",
        "CAST(CAST(round(value) AS BIGINT) DIV 10 AS BIGINT) AS x2",
        "CAST(CASE WHEN event_type = 'purchase' THEN 1000000 ELSE 0 END AS BIGINT) AS yq")
      var w = graft.ext.Learn.zeroWeights(s, 2).localCheckpoint()
      val q = feats.writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          w = graft.ext.Learn.logisticStepK(b, w, 2, graft.ext.Learn.constStep(1.0)).localCheckpoint()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      w.select("w0q", "w1q", "w2q")
    }
  )

  val oracles: Map[String, String] = Map(
    // The same bounded 200-event slice re-aggregated relationally —
    // gating that the socket wire path delivered every line exactly once.
    "v17_socket_source" ->
      """WITH sub AS (
        |  SELECT event_id, event_type, CAST(round(value * 1000) AS BIGINT) AS vmilli
        |  FROM events ORDER BY event_id LIMIT 200)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(vmilli) AS BIGINT) AS sum_vmilli,
        |  CAST(min(event_id) AS BIGINT) AS min_id,
        |  CAST(max(event_id) AS BIGINT) AS max_id
        |FROM sub GROUP BY 1 ORDER BY event_type""".stripMargin,

    "v01_tumbling_windows" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        |  count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    "v02_sliding_windows" ->
      """SELECT ws AS window_start, event_type,
        |  count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM (SELECT event_type, value,
        |        unnest(list_transform(range(0, 4),
        |          i -> time_bucket(INTERVAL '15 minutes', ts) - i * INTERVAL '15 minutes')) ws
        |      FROM events)
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    "v03_sessionization" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM g)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin,

    "v04_session_windows" ->
      """WITH g AS (
        |  SELECT user_id, ts, value, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM g)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL '30 minutes' AS session_end,
        |  count(*) AS n_events, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_start""".stripMargin,

    "v05_kafka_wire_roundtrip" ->
      """SELECT event_id, ts, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,

    "v06_stream_stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '1 hour'
        |ORDER BY click_id, purchase_id""".stripMargin,

    "v07_streaming_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    "v08_transform_with_state" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "v09_stream_static_join" ->
      """SELECT event_id, user_id, c_mktsegment AS segment,
        |  CAST(round(value * 100) AS BIGINT) AS cents
        |FROM events JOIN customer ON user_id = c_custkey
        |ORDER BY event_id""".stripMargin,

    // the checkpointed ValueState IS the aggregation
    "v10_state_reader" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // One decay-weighted update over the corpus-as-one-batch: seed
    // assignment via the shared k-means argmin CTE, exact integer
    // per-dim member sums, then (c·0.5 + S)/(0.5 + m) per dim — empty
    // clusters fall through the COALESCEd zeros to an unchanged centroid
    // at decayed weight, matching the Spark side's explicit branch.
    "v11_streaming_kmeans" ->
      s"""WITH v AS (SELECT vec_id,
         |    list_transform(embedding::DOUBLE[], x -> CAST(round(x * ${Similarity.QS}) AS BIGINT)) vq
         |  FROM embeddings),
         |c0 AS (SELECT vec_id cl, list_transform(vq, q -> q::DOUBLE) c
         |  FROM v ORDER BY vec_id LIMIT 4),
         |${Similarity.kmAssign("a1", "c0")},
         |cnt AS (SELECT cl, CAST(count(*) AS BIGINT) AS m FROM a1 GROUP BY 1),
         |sums AS (SELECT a1.cl, i.i, CAST(sum(v.vq[i.i]) AS BIGINT) AS s
         |  FROM v JOIN a1 USING (vec_id) CROSS JOIN range(1, 65) i(i)
         |  GROUP BY 1, 2),
         |upd AS (SELECT c0.cl, i.i,
         |    ((c0.c[i.i] * 0.5::DOUBLE) + COALESCE(s.s, 0)) / (0.5::DOUBLE + COALESCE(cnt.m, 0)) AS cd
         |  FROM c0 CROSS JOIN range(1, 65) i(i)
         |  LEFT JOIN sums s ON s.cl = c0.cl AND s.i = i.i
         |  LEFT JOIN cnt ON cnt.cl = c0.cl)
         |SELECT u.cl AS cluster,
         |  CAST(round((0.5::DOUBLE + COALESCE(max(cnt.m), 0)) * 1000.0) AS BIGINT) AS w_milli,
         |  string_agg(CAST(CAST(round(u.cd) AS BIGINT) AS VARCHAR), ',' ORDER BY u.i) AS cent_q
         |FROM upd u LEFT JOIN cnt ON cnt.cl = u.cl
         |GROUP BY u.cl ORDER BY cluster""".stripMargin,

    // The corpus arrives as one micro-batch, so the streamed model equals
    // exactly ONE unrolled gradient iteration (Ml.lrChainCteK — the shared
    // sigmoid/update formula strings) over the event features.
    // Mirror of the streaming test: cumulative-window state over one
    // micro-batch equals the batch six sums; shared Welch formula
    // strings (the n18 shape on the signup/error pair).
    // Batch mirror of the engine-run union: the IN-filter projection.
    "v16_stream_union" ->
      """SELECT event_id, event_type,
        |  CAST(round(value * 100) AS BIGINT) AS cents
        |FROM events WHERE event_type IN ('click', 'purchase')
        |ORDER BY event_id""".stripMargin,

    // Full-window re-reduce (ROWS 2 PRECEDING) over the dense
    // key × slice grid — the non-incremental formulation the
    // add/subtract recurrence must equal.
    "v15_invertible_window" ->
      """WITH pb AS (SELECT event_type, CAST(minute(ts) % 6 AS BIGINT) AS b,
        |    CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS vmilli
        |  FROM events GROUP BY 1, 2),
        |grid AS (SELECT t.event_type, g.b,
        |    COALESCE(p.cnt, 0) AS cnt, COALESCE(p.vmilli, 0) AS vmilli
        |  FROM (SELECT DISTINCT event_type FROM events) t
        |  CROSS JOIN (SELECT CAST(range AS BIGINT) AS b FROM range(0, 6)) g
        |  LEFT JOIN pb p ON p.event_type = t.event_type AND p.b = g.b)
        |SELECT event_type, b,
        |  CAST(sum(cnt) OVER w3 AS BIGINT) AS w_cnt,
        |  CAST(sum(vmilli) OVER w3 AS BIGINT) AS w_vmilli
        |FROM grid
        |WINDOW w3 AS (PARTITION BY event_type ORDER BY b
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, b""".stripMargin,

    // Mirror of valueWindowTrio: per-value partials re-reduced from
    // scratch over the dense value x slice grid, plus the sentinel
    // global row — the from-scratch re-reduce gates the inverse form.
    "v18_count_by_value_window" ->
      """WITH ev AS MATERIALIZED (SELECT
        |    CAST(CAST(round(greatest(value, CAST(0 AS DOUBLE)) * 1000) AS BIGINT) // 25000 AS BIGINT) AS v,
        |    CAST(round(value * 1000) AS BIGINT) AS vmilli,
        |    CAST(minute(ts) % 6 AS BIGINT) AS b
        |  FROM events),
        |pb AS (SELECT v, b, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(vmilli) AS BIGINT) AS vmilli
        |  FROM ev GROUP BY 1, 2),
        |gl AS (SELECT CAST(-1 AS BIGINT) AS v, b, CAST(sum(cnt) AS BIGINT) AS cnt,
        |    CAST(sum(vmilli) AS BIGINT) AS vmilli
        |  FROM pb GROUP BY 2),
        |st AS (SELECT * FROM pb UNION ALL SELECT * FROM gl),
        |grid AS (SELECT t.v, g.b,
        |    COALESCE(p.cnt, 0) AS cnt, COALESCE(p.vmilli, 0) AS vmilli
        |  FROM (SELECT DISTINCT v FROM st) t
        |  CROSS JOIN (SELECT CAST(range AS BIGINT) AS b FROM range(0, 6)) g
        |  LEFT JOIN st p ON p.v = t.v AND p.b = g.b)
        |SELECT v, b,
        |  CAST(sum(cnt) OVER w3 AS BIGINT) AS w_cnt,
        |  CAST(sum(vmilli) OVER w3 AS BIGINT) AS w_vmilli
        |FROM grid
        |WINDOW w3 AS (PARTITION BY v ORDER BY b
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY v, b""".stripMargin,

    "v14_streaming_ttest" -> {
      val stats = graft.ext.Learn.welchExprs
        .map { case (name, e) => s"$e AS $name" }.mkString(",\n  ")
      s"""WITH g AS (SELECT
         |    CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN event_type = 'signup' THEN vm ELSE 0 END) AS BIGINT) AS s1,
         |    CAST(sum(CASE WHEN event_type = 'signup' THEN vm * vm ELSE 0 END) AS BIGINT) AS ss1,
         |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |    CAST(sum(CASE WHEN event_type = 'error' THEN vm ELSE 0 END) AS BIGINT) AS s2,
         |    CAST(sum(CASE WHEN event_type = 'error' THEN vm * vm ELSE 0 END) AS BIGINT) AS ss2
         |  FROM (SELECT event_type, CAST(round(value * 1000) AS BIGINT) AS vm
         |        FROM events WHERE event_type IN ('signup', 'error')))
         |SELECT n1, s1, ss1, n2, s2, ss2,
         |  $stats
         |FROM g""".stripMargin
    },

    "v13_streaming_linreg" -> {
      import graft.ext.Learn
      s"""WITH feats AS MATERIALIZED (
         |  SELECT CAST(user_id % 10 AS BIGINT) AS x1,
         |         CAST(CAST(round(value) AS BIGINT) // 10 AS BIGINT) AS x2,
         |         CAST(round(value) AS BIGINT) AS y
         |  FROM events),
         |lw0 AS (SELECT 0::BIGINT AS w0q, 0::BIGINT AS w1q, 0::BIGINT AS w2q),
         |lg1 AS MATERIALIZED (
         |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(r) AS BIGINT) AS g0,
         |    CAST(sum(r * x1) AS BIGINT) AS g1, CAST(sum(r * x2) AS BIGINT) AS g2
         |  FROM (SELECT y - ${Learn.linPredExpr} AS r, x1, x2
         |        FROM feats CROSS JOIN lw0)),
         |lw1 AS (SELECT ${Learn.linUpdExpr("w0q", "g0", 0.05)} AS w0q,
         |    ${Learn.linUpdExpr("w1q", "g1", 0.05)} AS w1q,
         |    ${Learn.linUpdExpr("w2q", "g2", 0.05)} AS w2q
         |  FROM lg1 CROSS JOIN lw0)
         |SELECT w0q, w1q, w2q FROM lw1""".stripMargin
    },

    "v12_streaming_logistic" ->
      s"""WITH feats AS MATERIALIZED (
         |  SELECT CAST(user_id % 10 AS BIGINT) AS x1,
         |         CAST(CAST(round(value) AS BIGINT) // 10 AS BIGINT) AS x2,
         |         CAST(CASE WHEN event_type = 'purchase' THEN 1000000 ELSE 0 END AS BIGINT) AS yq
         |  FROM events),
         |${Ml.lrChainCteK("", "feats", 2, 1, graft.ext.Learn.constStep(1.0))}
         |SELECT w0q, w1q, w2q FROM w1""".stripMargin
  )
}
