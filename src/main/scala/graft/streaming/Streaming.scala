package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Typed event row for the events table. */
case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                 event_type: String, value: Double)

/** A closed user session: maximal run of a user's events with no gap
  * larger than the session gap. */
case class Session(user_id: Long, session_idx: Long, n_events: Long,
                   session_start: java.sql.Timestamp, session_end: java.sql.Timestamp)

/** Streaming surface (SURVEY §2.9). The reference's DStream model
  * (STRM/dstream/DStream.scala — processing-time micro-batches,
  * window/reduceByKeyAndWindow, updateStateByKey/mapWithState) maps to
  * Structured Streaming event-time semantics: `window()` aggregations +
  * watermarks, and mapGroupsWithState/flatMapGroupsWithState for custom
  * state (documented deviation: event-time + watermark replaces
  * processing-time windows).
  *
  * Every transform here is unbound: apply it to a static DataFrame for
  * batch (and the DuckDB oracle), or to `readStream` input for streaming —
  * the SAME plan runs incrementally. StreamingSpec proves batch/stream
  * parity with MemoryStream, watermark late-data drop, and cross-batch
  * state.
  */
object Streaming {

  private val cents = "cast(round(value * 100) as bigint)"

  /** Tumbling event-time windows: per (window, event_type) counts + exact
    * cents sum. Streaming: one shuffle per micro-batch into the state
    * store, keyed by (window, type) — partial aggregation keeps the
    * shuffle small at scale. */
  def tumblingStats(events: DataFrame, size: String): DataFrame =
    events.groupBy(window(col("ts"), size).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(expr(cents)).as("cents"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("cents"))

  /** Sliding windows (size divisible by slide): each event lands in
    * size/slide windows. */
  def slidingStats(events: DataFrame, size: String, slide: String): DataFrame =
    events.groupBy(window(col("ts"), size, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(expr(cents)).as("cents"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("cents"))

  // ---- invertible windowed reduction (reference streaming/.../dstream/
  // PairDStreamFunctions.scala:249 reduceByKeyAndWindow with
  // invReduceFunc + ReducedWindowedDStream.scala:33; compute at :134-166
  // takes the PREVIOUS window's reduced value, inverse-reduces the
  // slices leaving the window and reduces the slices entering it —
  // never re-reducing the full window. The state the recurrence needs is
  // exactly one reduced partial PER (key, slice); the windowed value is
  // then prev + new − expired, whose closed form over the slice axis is
  // cumulative(b) − cumulative(b − W). The state here is that per-slice
  // partial table, merged ADDITIVELY per micro-batch (commutative, so
  // the result is independent of batch arrival order), and the emission
  // applies the inverse-reduce closed form; the oracle gate re-reduces
  // every window from scratch, proving the identity.) ------------------

  /** Empty per-(key, slice) partial-sum state. */
  def zeroBucketState(s: org.apache.spark.sql.SparkSession): DataFrame = {
    import s.implicits._
    Seq.empty[(String, Long, Long, Long)].toDF("event_type", "b", "cnt", "vmilli")
  }

  /** One micro-batch's reduced partials per (key, slice). */
  def bucketPartials(batch: DataFrame): DataFrame =
    batch.groupBy(col("event_type"), col("b").cast("long").as("b"))
      .agg(count(lit(1)).as("cnt"), sum("vmilli").as("vmilli"))

  /** Additive state merge — the reduceF side of the recurrence. */
  def addBucketState(state: DataFrame, add: DataFrame): DataFrame =
    state.unionByName(add).groupBy("event_type", "b")
      .agg(sum("cnt").as("cnt"), sum("vmilli").as("vmilli"))

  /** Windowed totals from the per-slice state via the INVERSE-reduce
    * closed form: w(b) = cum(b) − cum(b − `w`), per key over the dense
    * slice grid 0..`buckets`−1 (absent slices are zero partials, so a
    * key quiet in some slice still windows correctly). The state table
    * is (keys × slices) rows — broadcast-small by construction. */
  def inverseWindow(state: DataFrame, buckets: Int, w: Int,
                    keyCol: String = "event_type"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = state.select(keyCol).distinct()
      .crossJoin(state.sparkSession.range(0, buckets).select(col("id").as("b")))
      .join(state, Seq(keyCol, "b"), "left")
      .na.fill(0L, Seq("cnt", "vmilli"))
    val cum = Window.partitionBy(keyCol).orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ord = Window.partitionBy(keyCol).orderBy("b")
    grid.select(col(keyCol), col("b"),
        sum("cnt").over(cum).as("ccnt"), sum("vmilli").over(cum).as("cvm"))
      .select(col(keyCol), col("b"),
        (col("ccnt") - coalesce(lag("ccnt", w).over(ord), lit(0L))).as("w_cnt"),
        (col("cvm") - coalesce(lag("cvm", w).over(ord), lit(0L))).as("w_vmilli"))
  }

  // ---- the DStream windowed-count tail (reference STRM/dstream/
  // DStream.scala:858 countByValueAndWindow — map(v → (v, 1)) +
  // reduceByKeyAndWindow with +/− ; :876 countByWindow — map(_ → 1) +
  // reduceByWindow(+, −); :813 reduceByWindow — the single-key
  // degeneration of the same recurrence. All three ride the v15
  // per-(key, slice) invertible partial state; the VALUE itself is the
  // key for countByValue, and a single global key serves the other two,
  // so one state table answers the whole trio. --------------------------

  /** Empty per-(value, slice) partial state for a VALUE stream. */
  def zeroValueState(s: org.apache.spark.sql.SparkSession): DataFrame = {
    import s.implicits._
    Seq.empty[(Long, Long, Long, Long)].toDF("v", "b", "cnt", "vmilli")
  }

  /** One micro-batch's reduced partials per (value, slice): the count is
    * countByValue's map-to-(v, 1) side, the vmilli sum feeds
    * reduceByWindow's global reduce. */
  def valuePartials(batch: DataFrame): DataFrame =
    batch.groupBy(col("v").cast("long").as("v"), col("b").cast("long").as("b"))
      .agg(count(lit(1)).as("cnt"), sum("vmilli").as("vmilli"))

  /** Additive merge — commutative, so batch arrival order is free. */
  def addValueState(state: DataFrame, add: DataFrame): DataFrame =
    state.unionByName(add).groupBy("v", "b")
      .agg(sum("cnt").as("cnt"), sum("vmilli").as("vmilli"))

  /** The windowed trio from one value-keyed state table:
    * countByValueAndWindow rows per (v, b) plus the global
    * countByWindow / reduceByWindow row per b under the sentinel
    * v = −1 (the value domain is non-negative by contract). */
  def valueWindowTrio(state: DataFrame, buckets: Int, w: Int): DataFrame = {
    val perValue = inverseWindow(state, buckets, w, keyCol = "v")
    val global = inverseWindow(
      state.groupBy("b").agg(sum("cnt").as("cnt"), sum("vmilli").as("vmilli"))
        .withColumn("v", lit(-1L)),
      buckets, w, keyCol = "v")
    perValue.unionByName(global)
  }

  /** Core sessionization step shared by the batch and streaming paths:
    * fold time-ordered events into gap-delimited sessions, continuing from
    * carried-over sessions (streaming state), empty for batch. */
  def foldSessions(prior: List[Session], uid: Long, events: Seq[Event],
                   gapMs: Long): List[Session] =
    events.sortBy(e => (e.ts.getTime, e.event_id)).foldLeft(prior) { (acc, e) =>
      acc match {
        case last :: rest if e.ts.getTime - last.session_end.getTime <= gapMs =>
          last.copy(n_events = last.n_events + 1, session_end = e.ts) :: rest
        case _ =>
          Session(uid, acc.size + 1L, 1L, e.ts, e.ts) :: acc
      }
    }

  /** Batch sessionization: groupByKey + flatMapGroups. At 100 TB the group
    * sort happens per user in memory — acceptable because per-user event
    * counts are bounded; the unbounded-user dimension is the shuffle key.
    * The streaming equivalent keeps the open session in GroupState
    * (StreamingSpec.statefulSessionCounts). */
  def sessionize(events: Dataset[Event], gapMinutes: Int): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events.groupByKey(_.user_id).flatMapGroups { (uid, it) =>
      foldSessions(Nil, uid, it.toSeq, gapMs).reverseIterator
    }
  }
}

/** Per-user lifetime totals emitted by [[UserTotalsProcessor]]. */
case class UserTotals(user_id: Long, n_events: Long, cents: Long)

/** Arbitrary-state streaming via the transformWithState API — the
  * modern replacement for both the reference's updateStateByKey
  * (STRM/dstream/PairDStreamFunctions.scala) and the 3.x
  * mapGroupsWithState path (which v03 exercises): typed state handles
  * (ValueState here; List/Map/timers available), RocksDB-backed, with
  * state schema tracked per handle.
  *
  * Contract: per user, fold the batch's events into the running
  * (n_events, cents) ValueState and emit the post-batch totals. With the
  * whole corpus arriving as one micro-batch (the suite's single-file
  * source), the emission equals the batch GROUP BY — the oracle's check —
  * while still executing through the streaming engine's stateful
  * operator. Across many batches the same processor emits one updated
  * row per (user, batch) — the running-totals changelog shape
  * (StreamingSpec pins that cross-batch behavior).
  *
  * Scale: state is two longs per user — millions of users is tens of MB
  * per store; handleInputRows streams the iterator without buffering, so
  * a hot user costs CPU, not memory. */
class UserTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserTotals] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var totals: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Long)]("totals",
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong),
      TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[Event],
                               timerValues: TimerValues): Iterator[UserTotals] = {
    var (n, cents) = if (totals.exists()) totals.get() else (0L, 0L)
    rows.foreach { e => n += 1; cents += math.round(e.value * 100) }
    totals.update((n, cents))
    Iterator.single(UserTotals(user, n, cents))
  }
}

/** Exactly-once parquet sink for `foreachBatch` — the delivery gap the
  * engine's own file sink closes with its `_spark_metadata` commit log
  * (reference STRM checkpointing semantics: after a crash-restart the
  * last uncommitted micro-batch is REPLAYED, so any non-idempotent
  * foreachBatch sink double-writes it; Structured Streaming documents
  * foreachBatch as at-least-once for exactly this reason).
  *
  * Recipe: each micro-batch lands in its own `batch_id=N` directory,
  * installed via [[graft.ext.IndexStore.atomically]] (temp-dir build +
  * atomic rename). That makes the write IDEMPOTENT — a replayed batch
  * re-installs the same directory whole, replacing rather than appending
  * — and TORN-READ-FREE — a concurrent reader of the output root sees a
  * batch directory either complete or not at all, and a build that
  * crashes mid-write leaves the previous complete install untouched.
  * The `batch_id=N` naming doubles as a Hive partition key, so
  * [[ExactlyOnceSink.read]] is plain partition discovery and downstream
  * consumers can partition-prune on batch ranges (incremental ETL over
  * the landed table). At 100 TB: one directory per micro-batch, no
  * global commit log contention, and the atomic-install discipline is
  * the same one the standing dedup/ANN indexes already use. */
object ExactlyOnceSink {

  /** Install `df` as `root/batch_id=<batchId>/` atomically; safe to call
    * again with the same batchId (restart replay) — the directory is
    * replaced whole, never appended. Wire into foreachBatch as
    * `.foreachBatch { (b, id) => ExactlyOnceSink.writeBatch(root)(b.toDF(), id) }`
    * (typed writers need the `toDF()` since their overload takes
    * `Dataset[T]`). */
  def writeBatch(root: String)(df: DataFrame, batchId: Long): Unit =
    graft.ext.IndexStore.atomically(df.sparkSession, s"$root/batch_id=$batchId") { tmp =>
      df.write.mode("overwrite").parquet(tmp)
    }

  /** The landed table: partition discovery over the batch directories,
    * `batch_id` surfaced as a BIGINT partition column (partition-type
    * inference yields INT for small ids, so the cast pins the schema —
    * a consumer's `getLong` must not depend on how many batches have
    * landed). In-flight builds and retired copies are dot-prefixed by
    * [[graft.ext.IndexStore]] and therefore invisible to discovery. */
  def read(spark: org.apache.spark.sql.SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.option("basePath", root).parquet(root)
      .withColumn("batch_id", col("batch_id").cast("long"))
  }
}
