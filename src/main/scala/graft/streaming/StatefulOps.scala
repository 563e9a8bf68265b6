package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful Structured Streaming operators (SURVEY §2.10: the reference
  * has no stateful streaming — these are the north-star extensions that a
  * continuously-ingesting training-data pipeline needs).
  *
  * All results leave the streaming query through a distributed parquet
  * sink ([[StreamingOps.runViaFileSink]]) — never a driver-resident
  * memory sink.
  */
object StatefulOps {

  final case class Event(user_id: Long, event_id: Long, ts: Timestamp)

  /** Per-user sessionization state: event count plus the set of disjoint
    * session intervals [startUs, endUs] seen so far. Intervals are kept
    * pairwise separated by more than the gap (else they merge), so their
    * count IS the session count. State is O(sessions per key) — bounded
    * for any arrival order, with no per-batch sort or materialization.
    */
  final case class SessionState(nEvents: Long, intervals: List[(Long, Long)])
  final case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** Merge one event time into the disjoint-interval set: every interval
    * within `gapUs` of `ts` coalesces with it. Intervals are pairwise
    * >gap apart before AND after (a post-merge boundary extends at most
    * to an absorbed interval's end, which was already >gap from the
    * rest), so the invariant is self-maintaining.
    */
  private[graft] def absorb(intervals: List[(Long, Long)], ts: Long,
      gapUs: Long): List[(Long, Long)] = {
    val (touching, rest) = intervals.partition {
      case (s, e) => ts >= s - gapUs && ts <= e + gapUs
    }
    val start = (ts :: touching.map(_._1)).min
    val end = (ts :: touching.map(_._2)).max
    (start, end) :: rest
  }

  /** Streaming gap-based sessionization with explicit per-key state
    * (`flatMapGroupsWithState`): counts sessions per user across
    * micro-batches — the streaming equivalent of
    * [[graft.operators.SessionOps.sessionStats]].
    *
    * The fold is ORDER-INSENSITIVE: each event extends/merges session
    * intervals directly, so no batch-wide sort or `toSeq`
    * materialization is needed — a hot key's history streams through the
    * iterator one event at a time. State per user is the interval list
    * (O(sessions), independent of event volume); on an unbounded stream
    * intervals older than the watermark would be folded into a closed
    * counter, keeping state O(open sessions).
    */
  def streamingSessionStats(spark: SparkSession, eventsPath: String,
      gapSeconds: Long = 1800L,
      queryName: String = "graft_sessions",
      statePartitions: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val srcDir = StreamingOps.asSourceDir(eventsPath)
    val schema = spark.read.parquet(srcDir).schema
    val events = graft.sources.Tables.normalizeTs(
      spark.readStream.schema(schema).parquet(srcDir))
      .select(col("user_id"), col("event_id"), col("ts")).as[Event]

    val gapUs = gapSeconds * 1000000L
    val sessions = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSessions](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (user, it, state: GroupState[SessionState]) =>
          var st = state.getOption.getOrElse(SessionState(0L, Nil))
          it.foreach { e =>
            st = SessionState(st.nEvents + 1,
              absorb(st.intervals, e.ts.getTime * 1000, gapUs))
          }
          state.update(st)
          Iterator(UserSessions(user, st.intervals.size.toLong, st.nEvents))
      }

    StreamingOps.runViaFileSink(sessions.toDF(), "update", queryName,
      updateKeys = Seq("user_id"), statePartitions = statePartitions)
  }

  /** Streaming exact dedup with watermarked state (`dropDuplicates` on a
    * key within the watermark horizon) — the streaming counterpart of
    * DedupOps.exactDedup: duplicates arriving within `watermark` of each
    * other emit once. State is bounded by the watermark (expired keys are
    * dropped), which is what makes this viable on an unbounded stream.
    */
  def streamingDedup(spark: SparkSession, eventsPath: String,
      keyCols: Seq[String], watermark: String = "1 hour",
      queryName: String = "graft_stream_dedup",
      statePartitions: Option[Int] = None): DataFrame = {
    val srcDir = StreamingOps.asSourceDir(eventsPath)
    val schema = spark.read.parquet(srcDir).schema
    val stream = graft.sources.Tables.normalizeTs(
      spark.readStream.schema(schema).parquet(srcDir))
      .withWatermark("ts", watermark)
      .dropDuplicates(keyCols :+ "ts")
    StreamingOps.runViaFileSink(stream, "append", queryName,
      statePartitions = statePartitions)
  }

  /** Stream-stream interval inner join: click events joined to the
    * signup (by `joinType` filter columns) of the same user within
    * `intervalSeconds` *before* the click. Both sides carry watermarks,
    * which is what lets Spark bound the join state: a buffered signup can
    * be dropped once the click-side watermark passes its interval upper
    * bound — state stays O(events in the interval window), not O(stream).
    *
    * Over a bounded source with AvailableNow the result equals the batch
    * interval join, which is what the oracle checks (q51). The output is
    * O(matching pairs) — exactly the case where a memory sink would OOM
    * the driver, hence the parquet sink.
    */
  def streamStreamIntervalJoin(spark: SparkSession, eventsPath: String,
      leftType: String = "click", rightType: String = "signup",
      intervalSeconds: Long = 3600L,
      queryName: String = "graft_stream_join",
      statePartitions: Option[Int] = None): DataFrame = {
    val srcDir = StreamingOps.asSourceDir(eventsPath)
    val schema = spark.read.parquet(srcDir).schema
    def side(eventType: String, prefix: String) =
      graft.sources.Tables.normalizeTs(
        spark.readStream.schema(schema).parquet(srcDir))
        .where(col("event_type") === eventType)
        .select(col("user_id").as(s"${prefix}_user"),
          col("event_id").as(s"${prefix}_id"), col("ts").as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "1 hour")
    val clicks = side(leftType, "c")
    val signups = side(rightType, "s")
    val joined = clicks.join(signups,
      col("c_user") === col("s_user")
        && col("c_ts") >= col("s_ts")
        && col("c_ts") <= col("s_ts") + expr(s"INTERVAL $intervalSeconds SECONDS"))
    StreamingOps.runViaFileSink(joined, "append", queryName,
      statePartitions = statePartitions)
  }
}
