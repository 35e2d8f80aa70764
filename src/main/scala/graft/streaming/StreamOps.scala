package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured-Streaming surface of the engine: the event-time operators the
  * batch queries (`q_stream_*`) verify, wired to real `readStream` sources
  * with watermarks, plus a `flatMapGroupsWithState` per-key session tracker
  * (custom state — the CDC-apply shape generalized to arbitrary keys).
  *
  * The reference's only time logic is the arrival-ts threshold (O12); these
  * generalize it to event-time with bounded lateness: watermark = the
  * threshold made continuous.
  */
object StreamOps {

  /** Tumbling event-time counts with bounded lateness. Same aggregation plan
    * as `q_stream_tumbling`; watermark drops events later than `lateness`
    * behind the max seen event time (O12 analog).
    */
  def tumblingCounts(
      events: DataFrame,
      window_ : String = "1 hour",
      lateness: String = "10 minutes"
  ): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"))

  /** Sliding event-time counts (window/slide) with bounded lateness; same
    * aggregation plan as `q_stream_sliding` — each event feeds
    * window/slide overlapping windows, state is per (window, type).
    */
  def slidingCounts(
      events: DataFrame,
      window_ : String = "1 hour",
      slide: String = "30 minutes",
      lateness: String = "10 minutes"
  ): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"))

  /** Session windows per user with a gap; same operator as `q_stream_session`. */
  def sessionCounts(
      events: DataFrame,
      gap: String = "30 minutes",
      lateness: String = "10 minutes"
  ): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming exact dedup with bounded state: duplicates of a key arriving
    * within the watermark window are dropped, and key state is GC'd once the
    * watermark passes — the streaming form of `q_dedup_exact` (unbounded
    * dropDuplicates would grow state forever at 100 TB/day).
    */
  def dedupStream(
      events: DataFrame,
      keyCols: Seq[String],
      lateness: String = "10 minutes"
  ): DataFrame =
    events
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Stream-stream inner join with event-time bounds: purchases matched to
    * the same user's signups within `horizon` before the purchase. Both
    * sides watermarked so state is GC'd once the range condition can no
    * longer match — the bounded-state pattern every stream-stream join at
    * scale needs (unbounded joins accumulate state forever).
    */
  def purchasesJoinedToSignups(
      purchases: DataFrame,
      signups: DataFrame,
      horizon: String = "2 hours",
      lateness: String = "10 minutes"
  ): DataFrame = {
    val p = purchases.withWatermark("ts", lateness)
      .select(col("user_id"), col("ts").as("purchase_ts"), col("event_id").as("purchase_id"))
    val sg = signups.withWatermark("ts", lateness)
      .select(col("user_id").as("s_user_id"), col("ts").as("signup_ts"))
    p.join(sg,
      col("user_id") === col("s_user_id") &&
        col("signup_ts") <= col("purchase_ts") &&
        col("signup_ts") >= col("purchase_ts") - expr(s"INTERVAL $horizon"),
      "inner")
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"), col("signup_ts"))
  }

  final case class UserEvent(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class UserRunning(user_id: Long, n_events: Long, n_purchases: Long)

  /** Custom keyed state via flatMapGroupsWithState: running per-user counters
    * emitted on every update — state lives in the state store, partitioned by
    * key (scales horizontally; nothing driver-side).
    */
  def runningUserCounters(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, it: Iterator[UserEvent], state: GroupState[UserRunning]) => {
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0L))
          // single-pass fold: a group can hold one user's whole replay, so
          // materializing it (toSeq) would allocate proportional to the
          // hottest key instead of O(1)
          var n = 0L; var p = 0L
          it.foreach { e => n += 1; if (e.event_type == "purchase") p += 1 }
          val next = UserRunning(userId, prev.n_events + n, prev.n_purchases + p)
          state.update(next)
          Iterator.single(next)
        })
  }

  /** File-source streaming entry: tail a directory of parquet events. The
    * schema comes from [[graft.tables.Tables.parquetSchema]], the memo batch
    * reads share: inference reads parquet footers in a Spark job, a per-run
    * cost that repeated replay harnesses (bench/verify sweeps) would
    * otherwise pay on every run, and the memo infers again when a file in
    * the directory changes or a schema conf (the ns-timestamp toggle among
    * them) flips.
    */
  def readEventStream(spark: SparkSession, path: String): DataFrame = {
    val schema = graft.tables.Tables.parquetSchema(spark, path)
    // Normalize ts → TimestampType here, BEFORE any caller attaches a
    // watermark: a TIMESTAMP_NTZ (or ns-long) ts fails analysis with
    // EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE. Idempotent, no-op without `ts`.
    graft.tables.Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(path))
  }

  /** Unload every state-store provider cached in THIS JVM and stop its
    * maintenance task. Each streaming run registers providers keyed by its
    * (unique, per-run) checkpoint location, and the per-JVM cache retains
    * them — with their in-memory state maps — for the life of the process.
    * Long local-mode sessions that launch many short streaming queries (a
    * bench sweep, a test suite) accumulate hundreds of dead providers whose
    * memory and maintenance churn taxes later queries; releasing after
    * each terminated query keeps the cache bounded, and the next streaming
    * query transparently reloads what it needs.
    *
    * Two scope caveats: (1) `StateStore.stop()` acts on the calling JVM
    * only — on a real cluster each executor holds its own provider cache,
    * which ages out via that JVM's maintenance policy instead; (2) the stop
    * is process-global, so call it only when no other streaming query is
    * active in this JVM (a concurrent query would pay a full state reload
    * from its checkpoint on the next batch).
    */
  def releaseStreamingState(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()

  /** Serialize streaming runs within this JVM and scope the session-conf
    * overrides (shuffle partitions, the ns-parquet legacy toggle) + state
    * release to the critical section. The conf mutations are session-global
    * and `StateStore.stop()` is process-global: a concurrent streaming
    * query in the same JVM would be silently re-planned with the override
    * or pay a full state reload, so the lock makes the sequential-harness
    * assumption an enforced invariant instead of a comment.
    *
    * `spark.sql.legacy.parquet.nanosAsLong` is set for the block because
    * every streaming read of the ns-timestamp events table needs it at
    * schema-inference AND micro-batch planning time — so the stream must be
    * CONSTRUCTED and awaited inside `body`. It is restored (not just unset)
    * on exit so no setting leaks past a streaming query.
    */
  private val engineLock = new Object

  /** @param noDataBatches keep Spark's watermark-finalizing empty
    *   micro-batch enabled (the default). Queries whose sinks receive every
    *   row in the DATA batch — inner stream-stream joins,
    *   dropDuplicatesWithinWatermark, flatMapGroupsWithState with no
    *   timeout — can pass `false`: the extra batch only re-opens and
    *   commits every state store to emit nothing (measured ~35% of
    *   q_stream_join's wall-clock). Watermarked Append-mode AGGREGATES must
    *   keep `true` — their results only emit when the watermark passes, in
    *   exactly that no-data batch.
    */
  def withRightSizedStreaming[T](
      spark: SparkSession, partitions: Int, noDataBatches: Boolean = true
  )(body: => T): T =
    engineLock.synchronized {
      val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"
      val NoDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      // pre-state via getAll, NOT getOption: getOption surfaces the global
      // DEFAULT for unset keys, and "restoring" that would pin the default
      // as an explicit session override — itself a conf leak
      val explicit = spark.conf.getAll
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      val prevNanos = explicit.get(NanosKey)
      val prevNoData = explicit.get(NoDataKey)
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      spark.conf.set(NanosKey, "true")
      spark.conf.set(NoDataKey, noDataBatches.toString)
      try body
      finally {
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        Seq(NanosKey -> prevNanos, NoDataKey -> prevNoData).foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None)    => spark.conf.unset(k)
        }
        releaseStreamingState()
      }
    }

  /** Per-process checkpoint root on the fastest writable volume: tmpfs
    * (`/dev/shm`) when present, else the JVM temp dir. Every micro-batch
    * fsyncs offset/commit logs and state snapshots into the checkpoint, and
    * Spark's auto-created temp checkpoints land on `java.io.tmpdir` — a real
    * disk on this host — so short AvailableNow replays pay disk latency per
    * run. Memory-backed checkpoints are CORRECT here because these are
    * one-shot throwaway replays (unique name per run, never resumed); a
    * production continuous query must point its checkpoint at durable
    * storage instead — that is what crash-recovery reads (see
    * DurableCdcSpec). Purged recursively on JVM exit.
    */
  lazy val fastCheckpointRoot: String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val p = base.resolve("graft_ckpt_p" + ProcessHandle.current().pid())
    java.nio.file.Files.createDirectories(p)
    sys.addShutdownHook { rmTree(p.toFile) }
    p.toString
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** Delete every finished query's checkpoint under [[fastCheckpointRoot]].
    * Safe whenever no stream is active: every checkpoint here belongs to a
    * one-shot AvailableNow replay with a unique name that is never resumed.
    * The bench harness calls this between queries — on tmpfs these dirs are
    * RAM, and across a 123-query × 4-execution suite the leftover state
    * snapshots otherwise accumulate for the whole run.
    */
  def purgeCheckpoints(): Unit = {
    val root = java.nio.file.Paths.get(fastCheckpointRoot).toFile
    Option(root.listFiles()).foreach(_.foreach(rmTree))
  }

  /** Run any streaming DataFrame to an in-memory table and wait until all
    * currently-available input is processed (test/driver harness). The
    * checkpoint goes under [[fastCheckpointRoot]] keyed by the (unique)
    * query name.
    */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode = OutputMode.Append): StreamingQuery = {
    df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", s"$fastCheckpointRoot/$name")
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
