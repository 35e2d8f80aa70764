package graft.etl

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame

/** One emitted event: the single-shard Kinesis record analog.
  *
  * `seqNo` is the shard sequence number — assignment order is total
  * (stack.py:268 shard_count=1 ⇒ global arrival order; consumers replay from
  * TRIM_HORIZON, run.py:117). `arrivalTs` backs the consumer's
  * ApproximateArrivalTimestamp threshold filter (run.py:126).
  */
final case class EventRecord(
    seqNo: Long,
    partitionKey: String,
    envelope: String,
    arrivalTs: Long
)

/** Pluggable event sink (reference O10). There is no OSS Spark Kinesis sink;
  * the contract surface is this trait — a memory implementation for tests and
  * local runs, a KPL-style implementation would slot in unchanged.
  */
trait EventSink {
  def append(events: Seq[(String, String)]): Unit

  /** Distributed emission of a Spark-built event batch: columns
    * `(seq: Long, partition_key: String, envelope: String)`. The contract is
    * per-partition-key order by `seq` — exactly Kinesis's per-shard ordering.
    *
    * Default implementation streams the batch through the driver in global
    * seq order via `toLocalIterator` (one output partition resident at a
    * time, never the whole batch) because every bundled sink is a
    * driver-local store standing in for the service. A real N-shard service
    * sink overrides this with `events.repartition(col("partition_key"))
    * .sortWithinPartitions("seq").foreachPartition(putRecords)` — the
    * upstream envelope build is already distributed either way.
    */
  def appendOrdered(events: DataFrame): Unit =
    events
      .orderBy("seq")
      .select("partition_key", "envelope")
      .toLocalIterator().asScala
      .grouped(1000)
      .foreach(g => append(g.map(r => (r.getString(0), r.getString(1))).toSeq))

  def all: Seq[EventRecord]
  def size: Int = all.size
}

/** Kinesis-quota backpressure decorator: a token bucket of `capacityPerSec`
  * record slots, refilled continuously — the per-shard PutRecords quota
  * (1000 records/s/shard on the real service, stack.py:266-272's one-shard
  * stream). `append` forwards what fits and retries the throttled remainder
  * with fixed backoff, the same bounded retry(retries, sleep) pattern the
  * reference driver wraps around every throttlable AWS call (run.py:51-62);
  * when retries are exhausted it surfaces the provisioned-throughput error
  * instead of dropping records. Record order is preserved across retries
  * (prefix-accept), so the per-shard ordering contract survives throttling.
  * Clock and sleeper are injectable — specs run on virtual time.
  */
final class ThrottledEventSink(
    inner: EventSink,
    capacityPerSec: Int,
    maxRetries: Int = 10,
    backoffMs: Long = 1000L,
    nanoTime: () => Long = System.nanoTime,
    sleep: Long => Unit = Thread.sleep
) extends EventSink {
  require(capacityPerSec > 0)

  private var tokens: Double = capacityPerSec.toDouble
  private var lastRefill: Long = nanoTime()

  /** Observability: number of throttled (backed-off) attempts so far. */
  @volatile var throttleCount: Int = 0

  private def refill(): Unit = {
    val now = nanoTime()
    tokens = math.min(
      capacityPerSec.toDouble,
      tokens + (now - lastRefill) / 1e9 * capacityPerSec)
    lastRefill = now
  }

  override def append(events: Seq[(String, String)]): Unit = synchronized {
    var pending = events
    var attempt = 0
    while (pending.nonEmpty) {
      refill()
      val n = math.min(pending.size, tokens.toInt)
      if (n > 0) {
        inner.append(pending.take(n))
        tokens -= n
        pending = pending.drop(n)
        attempt = 0
      } else {
        throttleCount += 1
        attempt += 1
        if (attempt > maxRetries)
          throw new IllegalStateException(
            s"ProvisionedThroughputExceeded: ${pending.size} records still throttled after $maxRetries retries")
        sleep(backoffMs)
      }
    }
  }

  override def all: Seq[EventRecord] = inner.all
}

final class MemoryEventSink extends EventSink {
  private val buf = ArrayBuffer.empty[EventRecord]
  private var seq = 0L

  override def append(events: Seq[(String, String)]): Unit = synchronized {
    events.foreach { case (pk, env) =>
      buf += EventRecord(seq, pk, env, System.currentTimeMillis())
      seq += 1
    }
  }

  override def all: Seq[EventRecord] = synchronized(buf.toVector)
}
