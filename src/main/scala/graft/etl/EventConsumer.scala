package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Consumer side of the event stream — reference operators O11-O14:
  * shard iteration from TRIM_HORIZON in bounded batches (run.py:111-131),
  * arrival-timestamp threshold filter (run.py:126-127), count-bounded
  * early stop (run.py:128-129), and the projection+JSON-parse step
  * (run.py:133-138: `{**json.loads(data), partition_key}`).
  */
object EventConsumer {

  /** Replay of `wait_for_kinesis`: read in `batchLimit`-record chunks
    * from the start of the stream (the get_records loop, run.py:111-131),
    * keep events after `thresholdMs`, stop once `expected` accumulated.
    */
  def consume(
      sink: EventSink,
      expected: Int,
      thresholdMs: Long = 0L,
      batchLimit: Int = 50
  ): Seq[EventRecord] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[EventRecord]
    val it = sink.all.grouped(batchLimit)
    while (out.size < expected && it.hasNext)
      out ++= it.next().filter(_.arrivalTs > thresholdMs)
    out.take(expected).toSeq
  }

  /** Distributed projection+parse (O14): envelope JSON → flattened metadata
    * columns + raw data JSON + partition key. `from_json`-style parse kept to
    * `get_json_object` so heterogeneous `data` payloads (different tables in
    * one stream) survive in one DataFrame.
    */
  def project(spark: SparkSession, events: Seq[EventRecord]): DataFrame = {
    import spark.implicits._
    val df = events.map(e => (e.seqNo, e.partitionKey, e.envelope))
      .toDF("seq_no", "partition_key", "envelope")
    df.select(
      $"seq_no",
      $"partition_key",
      get_json_object($"envelope", "$.metadata.record-type").as("record_type"),
      get_json_object($"envelope", "$.metadata.operation").as("operation"),
      get_json_object($"envelope", "$.metadata.schema-name").as("schema_name"),
      get_json_object($"envelope", "$.metadata.table-name").as("table_name"),
      get_json_object($"envelope", "$.data").as("data_json"))
  }
}
