package graft.etl

import java.io.IOException
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType
import graft.cdc.{ApplyOutcome, CdcApply, CdcParser, CdcRecord}
import graft.util.Overlap

/** Durable CDC apply state: current full row images as a parquet snapshot,
  * exceptions as an append-only parquet log.
  *
  * This is the 100 TB shape of the reference's replication state — nothing
  * driver-side, state merged per micro-batch with the distributed
  * `CdcApply.run` (one shuffle on the PK). A restarted task (same `dir`)
  * resumes from the last committed snapshot; replayed micro-batches
  * (foreachBatch is at-least-once) are idempotent for state because ops carry
  * full row images.
  *
  * On-disk layout under `dir` — both directories hold `ApplyOutcome` rows
  * without the `kind` column:
  *  - `state/`: the snapshot, one row per surviving key (`lastSeq` is the
  *    seq of the op that wrote the image, `error` is empty);
  *  - `exceptions/`: every batch's apply exceptions, one set of parquet files
  *    per batch that had any;
  *  - `state._tmp/`: exists only while a merge is in flight.
  *
  * A merge is ONE write: the batch's outcomes go to `state._tmp` partitioned
  * by `kind`, then the `kind=exception` files move into `exceptions/`, then
  * `state/` is deleted and `kind=state` renamed into its place, then the tmp
  * dir goes. (On an object store the last two steps become a manifest pointer
  * swap — same structure.)
  *
  * The write runs on a helper thread while the caller emits the same step's
  * events; the moves and the swap (the commit) start only after the emission
  * has returned. So the events are out before the state moves, nothing
  * rewrites `state/` or `exceptions/` while the emission runs, and the crash
  * cases are those of a sequential merge: a failed or interrupted emission
  * leaves a tmp that is unfinished (dropped) or finished with `state/`
  * present (dropped) — the replayed step then redoes both. Crash cases,
  * resolved when the state is opened and before every merge:
  *  - tmp without `_SUCCESS` (write unfinished): dropped; `state/` is intact.
  *  - tmp finished, `state/` present (crash before or after the state swap):
  *    dropped. `state/` is either the old snapshot, with the batch's
  *    exceptions possibly already moved, or already the new one. A replayed
  *    batch re-appends identical exception rows, which the dedup on
  *    `(schema, table, pk, lastSeq)` in [[loadExceptions]] reads once.
  *  - tmp finished, `state/` missing (crash between the delete and the
  *    rename): the swap is completed, so no committed row is lost.
  *
  * One handle writes a dir at a time: opening a second handle runs the
  * recovery, which drops the tmp of a merge in flight.
  */
final class DurableCdcState(spark: SparkSession, dir: String) {
  import spark.implicits._

  private val statePath = new Path(s"$dir/state")
  private val stateTmpPath = new Path(s"$dir/state._tmp")
  private val exceptionsPath = new Path(s"$dir/exceptions")
  private val tmpStatePath = new Path(stateTmpPath, "kind=state")
  private val tmpExceptionsPath = new Path(stateTmpPath, "kind=exception")

  private def fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** On-disk row schema: explicit, so a read runs no schema-inference job. */
  private val rowSchema: StructType =
    StructType(Encoders.product[ApplyOutcome].schema.filterNot(_.name == "kind"))

  recover()

  private def rename(from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new IOException(s"rename $from -> $to failed")

  private def moveExceptions(): Unit =
    if (fs.exists(tmpExceptionsPath)) {
      fs.mkdirs(exceptionsPath)
      // part-file names carry the write job's UUID, so they never collide
      fs.listStatus(tmpExceptionsPath)
        .foreach(f => rename(f.getPath, new Path(exceptionsPath, f.getPath.getName)))
    }

  private def swapState(): Unit = {
    fs.delete(statePath, true)
    if (fs.exists(tmpStatePath)) rename(tmpStatePath, statePath)
    else fs.mkdirs(statePath) // no surviving row: an empty snapshot
    fs.delete(stateTmpPath, true)
  }

  /** Resolve a merge interrupted by a crash (see the class doc). */
  private def recover(): Unit = {
    if (fs.exists(stateTmpPath)) {
      if (!fs.exists(statePath) && fs.exists(new Path(stateTmpPath, "_SUCCESS"))) {
        moveExceptions()
        swapState()
      } else fs.delete(stateTmpPath, true)
    }
    fs.mkdirs(statePath) // no-op unless this is a fresh dir: an empty snapshot
  }

  def loadState(): Dataset[CdcRecord] =
    spark.read.schema(rowSchema).parquet(statePath.toString)
      .select(lit(0L).as("seq"), lit(CdcParser.OpLoad).as("op"),
        col("schema"), col("table"), col("pk"), col("values"))
      .as[CdcRecord]

  def loadExceptions(): Dataset[ApplyOutcome] =
    if (fs.exists(exceptionsPath))
      // a replayed micro-batch (at-least-once) re-appends identical rows;
      // (key, seq) identifies an exception uniquely, so dedup on read
      spark.read.schema(rowSchema).parquet(exceptionsPath.toString)
        .withColumn("kind", lit("exception")).as[ApplyOutcome]
        .dropDuplicates("schema", "table", "pk", "lastSeq")
    else spark.emptyDataset[ApplyOutcome]

  /** Merge one parsed micro-batch into the snapshot with the distributed
    * apply, in one write, while `alongside` (the step's event emission) runs
    * on the calling thread. `records` is built on the writing thread, so its
    * planning overlaps the emission too. The commit runs only after both have
    * returned and only if both succeeded (see the class doc). Snapshot rows
    * re-enter the apply as LOAD records at seq 0 (below any change seq).
    */
  def mergeBatch(records: => Dataset[CdcRecord], alongside: => Unit = ()): Unit = {
    recover()
    Overlap.run {
      CdcApply.run(spark, loadState().union(records))
        .write.mode(SaveMode.Overwrite).partitionBy("kind").parquet(stateTmpPath.toString)
    }(alongside)
    moveExceptions()
    swapState()
  }
}
