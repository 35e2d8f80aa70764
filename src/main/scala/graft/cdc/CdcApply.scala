package graft.cdc

import org.apache.spark.sql.{Dataset, SparkSession}
import scala.collection.mutable.ListBuffer

/** Outcome of applying an ordered change set: final row states plus apply
  * exceptions (the reference's `awsdms_apply_exceptions` side channel).
  *
  * `kind` is "state" (a surviving row) or "exception" (an op that targeted a
  * missing/duplicate PK — reference exercises DELETE on never-inserted
  * department PK 301, lib/query.py:25; the event is still emitted, only the
  * apply records the exception, README.md:84).
  */
final case class ApplyOutcome(
    kind: String,
    schema: String,
    table: String,
    pk: String,
    values: Seq[String],
    lastSeq: Long,
    error: String
)

/** Ordered CDC apply (reference operator O6).
  *
  * Semantics induced by DMS `migration_type="cdc"` (stack.py:87) and pinned by
  * the fixture data: INSERT adds a row; UPDATE replaces the row with matching
  * PK (full row image); DELETE removes it; UPDATE/DELETE on a missing PK and
  * INSERT on an existing PK raise apply exceptions (row state unchanged for
  * the failed op, except INSERT-on-existing which DMS treats as replace —
  * we record the exception and keep last image).
  *
  * Scale design: the fold is per-PK and Spark distributes it with
  * `groupByKey((schema, table, pk))` — state for one key never leaves one
  * task, there is exactly one shuffle (by key), and op lists per PK are tiny
  * regardless of total volume. At 100 TB this is the same shape as a
  * shuffle-hash "merge-on-read" compaction; no driver-side state.
  */
object CdcApply {
  import CdcParser._

  /** Sequential fold for one PK's ordered op list. Pure, unit-testable. */
  def foldKey(
      schema: String,
      table: String,
      pk: String,
      ops: Seq[CdcRecord]
  ): Seq[ApplyOutcome] = {
    val out = ListBuffer.empty[ApplyOutcome]
    var current: Option[CdcRecord] = None
    ops.sortBy(_.seq).foreach { o =>
      o.op match {
        case OpLoad =>
          current = Some(o)
        case OpInsert =>
          if (current.isDefined)
            out += ApplyOutcome("exception", schema, table, pk, o.values, o.seq,
              s"duplicate insert for existing key $pk")
          current = Some(o)
        case OpUpdate =>
          if (current.isEmpty)
            out += ApplyOutcome("exception", schema, table, pk, o.values, o.seq,
              s"update for missing key $pk")
          else current = Some(o)
        case OpDelete =>
          if (current.isEmpty)
            out += ApplyOutcome("exception", schema, table, pk, o.values, o.seq,
              s"delete for missing key $pk")
          else current = None
        case other =>
          out += ApplyOutcome("exception", schema, table, pk, o.values, o.seq,
            s"unknown operation $other")
      }
    }
    current.foreach { o =>
      out += ApplyOutcome("state", schema, table, pk, o.values, o.seq, "")
    }
    out.toSeq
  }

  /** Distributed apply: one shuffle on (schema, table, pk), then a local fold
    * per key. `records` may include seq-0 `LOAD` rows to seed full-load state.
    */
  def run(spark: SparkSession, records: Dataset[CdcRecord]): Dataset[ApplyOutcome] = {
    import spark.implicits._
    records
      .groupByKey(r => (r.schema, r.table, r.pk))
      .flatMapGroups { (key: (String, String, String), it: Iterator[CdcRecord]) =>
        foldKey(key._1, key._2, key._3, it.toSeq).iterator
      }
  }
}
