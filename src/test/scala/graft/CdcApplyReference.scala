package graft

import graft.cdc.{ApplyOutcome, CdcApply, CdcRecord}

/** Driver-side sequential apply: the reference that the distributed
  * `CdcApply.run` is tested against. No replication path calls it;
  * `TaskRunner` always merges through `DurableCdcState`.
  */
object CdcApplyReference {
  def runLocal(records: Seq[CdcRecord]): Seq[ApplyOutcome] =
    records
      .groupBy(r => (r.schema, r.table, r.pk))
      .toSeq
      .flatMap { case ((schema, table, pk), ops) => CdcApply.foldKey(schema, table, pk, ops) }
      .sortBy(o => (o.kind, o.schema, o.table, o.pk))
}
