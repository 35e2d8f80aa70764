package dmsbench

import scala.collection.mutable

/** One change row as written to a `cdcNNNNNNNNNN.csv` file:
  * `OP,<table>,hr,<pk>,<values...>` (values include the pk).
  */
final case class ChangeOp(op: String, table: String, values: Vector[String]) {
  def pk: String = values.head
  def line: String = (Vector(op, table, "hr") ++ values).mkString(",")
}

/** Seeded generator for the `hr` source: full-load tables and CDC files.
  *
  * Employees get ids `1..e`, departments and projects `1..e/10`. New
  * employees continue the id sequence. Updates and deletes draw from every
  * id handed out so far, including deleted ones, so apply exceptions arise
  * from the op stream itself at a rate set by the delete share.
  */
final class HrGenerator(seed: Long, val employees: Int) {
  private val rnd = new scala.util.Random(seed)
  val departments: Int = math.max(1, employees / 10)
  val projects: Int = math.max(1, employees / 10)
  private var nextEmployee = employees + 1

  private val lastNames = Vector("Smith", "Jones", "Brown", "Garcia", "Miller", "Davis", "Lopez", "Wilson")
  private val firstNames = Vector("Bob", "Alice", "Carol", "Dan", "Erin", "Frank", "Grace", "Heidi")
  private val cities = Vector("New York", "Los Angeles", "Dallas", "Chicago", "Seattle", "Boston")

  private def pick(xs: Vector[String]): String = xs(rnd.nextInt(xs.size))
  private def date(): String = {
    val d = java.time.LocalDate.of(2010, 1, 1).plusDays(rnd.nextInt(5000).toLong)
    d.toString
  }
  private def employee(id: Int): Vector[String] =
    Vector(id.toString, pick(lastNames), pick(firstNames), date(), pick(cities))
  private def department(id: Int): Vector[String] =
    Vector(id.toString, s"Dept${rnd.nextInt(1000)}")
  private def project(id: Int): Vector[String] =
    Vector(id.toString, s"Project${rnd.nextInt(1000)}", s"Description${rnd.nextInt(100000)}")

  /** Full-load rows per table, in file order. Call once, before any CDC. */
  def fullLoad(): Map[String, Vector[Vector[String]]] = Map(
    "employee" -> (1 to employees).map(employee).toVector,
    "department" -> (1 to departments).map(department).toVector,
    "project" -> (1 to projects).map(project).toVector)

  /** One change file: ~60% employee UPDATE, 15% INSERT, 10% DELETE and 15%
    * department/project UPDATE.
    */
  def changeFile(ops: Int): Vector[ChangeOp] = Vector.fill(ops) {
    val u = rnd.nextInt(100)
    val known = nextEmployee - 1
    if (u < 60) ChangeOp("UPDATE", "employee", employee(1 + rnd.nextInt(known)))
    else if (u < 75) {
      val id = nextEmployee
      nextEmployee += 1
      ChangeOp("INSERT", "employee", employee(id))
    } else if (u < 85) ChangeOp("DELETE", "employee", employee(1 + rnd.nextInt(known)))
    else if (u < 93) ChangeOp("UPDATE", "department", department(1 + rnd.nextInt(departments)))
    else ChangeOp("UPDATE", "project", project(1 + rnd.nextInt(projects)))
  }
}

/** Independent sequential model of DMS replication, written for the
  * benchmark from the replication contract (not from the engine's apply
  * code): full load emits drop-table and create-table per table and one
  * `load` event per row; a CDC task emits create-table per table plus one
  * for `awsdms_apply_exceptions`, then one event per change row. State
  * applies rows in order: INSERT of a present key is an exception and
  * replaces the row; UPDATE or DELETE of an absent key is an exception and
  * changes nothing.
  */
final class ReplicationModel(tables: Seq[String]) {
  private val state = mutable.HashMap.empty[(String, String), Vector[String]]
  private val events = mutable.HashMap.empty[(String, String), Long].withDefaultValue(0L)
  private var exceptionCount = 0L

  private def emit(table: String, op: String, n: Long = 1L): Unit =
    events((table, op)) += n

  /** A full load; `seedState` is the full-load-and-cdc mode, where the
    * loaded rows become the state CDC applies to.
    */
  def fullLoad(rows: Map[String, Seq[Seq[String]]], seedState: Boolean = true): Unit = tables.foreach { t =>
    emit(t, "drop-table")
    emit(t, "create-table")
    val rs = rows.getOrElse(t, Seq.empty)
    emit(t, "load", rs.size.toLong)
    if (seedState) rs.foreach(r => state((t, r.head)) = r.toVector)
  }

  def startCdc(): Unit = {
    tables.foreach(t => emit(t, "create-table"))
    emit("awsdms_apply_exceptions", "create-table")
  }

  def apply(op: ChangeOp): Unit = {
    emit(op.table, op.op.toLowerCase)
    val key = (op.table, op.pk)
    op.op match {
      case "INSERT" =>
        if (state.contains(key)) exceptionCount += 1
        state(key) = op.values
      case "UPDATE" =>
        if (state.contains(key)) state(key) = op.values else exceptionCount += 1
      case "DELETE" =>
        if (state.contains(key)) state.remove(key) else exceptionCount += 1
      case other => throw new IllegalArgumentException(s"unknown op $other")
    }
  }

  def eventCounts: Map[(String, String), Long] = events.toMap
  def exceptions: Long = exceptionCount
  def stateRows: Long = state.size.toLong
  def stateHash: Long = state.iterator.map { case ((t, _), v) => ReplicationModel.rowHash(t, v) }.sum
  def stateKeys: Seq[String] = state.keys.toSeq.map { case (t, pk) => s"hr.$t#$pk" }.sorted
}

object ReplicationModel {
  /** Hash of one state row, shared by the model and the engine-side check. */
  def rowHash(table: String, values: Seq[String]): Long = {
    val s = table + "\u0001" + values.map(v => if (v == null) "\u0000" else v).mkString("\u0001")
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 17).toLong * 0x9E3779B97F4A7C15L +
      org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
        b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 91).toLong
  }

  /** The reference's golden change files as change ops. */
  def goldenOps: Seq[ChangeOp] =
    graft.etl.ReferenceFixtures.cdcLines.map { l =>
      val p = l.split(",", -1).map(_.trim).toVector
      ChangeOp(p(0), p(1), p.drop(3))
    }
}
