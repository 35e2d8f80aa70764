package dmsbench

import org.scalatest.funsuite.AnyFunSuite
import graft.etl.ReferenceFixtures

class ModelSpec extends AnyFunSuite {
  private val tables = Seq("employee", "department", "project")

  test("model reproduces the golden full load: 16 events = 3 drop + 3 create + 10 load") {
    val m = new ReplicationModel(tables)
    m.fullLoad(ReferenceFixtures.fullLoadCsvs.map { case (t, body) =>
      t -> body.linesIterator.map(_.split(",").toSeq).toSeq
    }, seedState = false)
    val c = m.eventCounts
    assert(c.values.sum == 16)
    assert(c.filter(_._1._2 == "load") ==
      Map(("employee", "load") -> 4L, ("department", "load") -> 3L, ("project", "load") -> 3L))
    assert(c.filter(_._1._2 == "drop-table").values.sum == 3)
    assert(c.filter(_._1._2 == "create-table").values.sum == 3)
  }

  test("model reproduces the golden CDC: 15 events, final state hr.department#204, one exception") {
    val m = new ReplicationModel(tables)
    m.startCdc()
    ReplicationModel.goldenOps.foreach(m.apply)
    val byOp = m.eventCounts.groupMapReduce(_._1._2)(_._2)(_ + _)
    assert(m.eventCounts.values.sum == 15)
    assert(byOp == Map("create-table" -> 4L, "insert" -> 4L, "update" -> 3L, "delete" -> 4L))
    assert(m.stateKeys == Seq("hr.department#204"))
    assert(m.exceptions == 1)
  }

  test("generator is a function of its seed and yields exceptions from its own op stream") {
    def run(seed: Long) = {
      val g = new HrGenerator(seed, 200)
      val m = new ReplicationModel(tables)
      m.fullLoad(g.fullLoad())
      m.startCdc()
      Seq.fill(5)(g.changeFile(100)).flatten.foreach(m.apply)
      (m.stateRows, m.stateHash, m.exceptions, m.eventCounts)
    }
    assert(run(7) == run(7))
    assert(run(7) != run(8))
    assert(run(7)._3 > 0)
  }
}
