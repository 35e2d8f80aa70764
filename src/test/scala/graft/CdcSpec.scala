package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.cdc._
import graft.etl.{Envelope, ReferenceFixtures}

class CdcSpec extends AnyFunSuite {

  test("parser handles the reference grammar incl. variable arity") {
    val r = CdcParser.parseLine(1, "INSERT,employee,hr,101,Smith,Bob,2014-06-04,New York")
    assert(r == CdcRecord(1, "INSERT", "hr", "employee", "101",
      Seq("101", "Smith", "Bob", "2014-06-04", "New York")))
    val short = CdcParser.parseLine(2, "INSERT,department,hr,204,Software")
    assert(short.table == "department" && short.values == Seq("204", "Software"))
    // op, TABLE, schema order — not op, schema, table
    assert(short.schema == "hr")
    assertThrows[IllegalArgumentException](CdcParser.parseLine(3, "INSERT,employee"))
  }

  test("envelope field encoding: integers bare, everything else a JSON string") {
    val j = Envelope.jsonValue _
    assert(j("101") == "101")
    assert(j("-7") == "-7")
    assert(j("007") == "\"007\"")
    assert(j("-") == "\"-\"")
    assert(j("") == "\"\"")
    assert(j("3.50") == "\"3.50\"")
    assert(j("1e3") == "\"1e3\"")
    assert(j(" 12") == "\" 12\"")
    assert(j("12\n") == "\"12\\n\"")
    assert(j("say \"hi\"") == "\"say \\\"hi\\\"\"")
    assert(j("C:\\tmp") == "\"C:\\\\tmp\"")
    assert(j(null) == "null")
  }

  test("parseLines keeps file × row order and skips blanks") {
    val recs = CdcParser.parseLines(Seq("INSERT,a,s,1", "", "DELETE,a,s,1"))
    assert(recs.map(_.seq) == Seq(1L, 2L))
    assert(recs.map(_.op) == Seq("INSERT", "DELETE"))
    // the stream's rule: file seq × stride + the number among non-blank rows
    val filed = CdcParser.parseLines(Seq(" ", "INSERT,a,s,1", "\t", "DELETE,a,s,1"), fileSeq = 7)
    assert(filed.map(_.seq) == Seq(7000001L, 7000002L))
    val full = Seq.fill(CdcParser.SeqStride.toInt)("INSERT,a,s,1")
    assert(CdcParser.parseLines(full.tail, fileSeq = 1).last.seq == 2 * CdcParser.SeqStride - 1)
    intercept[IllegalArgumentException](CdcParser.parseLines(full, fileSeq = 1))
  }

  test("golden: cdc file 1 nets to an empty employee table") {
    val recs = CdcParser.parseLines(ReferenceFixtures.cdcFile1.linesIterator.toSeq)
    val out = CdcApplyReference.runLocal(recs)
    assert(out.count(_.kind == "state") == 0)
    assert(out.count(_.kind == "exception") == 0)
  }

  test("golden: both cdc files → only department 204 survives; 301 delete excepts") {
    val out = CdcApplyReference.runLocal(CdcParser.parseLines(ReferenceFixtures.cdcLines))
    val state = out.filter(_.kind == "state")
    assert(state.map(s => (s.schema, s.table, s.pk)) == Seq(("hr", "department", "204")))
    assert(state.head.values == Seq("204", "Software"))
    val ex = out.filter(_.kind == "exception")
    assert(ex.map(e => (e.table, e.pk)) == Seq(("department", "301")))
    assert(ex.head.error.contains("delete for missing key"))
  }

  test("exception paths: update-missing, delete-missing, duplicate-insert") {
    val ops = CdcParser.parseLines(Seq(
      "UPDATE,t,s,1,a", // missing → exception
      "INSERT,t,s,1,b",
      "INSERT,t,s,1,c", // duplicate → exception, last image wins
      "DELETE,t,s,2,x" // missing → exception
    ))
    val out = CdcApplyReference.runLocal(ops)
    assert(out.count(_.kind == "exception") == 3)
    val state = out.filter(_.kind == "state")
    assert(state.map(_.values) == Seq(Seq("1", "c")))
  }

  test("property: per-PK fold = last-op-wins; insensitive to input order (seeded random)") {
    val rnd = new scala.util.Random(42)
    val opsPool = Array("INSERT", "UPDATE", "DELETE")
    (1 to 200).foreach { _ =>
      val n = 1 + rnd.nextInt(12)
      val ops = Seq.fill(n)(opsPool(rnd.nextInt(3)))
      val recs = ops.zipWithIndex.map { case (op, i) =>
        CdcRecord(i + 1L, op, "s", "t", "1", Seq("1", s"v$i"))
      }
      val out = CdcApply.foldKey("s", "t", "1", recs)
      val state = out.filter(_.kind == "state")
      // independent model: sequential fold of full-row-image semantics
      var img: Option[Seq[String]] = None
      recs.foreach { r =>
        r.op match {
          case "INSERT" => img = Some(r.values)
          case "UPDATE" => if (img.isDefined) img = Some(r.values)
          case "DELETE" => img = None
        }
      }
      assert(state.map(_.values) == img.toSeq)
      // order-insensitivity: the fold sorts by seq
      val shuffled = rnd.shuffle(recs)
      assert(CdcApply.foldKey("s", "t", "1", shuffled) == out)
    }
  }
}
