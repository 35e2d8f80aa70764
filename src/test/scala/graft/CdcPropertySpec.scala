package graft

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc.{CdcApply, CdcParser, CdcRecord}

/** Property-based coverage promised in SURVEY §5.4: CDC apply semantics under
  * random op sequences (vs an independently written state simulator, plus
  * seq-permutation invariance and local-vs-distributed equality), and the
  * envelope `from_json ∘ to_json = id` round-trip.
  */
class CdcPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def check(prop: Prop, cases: Int = 200): Unit = PropCheck.check(prop, cases)

  private val genOps: Gen[(Boolean, List[String])] = for {
    seeded <- Gen.oneOf(true, false)
    n <- Gen.choose(0, 12)
    ops <- Gen.listOfN(n, Gen.oneOf(CdcParser.OpInsert, CdcParser.OpUpdate, CdcParser.OpDelete))
  } yield (seeded, ops)

  private def records(seeded: Boolean, ops: List[String]): Seq[CdcRecord] = {
    val seed = if (seeded)
      Seq(CdcRecord(0L, CdcParser.OpLoad, "hr", "t", "101", Seq("101", "seed")))
    else Nil
    seed ++ ops.zipWithIndex.map { case (op, i) =>
      CdcRecord(i + 1L, op, "hr", "t", "101", Seq("101", s"v$i"))
    }
  }

  /** Independent re-implementation of the apply state machine: presence flag +
    * exception count + surviving image. Deliberately not sharing code with
    * CdcApply.foldKey.
    */
  private def simulate(seeded: Boolean, ops: List[String]): (Option[String], Int) = {
    var image: Option[String] = if (seeded) Some("seed") else None
    var exc = 0
    ops.zipWithIndex.foreach { case (op, i) =>
      op match {
        case CdcParser.OpInsert =>
          if (image.isDefined) exc += 1
          image = Some(s"v$i")
        case CdcParser.OpUpdate =>
          if (image.isEmpty) exc += 1 else image = Some(s"v$i")
        case CdcParser.OpDelete =>
          if (image.isEmpty) exc += 1 else image = None
      }
    }
    (image, exc)
  }

  test("foldKey matches an independent state simulator on random op sequences") {
    check(Prop.forAll(genOps) { case (seeded, ops) =>
      val out = CdcApply.foldKey("hr", "t", "101", records(seeded, ops))
      val (image, exc) = simulate(seeded, ops)
      val states = out.filter(_.kind == "state")
      states.length == image.size &&
        states.headOption.map(_.values(1)) == image &&
        out.count(_.kind == "exception") == exc
    })
  }

  test("foldKey is invariant under input permutation (seq defines the order)") {
    check(Prop.forAll(genOps, Gen.long) { case ((seeded, ops), permSeed) =>
      val recs = records(seeded, ops)
      val shuffled = new scala.util.Random(permSeed).shuffle(recs)
      CdcApply.foldKey("hr", "t", "101", recs) ==
        CdcApply.foldKey("hr", "t", "101", shuffled)
    })
  }

  test("distributed apply equals the local fold on a random multi-key corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(12345L)
    val ops = Seq(CdcParser.OpInsert, CdcParser.OpUpdate, CdcParser.OpDelete)
    val recs = (1 to 600).map { i =>
      val key = rnd.nextInt(40)
      CdcRecord(i.toLong, ops(rnd.nextInt(3)),
        s"s${key % 3}", s"t${key % 7}", s"pk$key", Seq(s"pk$key", s"v$i"))
    }
    val dist = CdcApply.run(spark, spark.createDataset(recs)).collect()
      .sortBy(o => (o.kind, o.schema, o.table, o.pk, o.lastSeq)).toSeq
    val local = CdcApplyReference.runLocal(recs)
      .sortBy(o => (o.kind, o.schema, o.table, o.pk, o.lastSeq))
    assert(dist == local)
  }

  test("envelope data round-trips: from_json(to_json(row)) = row (nulls and empties retained)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(4242L)
    val src = (1 to 200).map { i =>
      val name = rnd.nextInt(4) match {
        case 0 => null
        case 1 => ""
        case 2 => s"n$i"
        case _ => s"x,y\"${i}" // exercise JSON escaping
      }
      (i.toLong, name, if (rnd.nextBoolean()) null else s"c$i")
    }.toDF("id", "name", "city")
    val env = graft.etl.Envelope.forData(
      src, "hr", "employee", lit("load"), lit("2026-01-01T00:00:00Z"), lit(7L))
    val ddl = "data STRUCT<id: BIGINT, name: STRING, city: STRING>, " +
      "metadata STRUCT<`schema-name`: STRING, `table-name`: STRING, operation: STRING>"
    val back = env
      .select(from_json($"envelope", ddl, Map.empty[String, String]).as("e"))
      .select($"e.data.id".as("id"), $"e.data.name".as("name"), $"e.data.city".as("city"))
    val a = src.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val b = back.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
  }
}
