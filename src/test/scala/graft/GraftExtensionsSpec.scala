package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.scalatest.funsuite.AnyFunSuite

/** The injected-function surface: a session built `.withExtensions(new
  * GraftExtensions)` resolves the functions in SQL (checked in a child JVM,
  * [[ExtensionsProbeMain]]: in this JVM `getOrCreate` would return the
  * shared plain session and silently ignore the extension), injection
  * registers without error, and the same builders are callable through the
  * temp-function registration path on the shared session.
  */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  /** Runs [[ExtensionsProbeMain]] in a fresh JVM on this JVM's classpath and
    * module options; returns its exit code and its `[probe]` lines.
    */
  private def probe(args: String*): (Int, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx")).toSeq
    val cmd = Seq(sys.props("java.home") + "/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"), "graft.ExtensionsProbeMain") ++ args
    val log = java.nio.file.Files.createTempFile("graft-extensions-probe", ".log")
    val p = new ProcessBuilder(cmd.asJava)
      .redirectErrorStream(true).redirectOutput(log.toFile).start()
    if (!p.waitFor(3, java.util.concurrent.TimeUnit.MINUTES)) {
      p.destroyForcibly()
      fail(s"probe JVM timed out (log: $log)")
    }
    val lines = java.nio.file.Files.readAllLines(log).asScala.filter(_.startsWith("[probe]")).toSeq
    java.nio.file.Files.delete(log)
    (p.exitValue(), lines)
  }

  test("withExtensions resolves cosine_sim and hyperplane_sig in a fresh JVM") {
    val (code, lines) = probe()
    assert(code == 0, lines)
    assert(lines.size == 1 && lines.head.startsWith("[probe] cosine_sim=1.0 hyperplane_sig="), lines)
    // control: the same fresh session without the extension cannot resolve them
    val (plainCode, plainLines) = probe("plain")
    assert(plainCode == 1, plainLines)
    assert(plainLines.exists(_.contains("cosine_sim")), plainLines)
  }

  test("extension injection applies cleanly") {
    new GraftExtensions().apply(new SparkSessionExtensions) // must not throw
  }

  test("same builders work via SQL on the shared session (temp registration)") {
    graft.functions.CosineSimilarity.register(spark)
    graft.functions.LshFunctions.register(spark)
    graft.functions.BoundedTopK.register(spark)
    graft.functions.SetOps.register(spark)
    val r = spark.sql(
      """SELECT
        |  cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
        |  hyperplane_sig(array(1.0D, 1.0D)) AS h,
        |  minhash_sig(array(5L, 9L))[0] AS m,
        |  sorted_intersect_size(array(1L, 3L, 7L), array(3L, 5L, 7L, 9L)) AS s""".stripMargin).head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getLong(1) >= 0L)
    assert(r.getLong(2) >= 0L)
    assert(r.getInt(3) == 2)
    val agg = spark.sql(
      """SELECT g, size(bounded_topk(sc, id, 2)) FROM VALUES
        |  (1, 5.0D, 10L), (1, 6.0D, 11L), (1, 7.0D, 12L) AS t(g, sc, id)
        |GROUP BY g""".stripMargin).head()
    assert(agg.getInt(1) == 2)
  }

  test("wrong-arity calls fail with the expected signature, not an index error") {
    graft.functions.SetOps.register(spark)
    val e1 = intercept[Exception] {
      spark.sql("SELECT sorted_intersect_size(array(1L))").head()
    }
    assert(e1.getMessage.contains("sorted_intersect_size"), e1.getMessage)
  }

  test("EVERY injected builder rejects wrong arity, naming itself and its usage") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    // no registered function takes 9 args; a builder that indexes exprs(i)
    // unchecked would throw IndexOutOfBounds on TOO FEW instead, so probe
    // both directions
    val none = Seq.empty[Expression]
    val many = Seq.fill(9)(Literal(1L): Expression)
    GraftExtensions.builders.foreach { case (fid, _, builder) =>
      Seq(none, many).foreach { args =>
        val e = intercept[IllegalArgumentException](builder(args))
        assert(e.getMessage.contains(fid.funcName), s"${fid.funcName}: ${e.getMessage}")
        assert(e.getMessage.contains("usage"), s"${fid.funcName}: ${e.getMessage}")
      }
    }
  }

  test("int-backed arrays coerce to long through the temp registration path") {
    // array(1, 3, 7) is ArrayType(IntegerType): without the shared Cast the
    // expression hits ArrayData.getLong on int storage (round-4 drift bug)
    graft.functions.SetOps.register(spark)
    graft.functions.LshFunctions.register(spark)
    val r = spark.sql(
      """SELECT sorted_intersect_size(array(1, 3, 7), array(3, 7, 9)) AS s,
        |       minhash_sig(array(5, 9))[0] AS m""".stripMargin).head()
    assert(r.getInt(0) == 2)
    assert(r.getLong(1) >= 0L)
  }

  test("sorted_intersect_size matches size(array_intersect) on sorted distinct sets") {
    graft.functions.SetOps.register(spark)
    // deterministic pseudo-random set pairs, incl. empty and disjoint
    val rows = spark.sql(
      """SELECT
        |  array_sort(array_distinct(transform(sequence(1, i % 40), k -> CAST((k * 2654435761) % (i + 13) AS BIGINT)))) AS a,
        |  array_sort(array_distinct(transform(sequence(1, (i * 7) % 40), k -> CAST((k * 40503) % (i + 7) AS BIGINT)))) AS b
        |FROM (SELECT explode(sequence(0, 200)) AS i)""".stripMargin)
    val mismatches = rows.selectExpr(
      "sorted_intersect_size(a, b) AS fast",
      "size(array_intersect(a, b)) AS ref"
    ).filter("fast <> ref").count()
    assert(mismatches == 0)
  }
}
