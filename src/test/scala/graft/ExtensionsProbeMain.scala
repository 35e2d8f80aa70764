package graft

import org.apache.spark.sql.SparkSession

/** Child-JVM probe for `GraftExtensionsSpec`: builds a fresh session, with
  * `.withExtensions(new GraftExtensions)` unless the first argument is
  * `plain`, and calls two injected functions in SQL. Prints one `[probe]`
  * line; exits 0 when SQL resolved them, 1 when it did not.
  */
object ExtensionsProbeMain {
  def main(args: Array[String]): Unit = {
    val b = SparkSession.builder().master("local[1]").appName("graft-extensions-probe")
    val spark =
      (if (args.headOption.contains("plain")) b else b.withExtensions(new GraftExtensions))
        .getOrCreate()
    val code =
      try {
        val r = spark.sql(
          "SELECT cosine_sim(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS c, " +
            "hyperplane_sig(array(1.0D)) AS h").head()
        println(s"[probe] cosine_sim=${r.getDouble(0)} hyperplane_sig=${r.getLong(1)}")
        0
      } catch {
        case e: org.apache.spark.sql.AnalysisException =>
          println(s"[probe] unresolved: ${e.getMessage.linesIterator.next()}")
          1
      } finally spark.stop()
    sys.exit(code)
  }
}
