package dmsbench

import java.nio.file.{Files, Paths}

/** Records the expected outputs of a query workload.
  *
  * Output fingerprints come from correctness dumps written by
  * `graft.Verify` (one parquet directory per key) that passed
  * `tools/selfcheck.py` against DuckDB; plan fingerprints come from one
  * live execution of each key. Prints, per key, whether the live output
  * equals the dump.
  *
  * Usage: Record <workloads.json> <workload> <verifyOutDir> <out.json>
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(specPath, name, dumps, out) = args
    val spec = new Spec(specPath)
    val sfDir = spec.str(name, "sf_dir")
    val keys = spec.strs(name, "keys")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Main.session(cores, Files.createTempDirectory("dmsbench-record"))
    val rows = keys.sorted.map { k =>
      val dumped = Fingerprint.drain(spark.read.parquet(s"$dumps/$k"))
      val df = graft.SparkEntry.queries(k)(spark, sfDir)
      val live = Fingerprint.drain(df)
      val plan = PlanShape.of(df).fingerprint
      System.err.println(s"[record] $k dump=${dumped.render} live=${live.render} ${if (dumped == live) "same" else "DIFFERENT"}")
      (k, dumped.render, plan)
    }
    Files.writeString(Paths.get(out), Json.render(Map(
      "outputs" -> scala.collection.immutable.ListMap(rows.map(r => r._1 -> r._2): _*),
      "plans" -> scala.collection.immutable.ListMap(rows.map(r => r._1 -> r._3): _*))) + "\n")
    spark.stop()
  }
}
