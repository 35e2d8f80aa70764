package dmsbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.json4s._

/** Workload settings read from `dmsbench/workloads.json`. */
final class Spec(path: String) {
  private implicit val formats: Formats = DefaultFormats
  private val root = org.json4s.jackson.JsonMethods.parse(Files.readString(Paths.get(path)))

  def workload(name: String): JValue = {
    val w = root \ "workloads" \ name
    require(w != JNothing, s"unknown workload $name")
    w
  }
  def kind(name: String): String = (workload(name) \ "kind").extract[String]
  def int(name: String, field: String): Int = (workload(name) \ field).extract[Int]
  def str(name: String, field: String): String = (workload(name) \ field).extract[String]
  def strs(name: String, field: String): Seq[String] = (workload(name) \ field).extractOpt[Seq[String]].getOrElse(Nil)

  def dms(name: String): DmsConfig = DmsConfig(
    int(name, "employees"), int(name, "ops_per_file"), int(name, "interval_ms").toLong,
    int(name, "burst_files"), int(name, "full_loads"), int(name, "warm_employees"), int(name, "warm_files"))

  /** Recorded output fingerprints and plan fingerprints of a query workload. */
  def expected(name: String): (Map[String, Fingerprint], Map[String, String]) = {
    val e = org.json4s.jackson.JsonMethods.parse(Files.readString(Paths.get(str(name, "expected"))))
    ((e \ "outputs").extract[Map[String, String]].map { case (k, v) => k -> Fingerprint.parse(v) },
      (e \ "plans").extractOpt[Map[String, String]].getOrElse(Map.empty))
  }
}

/** One benchmark run of one workload in this JVM. Prints a single
  * `DMSBENCH_RESULT {...}` line that `run.py` turns into the result line.
  *
  * Usage: Main --spec <workloads.json> --workload <name> --seed <n>
  *   --seconds <n> --trace <0|1> --work <dir> --cores <n> [--trace-file <f>]
  */
object Main {
  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("dmsbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spec = new Spec(opts("spec"))
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val work = Files.createDirectories(Paths.get(opts("work")))
    val tracer = new Tracer(opts("trace") == "1", s"$name-seed$seed-${ProcessHandle.current.pid}")

    val spark = session(opts("cores").toInt, work)
    tracer.attach(spark.sparkContext)
    val outcome = spec.kind(name) match {
      case "dms" =>
        new DmsReplicate(spark, tracer, spec.dms(name), seed, seconds, work.resolve("dms")).run(jvmStartMs)
      case "queries" =>
        val (outputs, plans) = spec.expected(name)
        // a fixed pass count per run length: stopping on the clock would let
        // a fast run take more passes, and its later, warmer passes would
        // lower its medians
        val passes = math.max(1, math.ceil(seconds.toDouble / spec.int(name, "pass_seconds")).toInt)
        new QueryWorkload(spark, tracer, spec.str(name, "sf_dir"), spec.strs(name, "keys"), outputs, plans,
          spec.strs(name, "hot_keys"), seed, passes).run(jvmStartMs)
    }
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
    val endToEnd = outcome.endToEnd
    val perLayer = outcome.perLayer ++ Map(
      "failed_frac" -> outcome.failed.toDouble / math.max(outcome.attempted, 1L),
      "peak_rss_mb" -> peakRssMb())
    opts.get("trace-file").filter(_ => tracer.enabled).foreach { f =>
      tracer.write(Paths.get(f), Map("workload" -> name, "seed" -> seed, "per_layer" -> perLayer,
        "end_to_end" -> endToEnd, "notes" -> outcome.notes))
    }
    println("DMSBENCH_RESULT " + Json.render(Map(
      "workload" -> name, "seed" -> seed,
      "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "problems" -> outcome.problems, "end_to_end" -> endToEnd,
      "per_layer" -> perLayer, "notes" -> outcome.notes)))
    spark.stop()
  }
}
