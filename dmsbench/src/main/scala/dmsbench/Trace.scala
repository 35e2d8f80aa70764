package dmsbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

final case class Span(name: String, parent: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: every job submitted while the span
  * was the thread's `dmsbench.span` local property (streaming threads
  * inherit it from the thread that started them).
  */
final class SparkCounters {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val runNs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val inputRecords = new AtomicLong
}

/** Spans and counters recorded from the benchmark's own code, around its
  * calls into the engine. With tracing off, spans still time the measured
  * operations but nothing is kept and no Spark listener is installed.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[String, java.util.concurrent.atomic.DoubleAdder]()
  private val spark = new ConcurrentHashMap[String, SparkCounters]()
  private val stack = new ThreadLocal[List[String]] { override def initialValue(): List[String] = Nil }
  private var sc: Option[SparkContext] = None

  val SpanProperty = "dmsbench.span"

  def attach(context: SparkContext): Unit = {
    sc = Some(context)
    if (enabled) context.addSparkListener(new Listener)
  }

  /** Runs `f` as span `name` and returns its result and wall seconds. */
  def timed[T](name: String)(f: => T): (T, Double) = {
    val parent = stack.get.headOption.getOrElse("")
    val prevProp = sc.map(_.getLocalProperty(SpanProperty))
    stack.set(name :: stack.get)
    sc.foreach(_.setLocalProperty(SpanProperty, name))
    val s = System.nanoTime()
    try {
      val r = f
      (r, (System.nanoTime() - s) / 1e9)
    } finally {
      val e = System.nanoTime()
      stack.set(stack.get.tail)
      sc.foreach(_.setLocalProperty(SpanProperty, prevProp.orNull))
      if (enabled) spans.synchronized(spans += Span(name, parent, s - t0, e - t0))
    }
  }

  def span[T](name: String)(f: => T): T = timed(name)(f)._1

  def add(name: String, v: Double): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new java.util.concurrent.atomic.DoubleAdder).add(v)

  def counter(name: String): Double = Option(counters.get(name)).map(_.sum).getOrElse(0.0)

  def sparkOf(span: String): SparkCounters = spark.computeIfAbsent(span, _ => new SparkCounters)

  def spansNamed(p: String => Boolean): Seq[Span] = spans.synchronized(spans.filter(s => p(s.name)).toSeq)

  /** Spark counters summed over spans whose name satisfies `p`. */
  def sparkSum(p: String => Boolean): Map[String, Double] = {
    val cs = spark.asScala.collect { case (k, v) if p(k) => v }.toSeq
    def s(f: SparkCounters => AtomicLong): Double = cs.map(f(_).get.toDouble).sum
    Map(
      "jobs" -> s(_.jobs), "tasks" -> s(_.tasks),
      "task_cpu_s" -> s(_.cpuNs) / 1e9, "gc_s" -> s(_.gcMs) / 1e3,
      "shuffle_bytes" -> s(_.shuffleBytes), "spill_bytes" -> s(_.spillBytes),
      "input_records" -> s(_.inputRecords), "task_run_s" -> s(_.runNs) / 1e9)
  }

  /** Writes spans and counters as one JSON document. */
  def write(path: java.nio.file.Path, extra: Map[String, Any]): Unit = {
    val spanJson = spans.synchronized(spans.toSeq).map(s => Map(
      "name" -> s.name, "parent" -> s.parent, "start_s" -> s.startNs / 1e9,
      "end_s" -> s.endNs / 1e9, "run_id" -> runId))
    val counterJson = counters.asScala.map { case (k, v) => k -> v.sum }.toMap
    val sparkJson = spark.asScala.map { case (k, _) => k -> sparkSum(_ == k) }.toMap
    java.nio.file.Files.writeString(path, Json.render(Map(
      "run_id" -> runId, "spans" -> spanJson, "counters" -> counterJson,
      "spark" -> sparkJson) ++ extra))
  }

  private final class Listener extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, String]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty))).getOrElse("unattributed")
      sparkOf(span).jobs.incrementAndGet()
      e.stageIds.foreach(id => stageSpan.put(id, span))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val c = sparkOf(Option(stageSpan.get(e.stageId)).getOrElse("unattributed"))
        c.tasks.incrementAndGet()
        c.runNs.addAndGet(m.executorRunTime * 1000000L)
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.inputRecords.addAndGet(m.inputMetrics.recordsRead)
      }
    }
  }
}
