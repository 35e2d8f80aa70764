package dmsbench

import org.apache.spark.sql.DataFrame
import graft.etl.{EventRecord, EventSink}

/** `EventSink` wrapper that times the sink layer. `append` time is the sink
  * busy writing; `appendOrdered` time minus the appends inside it is the
  * driver waiting on the ordered stream of the batch. `beforeBatch` runs at
  * the start of every ordered batch (the state-dir walk hooks in there).
  */
final class TracingSink(inner: EventSink, tracer: Tracer, beforeBatch: () => Unit = () => ())
    extends EventSink {
  private val inOrdered = new ThreadLocal[Boolean] { override def initialValue(): Boolean = false }

  override def append(events: Seq[(String, String)]): Unit = {
    val s = System.nanoTime()
    inner.append(events)
    val dt = (System.nanoTime() - s) / 1e9
    tracer.add("etl.sink.append_s", dt)
    if (inOrdered.get) tracer.add("etl.sink.append_in_ordered_s", dt)
    tracer.add("etl.sink.events", events.size.toDouble)
  }

  override def appendOrdered(events: DataFrame): Unit = {
    if (tracer.enabled) beforeBatch()
    val s = System.nanoTime()
    inOrdered.set(true)
    try super.appendOrdered(events)
    finally {
      inOrdered.set(false)
      tracer.add("etl.sink.ordered_s", (System.nanoTime() - s) / 1e9)
    }
  }

  override def all: Seq[EventRecord] = inner.all
}
