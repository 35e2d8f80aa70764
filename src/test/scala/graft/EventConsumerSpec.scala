package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{EventConsumer, MemoryEventSink}

/** `EventConsumer.consume` (O11-O13): batched reads from the start of the
  * stream, the arrival-time threshold and the count-bounded early stop.
  */
class EventConsumerSpec extends AnyFunSuite {

  test("consume keeps events after the threshold, in seq order, and stops at the expected count") {
    val sink = new MemoryEventSink
    sink.append((0 until 3).map(i => ("hr.employee", s"""{"before":$i}""")))
    val t = System.currentTimeMillis()
    Thread.sleep(2)
    sink.append((0 until 4).map(i => ("hr.employee", s"""{"after":$i}""")))
    val later = sink.all.drop(3)
    assert(later.forall(_.arrivalTs > t))

    assert(EventConsumer.consume(sink, expected = 3, thresholdMs = t, batchLimit = 2) == later.take(3))
    assert(EventConsumer.consume(sink, expected = 10, thresholdMs = t, batchLimit = 2) == later)
    assert(EventConsumer.consume(sink, expected = 5, thresholdMs = 0L) == sink.all.take(5))
  }
}
