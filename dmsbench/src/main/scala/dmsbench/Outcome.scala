package dmsbench

/** What one workload run measured and checked. `endToEnd` and `perLayer`
  * map metric names to values; units live in BENCHMARK.json and are added
  * when the result line is printed.
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    problems: Seq[String],
    endToEnd: Map[String, Double],
    perLayer: Map[String, Double],
    notes: Map[String, Any]
)
