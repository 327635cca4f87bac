package graft.perfbench

/** The result line the benchmark prints last: the output-check verdict,
  * attempted and failed operations, and every metric with its unit.
  */
object Json {

  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  final case class Metric(name: String, value: Double, unit: String)

  def resultLine(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[Metric]): String = {
    val ms = metrics.map { m =>
      require(!m.value.isNaN && !m.value.isInfinite, s"metric ${m.name} is ${m.value}")
      s""""${esc(m.name)}": {"value": ${m.value}, "unit": "${esc(m.unit)}"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
