package graftbench

/** The little JSON the harness writes: its result line and trace spans. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  /** `{"correct":…,"attempted":…,"failed":…,"metrics":{name:{value,unit}}}` */
  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      metrics.map { case (n, v, u) =>
        s"""${str(n)}:{"value":${num(v)},"unit":${str(u)}}"""
      }.mkString(""""metrics":{""", ",", "}}")
}
