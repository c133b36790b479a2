package graft.perfbench

/** The result file: `correct`, `attempted`, `failed` and the value of each
  * metric the run was asked for. The launcher attaches the units from
  * BENCHMARK.json.
  */
object Json {
  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    java.lang.Double.toString(v)
  }

  def result(o: Runner.Outcome, names: Seq[String], env: Map[String, Double]): String = {
    val values = o.metrics ++ env
    val metrics = names.map { n =>
      val v = values.getOrElse(n, throw new IllegalArgumentException(s"metric $n is not measured"))
      s""""$n":${num(v)}"""
    }.mkString(",")
    s"""{"correct":${o.failed == 0},"attempted":${o.attempted},"failed":${o.failed},""" +
      s""""metrics":{$metrics}}"""
  }
}
