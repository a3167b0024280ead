package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.collection.mutable

/** Everything one invocation measured: operation counts, named metrics
  * with units, free-form stamps (regimes, input shape, digests) and the
  * trace's spans. Rendered as one JSON object into the work directory. */
final class Report(val workload: String, val seed: Long, val trace: Boolean) {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val stamps = mutable.LinkedHashMap.empty[String, Any]
  val problems = mutable.ArrayBuffer.empty[String]
  var spans: Seq[(Span, Double)] = Nil

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def stamp(name: String, value: Any): Unit = stamps(name) = value

  /** Record one operation; a false `ok` counts it as failed. */
  def op(ok: Boolean, what: => String = ""): Unit = {
    attempted += 1
    if (!ok) { failed += 1; problems += what }
  }

  def toJson: String = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(
    mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "stamps" -> stamps,
      "problems" -> problems,
      "spans" -> spans.map { case (s, self) =>
        Map("name" -> s.name, "parent" -> s.parent, "wall_s" -> s.seconds, "self_s" -> self) }))
}
