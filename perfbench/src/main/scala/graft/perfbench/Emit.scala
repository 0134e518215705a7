package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.io.File
import scala.jdk.CollectionConverters._

/** The result line: the one JSON object the benchmark prints last. */
object Emit {

  final case class Metric(name: String, value: Double, unit: String)

  /** (name, unit) of the metrics `BENCHMARK.json` declares for a mode:
    * `end_to_end` untraced, `per_layer` traced. */
  def declared(benchmarkJson: File, traced: Boolean): Seq[(String, String)] = {
    val root = new ObjectMapper().readTree(benchmarkJson)
    root.get(if (traced) "per_layer" else "end_to_end").elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
  }

  /** Formats a number with every digit it was measured with. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    java.lang.Double.toString(v)
  }

  /** The result JSON. `metrics` must be exactly the declared set, each
    * with its declared unit; anything else is a benchmark bug and fails
    * loudly rather than printing a partial result. */
  def line(correct: Boolean, attempted: Long, failed: Long,
           metrics: Seq[Metric], declared: Seq[(String, String)]): String = {
    require(attempted >= 1, s"attempted must be at least 1, was $attempted")
    require(failed >= 0 && failed <= attempted, s"failed $failed out of range")
    val byName = metrics.groupBy(_.name)
    val dup = byName.collect { case (n, ms) if ms.size > 1 => n }
    require(dup.isEmpty, s"metrics emitted twice: ${dup.mkString(", ")}")
    val missing = declared.map(_._1).filterNot(byName.contains)
    val extra = byName.keySet -- declared.map(_._1)
    require(missing.isEmpty, s"declared metrics not measured: ${missing.mkString(", ")}")
    require(extra.isEmpty, s"metrics not declared: ${extra.toSeq.sorted.mkString(", ")}")
    val body = declared.map { case (name, unit) =>
      val m = byName(name).head
      require(m.unit == unit, s"$name measured in ${m.unit}, declared in $unit")
      s""""$name": {"value": ${num(m.value)}, "unit": "$unit"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }
}
