package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.io.File
import java.security.MessageDigest
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Expected outputs, stored in `perfbench/expected.json`. The aggregate
  * and list digests were checked once against DuckDB SQL over the same
  * inputs (`perfbench/oracle.py`); the curate report is the pipeline's
  * output at the commit that defined the benchmark. A run whose inputs
  * do not match the stored fingerprint fails before measuring. */
object Oracle {

  final case class Expected(fingerprint: String, agg: Map[String, String],
                            list: Map[String, String], curateReport: String)

  def expected(root: File): Expected = {
    val j = new ObjectMapper().readTree(new File(root, "perfbench/expected.json"))
    def strings(k: String) = j.get(k).fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    val e = Expected(j.get("fingerprint").asText(), strings("agg"), strings("list"),
      j.get("curate_report").asText())
    val actual = Inputs.fingerprint(Inputs.events(), CurateRun.mainDocs)
    require(e.fingerprint == actual,
      s"generated inputs $actual do not match expected.json (${e.fingerprint}); re-run perfbench/oracle.py")
    e
  }

  private def digest(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Digest of a time series: `ts,round(value * 1e6)` per point in time
    * order. The rounding absorbs last-place differences in floating sums
    * between engines. */
  def seriesDigest(points: Seq[(Long, Double)]): String =
    digest(points.sortBy(_._1).map { case (ts, v) => s"$ts,${math.floor(v * 1e6 + 0.5).toLong}" })

  /** Digest of a series list: `name|user` per series, sorted. */
  def listDigest(series: Seq[(String, String)]): String =
    digest(series.map { case (n, u) => s"$n|$u" }.sorted)

  /** Writes the inputs for the SQL oracle, and the curate report. */
  def dump(spark: SparkSession, dir: File): Unit = {
    FileTree.delete(dir)
    dir.mkdirs()
    Inputs.writeEvents(spark, dir)
    val docs = new File(dir, "documents.parquet").getPath
    Inputs.docsFrame(spark, CurateRun.mainDocs).coalesce(1).write.parquet(docs)
    val report = graft.cli.Curate.run(spark, docs, new File(dir, "curated").getPath)
    val fp = Inputs.fingerprint(Inputs.events(), CurateRun.mainDocs)
    val w = new java.io.PrintWriter(new File(dir, "generated.json"), "UTF-8")
    val types = Inputs.EventTypes.map(t => s""""$t"""").mkString(",")
    try w.println(s"""{"fingerprint": "$fp", "event_types": [$types], "hour_ms": ${Inputs.HourMs}, """ +
      s""""now_ms": ${Serve.NowMs}, "list_max_age_ms": ${Serve.ListMaxAgeMs}, """ +
      s""""curate_report": ${new ObjectMapper().writeValueAsString(report.json)}}""")
    finally w.close()
  }
}
