package graft.perfbench

import java.io.File
import java.security.MessageDigest
import java.time.Instant
import java.util.SplittableRandom
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.jdk.CollectionConverters._

/** The benchmark's inputs, generated in-process from fixed seeds: the same
  * bytes on every run and machine. Every parameter below is a figure
  * measured on the engine's sf0.1 `events` and `documents` test tables
  * (see perfbench/README.md, "Inputs"). The workload seed never changes
  * them; it drives only query draws. */
object Inputs {

  val EventTypes: Vector[String] = Vector("signup", "click", "error", "view", "purchase")
  val Users = 1500
  val NEvents = 100000
  val StartMs = 1704067200000L // 2024-01-01T00:00:00Z
  val SpanMs: Long = 30L * 86400000L
  val HourMs = 3600000L
  /** Mean of the exponentially distributed event values. */
  val ValueMean = 50.0

  /** One event; `ts` is strictly increasing over the table, so no series
    * holds two points at the same millisecond. */
  final case class Event(id: Long, ts: Long, user: Int, etype: Int, value: Double, props: String) {
    def name: String = "/events/" + EventTypes(etype)
  }

  def events(): Vector[Event] = {
    val rng = new SplittableRandom(42L)
    val step = SpanMs / NEvents
    Vector.tabulate(NEvents) { i =>
      val ts = StartMs + i * step + rng.nextLong(step)
      val user = rng.nextInt(Users)
      val etype = rng.nextInt(EventTypes.size)
      // full-precision values (sf0.1 rounds to cents): no mean lands
      // exactly on a rounding boundary of the oracle digests
      val value = -ValueMean * math.log(1.0 - rng.nextDouble())
      Event(i.toLong, ts, user, etype, value, s"""{"k": ${rng.nextInt(100)}}""")
    }
  }

  /** Writes the events as the engine's `events` table, `<dir>/events.parquet`,
    * which [[graft.sources.PointSource.events]] maps to points. */
  def writeEvents(spark: SparkSession, dir: File): Unit = {
    val schema = StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val rows = events().map(e => Row(e.id, Instant.ofEpochMilli(e.ts), e.user.toLong,
      EventTypes(e.etype), e.value, e.props))
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write
      .parquet(new File(dir, "events.parquet").getPath)
  }

  val Vocab: Vector[String] = Vector("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "sort", "line", "part", "order", "hash", "slow",
    "group", "filter", "big", "join", "customer", "fast", "row", "the", "agg", "key",
    "query", "a", "scan", "batch")
  /** Language tags, drawn uniformly from this list: 40% `en`, 15% each other. */
  val Langs: Vector[String] = Vector.fill(8)("en") ++ Vector("de", "es", "fr", "zh").flatMap(Vector.fill(3)(_))
  val NearCopyShare = 0.05
  val ExactCopyShare = 0.0016
  val Sources = 20

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** `n` documents of 10-99 words drawn uniformly from [[Vocab]]. A
    * [[NearCopyShare]] of them are instead another document's text with
    * ` dup` appended, and an [[ExactCopyShare]] another document's text as
    * is; each copied document is an original one, copied once. Sources
    * are `src<id mod 20>`. */
  def documents(n: Int, seed: Long): Vector[Doc] = {
    val rng = new SplittableRandom(seed)
    val roles = Array.fill(n)(rng.nextDouble())
    val texts = Array.fill(n)(Seq.fill(10 + rng.nextInt(90))(Vocab(rng.nextInt(Vocab.size))).mkString(" "))
    // the originals, in a seeded shuffle
    val originals = roles.indices.filter(i => roles(i) >= NearCopyShare + ExactCopyShare).toArray
    for (k <- originals.indices.reverse) {
      val j = rng.nextInt(k + 1)
      val t = originals(k); originals(k) = originals(j); originals(j) = t
    }
    var next = 0
    for (i <- 0 until n if roles(i) < NearCopyShare + ExactCopyShare) {
      val original = texts(originals(next))
      next += 1
      texts(i) = if (roles(i) < NearCopyShare) original + " dup" else original
    }
    Vector.tabulate(n)(i => Doc(i.toLong, texts(i), Langs(rng.nextInt(Langs.size)), s"src${i % Sources}"))
  }

  def docsFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(docs.map(d => Row(d.id, d.text, d.lang, d.source,
      d.text.length.toLong)).asJava, schema)
  }

  /** Content hash of the inputs, printed with every result. */
  def fingerprint(evs: Seq[Event], docs: Seq[Doc]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    evs.foreach(e => md.update(s"${e.id},${e.ts},${e.user},${e.etype},${e.value},${e.props}\n".getBytes("UTF-8")))
    docs.foreach(d => md.update(s"${d.id},${d.lang},${d.source},${d.text}\n".getBytes("UTF-8")))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
