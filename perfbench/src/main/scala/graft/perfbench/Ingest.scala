package graft.perfbench

import graft.sources.PointSource
import graft.streaming.StreamIngest
import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The write side of the store `serve` reads. The events table is mapped
  * to points by the engine's own adapter ([[PointSource.events]]) and
  * staged as [[Ingest.Drops]] consecutive time-slice files (a collector
  * fleet's drops). Each build then takes them into a fresh store through
  * one AvailableNow [[StreamIngest.ingest]] call, and
  * [[PointSource.compact]] rewrites the micro-batch output into the
  * at-rest layout. A layout or ingest change that helps reads but costs
  * writes, or the reverse, shows in `serve`'s set-up time or in its
  * lookups. */
final class Ingest(ctx: Ctx) {
  import Ingest._
  import ctx._

  /** Writes the events table and stages its drops; returns the drops'
    * directory and the seconds this took. */
  def stage(): (File, Double) = {
    val t0 = System.nanoTime()
    val in = dir("serve/in")
    Inputs.writeEvents(spark, in)
    val src = dir("serve/src")
    // range bounds from every row, not from a sample: the same drops on
    // every run
    val key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, Inputs.NEvents.toString)
    try PointSource.events(spark, in.getPath).repartitionByRange(Drops, col("ts")).write.parquet(src.getPath)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    (src, (System.nanoTime() - t0) / 1e9)
  }

  /** Ingests the staged drops into a fresh store under `name` and
    * compacts it. */
  def build(src: File, name: String): Built = {
    val store = dir(s"$name/store")
    val startMs = System.currentTimeMillis()
    val t1 = System.nanoTime()
    val q = StreamIngest.ingest(spark, src.getPath, store.getPath, dir(s"$name/ckpt").getPath)
    q.awaitTermination()
    val call = Call(startMs, (System.nanoTime() - t1) / 1e6, q.recentProgress.toSeq)
    val written = parquetFiles(store)
    val writtenBytes = written.map(_.length()).sum.toDouble
    val compactFrom = System.currentTimeMillis()
    val t2 = System.nanoTime()
    PointSource.compact(spark, store.getPath)
    Built(store, call, (System.nanoTime() - t2) / 1e9, written.size,
      writtenBytes / Inputs.NEvents, compactFrom, System.currentTimeMillis())
  }

  /** None when the compacted store holds exactly the staged rows (row
    * count and a sum of row hashes: compaction keeps duplicates, so a row
    * streamed twice or lost shows). */
  def check(src: File, b: Built): Option[String] = {
    val want = digest(spark.read.parquet(src.getPath)
      .withColumn("labels", map_concat(col("labels"), map(lit("hostname"), lit(Host)))))
    val got = digest(spark.read.parquet(b.store.getPath))
    if (got == want) None else Some(s"store holds $got (rows, hash), staged $want")
  }

  private def parquetFiles(d: File): Seq[File] =
    FileTree.tree(d).filter(f => f.getName.endsWith(".parquet") && !f.getPath.contains("/_"))

  private def digest(df: DataFrame): (Long, Long) = {
    val h = xxhash64(col("name"), element_at(col("labels"), "user"),
      element_at(col("labels"), "hostname"), col("ts"), col("dval"), col("sval"))
    val r = df.agg(count(lit(1)), sum(pmod(h, lit(1000000007L)))).first()
    (r.getLong(0), r.getLong(1))
  }
}

object Ingest {
  val Drops = 50
  /** The host label the ingest stream adds to points that carry none. */
  val Host = "ingest"

  final case class Call(startMs: Long, wallMs: Double, progress: Seq[StreamingQueryProgress]) {
    /** Summed duration of one progress phase over the call's triggers. */
    def phaseMs(key: String): Double =
      progress.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)).sum
  }

  final case class Built(store: File, call: Call, compactS: Double, filesWritten: Int,
                         bytesPerPoint: Double, compactFromMs: Long, compactToMs: Long) {
    /** The engine's share of the build: the ingest call and compaction. */
    def engineS: Double = call.wallMs / 1000 + compactS
    def rowsPerS: Double = Inputs.NEvents / (call.wallMs / 1000)
  }
}
