package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Plain loaders for the driver's non-point tables. */
object Tables {
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
  import org.apache.spark.sql.Column

  /** Epoch-ms conversion tolerant of every `ts` physical type the driver
    * has shipped: parquet TIMESTAMP(NANOS) (read as LongType ns under
    * nanosAsLong), TIMESTAMP_NTZ (plain `timestamp[us]`, no UTC flag —
    * Spark 4 infers NTZ), and tz-adjusted TIMESTAMP. `div` keeps ns→ms
    * truncation exact (ns magnitudes exceed double's 2^53); the NTZ→LTZ
    * cast is a micros-identity because every graft session pins
    * spark.sql.session.timeZone=UTC, matching DuckDB's epoch_ms on
    * naive timestamps. */
  def tsToMillis(df: org.apache.spark.sql.DataFrame, name: String): Column =
    df.schema(name).dataType match {
      case LongType         => expr(s"$name div 1000000")
      case TimestampNTZType => unix_millis(col(name).cast(TimestampType))
      case _                => unix_millis(col(name))
    }
  /** Fans a too-narrow scan out to cluster parallelism before per-row
    * work — the optimization-guide §2.5 remedy for tiny/unsplittable
    * inputs ("one huge unsplittable file … repartition immediately
    * after the read"). The bench corpora are single parquet row
    * groups, so every expression below the first exchange (tokenize +
    * per-shingle md5, winnowing, vector math, media decode) otherwise
    * runs in ONE task however many cores the session has; a
    * production-scale scan carries ≥ parallelism splits, where this is
    * the identity — the condition reads the ACTUAL scan split count,
    * not a constant, so no exchange is ever added at scale. Row-set
    * unchanged; consumers are order-insensitive (hash gates sort
    * outputs, aggregates ride exact decimal sums, limits are ordered,
    * per-group first() picks are functionally determined), and
    * round-robin repartition is deterministic under retries
    * (sort-before-repartition is on by default). */
  def fanOut(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    // already an explicit shuffle repartition (e.g. a caller that
    // fanned out before handing the frame to a trainer that fans its
    // own input): the probe below forces physical planning + an RDD
    // conversion per call — skip it, the fan-out is already there
    case r: org.apache.spark.sql.catalyst.plans.logical.Repartition
      if r.shuffle => df
    case _ =>
      val cores = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions * 2 < cores) df.repartition(cores) else df
  }
  /** Session-scoped RELATION (metadata) cache for repeated reads of
    * the same parquet path. `spark.read.parquet` re-lists the
    * directory and re-reads footers for schema inference on EVERY
    * call — ~65 ms of pure driver wall per call (measured,
    * MicroProfile `read-parquet-*`), paid by every gate build twice
    * per bench pass and once per verify dump, and by every wire
    * `/get` and `/list` ([[PointSource.read]]), where the inference is
    * a Spark job of its own. Production engines never pay this per
    * query: a catalog table / manifest-backed format (guide §6)
    * persists the file index and schema, and the reference store
    * server keeps its opened files and header indexes in an LRU
    * (store_manager.go:147-169). This cache is the session-local
    * equivalent: it holds the ANALYZED BASE RELATION only — never row
    * data, nothing survives the JVM, and every query still computes
    * from the parquet bytes.
    *
    * Staleness guard: an entry is served only while the path's content
    * fingerprint is unchanged — relative path, length and modification
    * time of every file Spark would read under it (see [[fingerprint]]).
    * One recursive listing per call, no footer read and no Spark job.
    * A file added, removed, or rewritten in place (even at the same
    * size) inside an existing `date=` partition changes the
    * fingerprint, which a directory mtime does not (and on object
    * stores a directory has no meaningful mtime). The fingerprint is
    * taken BEFORE the read it guards, so a write that lands in between
    * only costs one extra re-read on the next call, never a stale
    * serve. Entries of sessions whose SparkContext has stopped are
    * dropped on every access, so the map cannot outgrow the live
    * sessions. */
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (Vector[(String, Long, Long)], DataFrame)]()
  private val relHits = new java.util.concurrent.atomic.AtomicLong()
  private val relMisses = new java.util.concurrent.atomic.AtomicLong()

  /** (entries, hits, misses) of the relation cache — rendered on the
    * HTTP façade's /status page beside the other session memos. */
  def relCacheStats: (Int, Long, Long) =
    (relCache.size, relHits.get, relMisses.get)

  /** (relative path, length, mtime) of every file under `path` that a
    * parquet read would consider, sorted; `path` itself when it is a
    * file. Hidden and underscore-prefixed names are skipped exactly as
    * Spark's file index skips them (in-flight `_temporary` dirs of a
    * concurrent append, `_SUCCESS`, checksum files), except
    * `key=value` partition dirs. None when the path is missing or
    * changes under the listing. */
  private def fingerprint(spark: SparkSession,
                          path: String): Option[Vector[(String, Long, Long)]] = {
    import org.apache.hadoop.fs.{FileSystem, Path}
    def visible(name: String) =
      !((name.startsWith("_") && !name.contains("=")) || name.startsWith("."))
    def walk(fs: FileSystem, dir: Path, rel: String): Seq[(String, Long, Long)] =
      fs.listStatus(dir).toSeq.filter(st => visible(st.getPath.getName))
        .flatMap { st =>
          val r = rel + st.getPath.getName
          if (st.isDirectory) walk(fs, st.getPath, r + "/")
          else Seq((r, st.getLen, st.getModificationTime))
        }
    try {
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(root)
      Some(if (st.isDirectory) walk(fs, root, "").sorted.toVector
        else Vector(("", st.getLen, st.getModificationTime)))
    } catch { case _: java.io.IOException => None }
  }

  def parquetCached(spark: SparkSession, path: String): DataFrame = {
    relCache.keySet.removeIf(_._1.sparkContext.isStopped)
    fingerprint(spark, path) match {
      case None =>
        // missing path (let the read throw) or a listing raced a rewrite
        relMisses.incrementAndGet()
        spark.read.parquet(path)
      case Some(fp) =>
        relCache.compute((spark, path), (_, prev) =>
          if (prev != null && prev._1 == fp) { relHits.incrementAndGet(); prev }
          else { relMisses.incrementAndGet(); (fp, spark.read.parquet(path)) })._2
    }
  }

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    parquetCached(spark, s"$sfDir/documents.parquet")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    parquetCached(spark, s"$sfDir/embeddings.parquet")

  /** Raw events with `ts` normalized to epoch ms (same NANOS handling
    * as [[PointSource.events]]; `div` keeps sub-ms truncation exact and
    * bit-identical to DuckDB's epoch_ms). */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = parquetCached(spark, s"$sfDir/events.parquet")
    raw.withColumn("ts", tsToMillis(raw, "ts"))
  }
}
