package graft.perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** In-memory span log of a traced run, written out once at the end as
  * JSON lines. A span starts at a wall-clock epoch millisecond (so spans
  * line up with Spark's event times) and lasts a duration measured with
  * the monotonic clock. */
final class Spans {
  import Spans._

  private val ids = new AtomicLong(0L)
  private val buf = mutable.ArrayBuffer.empty[Span]

  /** Records a finished span and returns its id. */
  def add(name: String, startMs: Long, durMs: Double, parent: Long, request: Long): Long = {
    val id = ids.incrementAndGet()
    synchronized(buf += Span(id, name, startMs, durMs, parent, request))
    id
  }

  /** Runs `f` as a span; returns its result and duration in ms. */
  def time[T](name: String, parent: Long, request: Long)(f: => T): (T, Double) = {
    val s = System.currentTimeMillis(); val t0 = System.nanoTime()
    val r = f
    val ms = (System.nanoTime() - t0) / 1e6
    add(name, s, ms, parent, request)
    (r, ms)
  }

  /** Records Spark jobs as child spans of `parent`, named by call site. */
  def addJobs(jobs: Seq[SparkTrace.Job], parent: Long, request: Long): Unit =
    jobs.foreach(j => add(s"spark.job ${j.callSite.replace("\"", "'")}", j.submit, j.ms.toDouble, parent, request))

  def write(f: File): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try synchronized(buf.foreach(s => w.println(s.json))) finally w.close()
  }
}

object Spans {
  final case class Span(id: Long, name: String, startMs: Long, durMs: Double, parent: Long,
                        request: Long) {
    def json: String =
      s"""{"id":$id,"name":"$name","start_ms":$startMs,"dur_ms":$durMs,""" +
        s""""parent":$parent,"request":$request}"""
  }
}
