package graft.perfbench

import graft.SparkInit
import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What a workload run hands back to [[Main]]. `e2e` are the declared
  * end-to-end metrics, `layers` the workload's own per-layer metrics
  * (traced runs only) and `detail` every named end-to-end number of the
  * workload, with sample counts, for the line printed before the result. */
final case class Outcome(attempted: Long, failed: Long, e2e: Seq[Emit.Metric],
                         layers: Seq[Emit.Metric], detail: Seq[(String, String)])

/** Shared run context. */
final case class Ctx(spark: SparkSession, root: File, work: File, seed: Long, seconds: Int,
                     traced: Boolean, sessionStartS: Double, spans: Spans,
                     expected: Oracle.Expected) {
  private val t0 = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since the run began. */
  def note(msg: String): Unit = System.err.println(f"perfbench [${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")

  def dir(name: String): File = {
    val d = new File(work, name)
    FileTree.delete(d)
    d.getParentFile.mkdirs()
    d
  }
}

/** Live heap: old-generation occupancy after a full collection, sampled
  * where a workload asks (end of set-up, end of the measured window).
  * Full collections at fixed points read the same live data on every run,
  * where occupancy after whichever young collections happened to run
  * would not. */
object Heap {
  private val samples = mutable.ArrayBuffer.empty[Double]

  private def oldGenMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    .map(_.getCollectionUsage.getUsed).sum / (1024.0 * 1024.0)

  /** Collects until the old generation stops shrinking (Spark's cleaner
    * frees the broadcasts and shuffles of finished queries only after a
    * collection found them unreachable) and records the result. */
  def sample(): Double = {
    var last = Double.MaxValue
    var cur = Double.MaxValue
    var i = 0
    while (i < 2 || (last - cur > 1.0 && i < 6)) {
      System.gc()
      Thread.sleep(200)
      last = cur
      cur = oldGenMb()
      i += 1
    }
    samples.synchronized(samples += cur)
    cur
  }

  /** Samples once more and returns the largest sample in MB. */
  def peakMb(): Double = {
    sample()
    samples.synchronized(samples.max)
  }

  def samplesJson: String = samples.synchronized(samples.mkString("[", ",", "]"))
}

object FileTree {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  def tree(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(tree) else Seq(f)
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val root = new File(opts("root"))
    val work = new File(opts("work"))
    val code = try run(opts, root, work) catch {
      case t: Throwable =>
        System.err.println("perfbench: run failed")
        t.printStackTrace()
        1
    }
    System.out.flush()
    System.exit(code)
  }

  private def session(work: File, cores: Int): SparkSession = {
    val s = SparkInit.common(SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
        // Spark's status store keeps every job it has seen up to these
        // limits; small ones keep live heap from growing with the number
        // of requests a run happened to complete
        .config("spark.ui.retainedJobs", "50")
        .config("spark.ui.retainedStages", "50")
        .config("spark.ui.retainedTasks", "1000")
        .config("spark.sql.ui.retainedExecutions", "20")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(opts: Map[String, String], root: File, work: File): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = session(work, cores)
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    try opts.get("dump") match {
      case Some(dir) => Oracle.dump(spark, new File(dir)); 0
      case None =>
        val traced = opts("trace") == "1"
        val ctx = Ctx(spark, root, work, opts("seed").toLong, opts("seconds").toInt, traced,
          sessionStartS, new Spans, Oracle.expected(root))
        val workload = opts("workload")
        val out = workload match {
          case "serve" => new Serve(ctx).run()
          case "curate" => new CurateRun(ctx).run()
        }
        val declared = Emit.declared(new File(root, "BENCHMARK.json"), traced)
        val metrics =
          if (!traced) out.e2e
          else {
            // a traced run reports every declared layer metric; layers this
            // workload never enters read 0
            val own = out.layers.map(_.name).toSet
            out.layers ++ declared.collect {
              case (n, u) if !own(n) && !Owned(workload)(n) => Emit.Metric(n, 0.0, u)
            }
          }
        if (traced) ctx.spans.write(new File(work, s"trace/$workload-seed${ctx.seed}.jsonl"))
        val detail = (Seq("workload" -> s""""$workload"""", "seed" -> ctx.seed.toString,
          "traced" -> traced.toString, "inputs" -> s""""${ctx.expected.fingerprint}"""") ++
          out.detail :+ ("heap_samples_mb" -> Heap.samplesJson)).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
        println(detail)
        println(Emit.line(out.failed == 0, out.attempted, out.failed, metrics, declared))
        0
    } finally spark.stop()
  }

  /** Per-layer metrics a workload must measure itself: a traced run of
    * that workload fails rather than reading 0 for one of these. */
  val Owned: Map[String, String => Boolean] = Map(
    "serve" -> (n => Seq("http.", "wire.", "api.", "operators.", "sources.", "streaming.",
      "trace.serve").exists(n.startsWith)),
    "curate" -> (n => Seq("dedup.", "cli.", "trace.curate").exists(n.startsWith)))
}
