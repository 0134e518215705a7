package graft.perfbench

import graft.cli.Curate
import java.io.File
import scala.collection.mutable

/** `curate`: [[Curate.run]] over the generated documents, repeated, after
  * one untimed warm run over a smaller corpus. The `dedup` and `text`
  * layers do nearly all the work here and none in `serve` or `ingest`.
  * Every run's report must equal the stored one. */
final class CurateRun(ctx: Ctx) {
  import CurateRun._
  import ctx._

  def run(): Outcome = {
    val docs = new File(work, "curate/docs.parquet")
    val warm = new File(work, "curate/warm.parquet")
    val t0 = System.nanoTime()
    Inputs.docsFrame(spark, mainDocs).write.mode("overwrite").parquet(docs.getPath)
    Inputs.docsFrame(spark, Inputs.documents(WarmDocs, WarmSeed)).write.mode("overwrite").parquet(warm.getPath)
    val writeS = (System.nanoTime() - t0) / 1e9
    // set-up is the engine's own: warm runs over the small corpus, the
    // first of them cold; their median is `setup_s`
    val warmS = (0 until WarmReps).map { i =>
      note(s"curate: warm run $i")
      val t1 = System.nanoTime()
      Curate.run(spark, warm.getPath, dir("curate/out-warm").getPath)
      (System.nanoTime() - t1) / 1e9
    }
    val setupS = Stats.median(warmS)
    Heap.sample()
    note(s"curate: set up; warm runs ${warmS.mkString(", ")}s")

    // a traced run alternates runs without and with the listener: their
    // wall-time ratio is the tracing overhead
    val trace = if (traced) Some(new SparkTrace(spark)) else None
    // runs repeat while the next one should end within the window: one
    // Curate.run is seconds of work, so a window holds one or a few
    val deadline = System.nanoTime() + seconds * 1000000000L
    val minReps = if (traced) 2 else 1
    val reps = mutable.ArrayBuffer.empty[Rep]
    var failed = 0
    while (reps.size < minReps || System.nanoTime() + reps.last.ms * 1e6 < deadline) {
      val on = trace.nonEmpty && reps.size % 2 == 1
      if (on) trace.get.start()
      val out = dir(s"curate/out${reps.size % 2}")
      val from = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val report = Curate.run(spark, docs.getPath, out.getPath).json
      val ms = (System.nanoTime() - t0) / 1e6
      note(s"curate: run ${reps.size} took ${ms}ms")
      reps += Rep(ms, from, System.currentTimeMillis(), on)
      if (on) { trace.get.awaitQuiet(); trace.get.stop() }
      if (report != expected.curateReport) {
        failed += 1
        System.err.println(s"curate: report $report != expected ${expected.curateReport}")
      }
    }
    val plain = reps.filterNot(_.traced).map(_.ms).toSeq
    val wallMs = Stats.median(plain)
    val heap = Heap.peakMb()
    val layers = trace.map(t => layerMetrics(t.snapshot(), reps.filter(_.traced).toSeq) :+
      Emit.Metric("trace.curate_overhead", Stats.median(reps.filter(_.traced).map(_.ms).toSeq) / wallMs, "ratio"))
    Outcome(reps.size, failed,
      Seq(Emit.Metric("setup_s", setupS, "s"),
        Emit.Metric("latency_p50_ms", wallMs, "ms"),
        Emit.Metric("items_per_s", NDocs / (wallMs / 1000.0), "1/s"),
        Emit.Metric("peak_live_heap_mb", heap, "MB")),
      layers.getOrElse(Nil),
      Seq("setup_s" -> setupS.toString, "session_start_s" -> sessionStartS.toString,
        "input_write_s" -> writeS.toString,
        "setup_total_s" -> (sessionStartS + writeS + warmS.sum).toString,
        "peak_live_heap_mb" -> heap.toString,
        "error_ratio" -> (failed.toDouble / reps.size).toString,
        "curate_docs_per_s" -> (NDocs / (wallMs / 1000.0)).toString,
        "curate_run_ms" -> Stats.summarize(plain).json))
  }

  /** Spark jobs of the traced runs, by the module of the file that
    * submitted them (`Dedup.scala` is `dedup`, `Curate.scala` is `cli`);
    * means per run. */
  private def layerMetrics(snap: SparkTrace.Snapshot, traced: Seq[Rep]): Seq[Emit.Metric] = {
    val modules = Attribution.moduleMap(new File(root, "src/main/scala/graft"))
    val jobs = traced.zipWithIndex.flatMap { case (r, i) =>
      val id = spans.add("cli.curate_run", r.fromMs, r.ms, 0L, i.toLong + 1)
      val js = snap.jobsIn(r.fromMs, r.toMs)
      spans.addJobs(js, id, i.toLong + 1)
      js
    }
    def of(module: String) = jobs.filter(j => Attribution.moduleOf(j.callSite, modules).contains(module))
    val n = traced.size.toDouble
    val dedup = of("dedup"); val cli = of("cli")
    val dedupStages = snap.stagesOf(dedup)
    val byModule = jobs.groupBy(j => Attribution.moduleOf(j.callSite, modules).getOrElse(j.callSite))
    note("curate: jobs by module " + byModule.map { case (m, js) => s"$m=${js.size}" }.mkString(", "))
    val plan = traced.map(r => snap.queries.filter(q => q.start >= r.fromMs && q.start <= r.toMs).map(_.planMs).sum)
    Seq(
      Emit.Metric("dedup.job_ms", dedup.map(_.ms).sum / n, "ms"),
      Emit.Metric("dedup.shuffle_write_bytes", dedupStages.map(_.shuffleWriteBytes).sum / n, "bytes"),
      Emit.Metric("dedup.spill_bytes", dedupStages.map(_.spillBytes).sum / n, "bytes"),
      Emit.Metric("cli.job_ms", cli.map(_.ms).sum / n, "ms"),
      Emit.Metric("cli.task_cpu_ms", snap.stagesOf(cli).map(_.cpuMs).sum / n, "ms"),
      Emit.Metric("cli.plan_ms", plan.sum / n, "ms"),
      Emit.Metric("cli.jobs", jobs.size / n, "count"))
  }
}

object CurateRun {
  val NDocs = 5000
  val WarmDocs = 50
  val MainSeed = 7L
  val WarmSeed = 11L
  val WarmReps = 2

  lazy val mainDocs: Vector[Inputs.Doc] = Inputs.documents(NDocs, MainSeed)

  final case class Rep(ms: Double, fromMs: Long, toMs: Long, traced: Boolean)
}
