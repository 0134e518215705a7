package graft.perfbench

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own pure logic: the percentile rule, call-site-to-module
  * attribution and the result line. Run with `sbt test` in perfbench/. */
class BenchLogicSpec extends AnyFunSuite {

  test("tail percentile is the highest candidate with >= 10 samples beyond it") {
    assert(Stats.tailPercentile(9).isEmpty)
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(99).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("nearest-rank percentile and median") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 99.9) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    val s = Stats.summarize(xs)
    assert(s.n == 100 && s.p50 == 50.5 && s.tailP.contains(90.0) && s.tail.contains(90.0))
    assert(Stats.summarize(Nil).json == """{"n":0}""")
  }

  test("a call site maps to its file's module, whatever the line") {
    val modules = Map("Curate.scala" -> "cli", "Dedup.scala" -> "dedup")
    assert(Attribution.callSiteFile("save at Curate.scala:290").contains("Curate.scala"))
    assert(Attribution.moduleOf("collect at Dedup.scala:12", modules).contains("dedup"))
    assert(Attribution.moduleOf("collect at Dedup.scala:1200", modules).contains("dedup"))
    assert(Attribution.moduleOf("parquet at Curate.scala:7", modules).contains("cli"))
    assert(Attribution.moduleOf("run at ThreadPoolExecutor.java:1136", modules).isEmpty)
    assert(Attribution.moduleOf("count at Other.scala:3", modules).isEmpty)
    assert(Attribution.moduleOf(null, modules).isEmpty)
  }

  test("the module map reads graft/<module>/ directories") {
    val root = Files.createTempDirectory("modules").toFile
    def touch(p: String): Unit = { val f = new File(root, p); f.getParentFile.mkdirs(); f.createNewFile() }
    touch("dedup/Dedup.scala"); touch("cli/Curate.scala"); touch("cli/sub/Deep.scala"); touch("Bench.scala")
    assert(Attribution.moduleMap(root) ==
      Map("Dedup.scala" -> "dedup", "Curate.scala" -> "cli", "Deep.scala" -> "cli"))
    FileTree.delete(root)
  }

  private val declared = Seq("latency_p50_ms" -> "ms", "setup_s" -> "s")

  test("the result line carries exactly the declared metrics, in order, with all digits") {
    val line = Emit.line(correct = true, 10, 0,
      Seq(Emit.Metric("setup_s", 0.8127345, "s"), Emit.Metric("latency_p50_ms", 1.2034, "ms")), declared)
    assert(line == """{"correct": true, "attempted": 10, "failed": 0, "metrics": """ +
      """{"latency_p50_ms": {"value": 1.2034, "unit": "ms"}, "setup_s": {"value": 0.8127345, "unit": "s"}}}""")
  }

  test("the result line refuses missing, extra, mislabelled or non-finite metrics") {
    val ok = Emit.Metric("latency_p50_ms", 1.0, "ms")
    intercept[IllegalArgumentException](Emit.line(true, 1, 0, Seq(ok), declared))
    intercept[IllegalArgumentException](Emit.line(true, 1, 0,
      Seq(ok, Emit.Metric("setup_s", 1.0, "s"), Emit.Metric("other", 1.0, "s")), declared))
    intercept[IllegalArgumentException](Emit.line(true, 1, 0,
      Seq(ok, Emit.Metric("setup_s", 1.0, "ms")), declared))
    intercept[IllegalArgumentException](Emit.line(true, 1, 0,
      Seq(ok, Emit.Metric("setup_s", Double.NaN, "s")), declared))
    intercept[IllegalArgumentException](Emit.line(true, 0, 0,
      Seq(ok, Emit.Metric("setup_s", 1.0, "s")), declared))
  }

  test("BENCHMARK.json declares the metrics the result line checks against") {
    val bench = new File(sys.props.getOrElse("user.dir", "."), "../BENCHMARK.json")
    assume(bench.isFile, "run from perfbench/")
    val e2e = Emit.declared(bench, traced = false)
    assert(e2e.map(_._1).contains("setup_s"))
    val layers = Emit.declared(bench, traced = true).map(_._1)
    Main.Owned.values.foreach(owned => assert(layers.exists(owned)))
    assert(layers.distinct.size == layers.size)
  }

  test("the rate-then-hourly-mean reference drops negative rates and stamps the last ts") {
    def ev(ts: Long, v: Double) = Inputs.Event(0L, ts, 0, 0, v, "")
    val h = Inputs.HourMs
    val rows = Seq(ev(0L, 1.0), ev(1000L, 3.0), ev(2000L, 2.0), ev(3000L, 6.0), ev(h + 1000L, 6.0))
    // rates: 2.0 @1000, -1 dropped @2000, 4.0 @3000, 0.0 @h+1000
    assert(Serve.rateMean(rows) == Seq((3000L, 3.0), (h + 1000L, 0.0)))
  }

  test("documents have the generator's measured shape") {
    val docs = Inputs.documents(5000, CurateRun.MainSeed)
    val near = docs.filter(_.text.endsWith(" dup"))
    val originals = docs.filterNot(_.text.endsWith(" dup")).map(_.text.split(" ").length)
    assert(originals.min >= 10 && originals.max <= 99)
    assert(near.size > 200 && near.size < 300)
    // every copied document is an original copied once: the only repeated
    // texts are the exact copies
    val copies = docs.size - docs.map(_.text).distinct.size
    assert(copies > 0 && copies < 20)
    assert(near.map(_.text).distinct.size == near.size)
    assert(docs.groupBy(_.source).values.forall(_.size == 250))
    assert(docs.map(_.lang).toSet == Set("en", "de", "es", "fr", "zh"))
  }

  test("events span the measured month with exponential values") {
    val evs = Inputs.events()
    assert(evs.size == Inputs.NEvents)
    assert(evs.map(_.ts).sliding(2).forall { case Seq(a, b) => a < b })
    assert(evs.head.ts >= Inputs.StartMs && evs.last.ts < Inputs.StartMs + Inputs.SpanMs)
    val mean = evs.map(_.value).sum / evs.size
    assert(math.abs(mean - Inputs.ValueMean) < 1.0)
    assert(evs.map(e => (e.etype, e.user)).distinct.size == Inputs.EventTypes.size * Inputs.Users)
  }

  test("input generation is deterministic") {
    assert(Inputs.fingerprint(Inputs.events().take(1000), Inputs.documents(50, 1L)) ==
      Inputs.fingerprint(Inputs.events().take(1000), Inputs.documents(50, 1L)))
    assert(Inputs.documents(50, 1L) != Inputs.documents(50, 2L))
  }
}
