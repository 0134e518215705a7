package graft.perfbench

import graft.api.{Engine, Requests}
import graft.http.StoreHttpServer
import graft.model.Variable
import graft.operators.Aggregations
import graft.sources.PointSource
import graft.wire.Rpc
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.{Base64, SplittableRandom}
import java.util.concurrent.Executors
import scala.collection.mutable

/** `serve`: a closed loop of HTTP clients sending `/get` and `/list` to an
  * in-process [[StoreHttpServer]] over a point store written through the
  * streaming ingest path ([[Ingest]]). The mix follows the reference's
  * query shapes: 75% single-series lookups (raw, or `rate` then
  * `mean=1h`), 20% metric-wide aggregates (`{user=*} mean=1h
  * aggregate=mean`) and 5% `/list` of one metric's series. Lookups are
  * dominated by the fixed cost every query pays (listing, planning, job
  * launch), aggregates by scan, shuffle and per-series operators, so the
  * per-class numbers tell one layer's gain from another's loss. Two
  * clients expose queueing in Spark's FIFO scheduler; the traced run uses
  * one, so every Spark event inside a request's window belongs to that
  * request. */
final class Serve(ctx: Ctx) {
  import Serve._
  import ctx._

  private val evs = Inputs.events()
  private val series: Map[(Int, Int), Vector[Inputs.Event]] =
    evs.groupBy(e => (e.etype, e.user)).map { case (k, v) => k -> v.sortBy(_.ts) }
  private val keys: Vector[(Int, Int)] = series.keys.toVector.sorted

  private val ingest = new Ingest(ctx)

  def run(): Outcome = {
    // set-up: stage the drops, build the store from them several times
    // (the median of the engine's part is `setup_s`), then start the
    // server over the last build and warm it
    val trace = if (traced) Some(new SparkTrace(spark).start()) else None
    note("serve: staging drops")
    val (src, stageS) = ingest.stage()
    note("serve: building stores")
    val builds = (0 until SetupReps).map(i => ingest.build(src, s"serve/build$i"))
    val storeError = ingest.check(src, builds.last)
    storeError.foreach(e => System.err.println(s"serve: $e"))
    val t1 = System.nanoTime()
    val server = new StoreHttpServer(spark, builds.last.store.getPath, 0, nowMs = () => NowMs).start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      val warm = new Loop(base, clients = if (traced) 1 else Clients, seed ^ 0x5eedL)
      note("serve: warming up")
      warm.requests(WarmupPerClient)
      warm.close()
      val warmupS = (System.nanoTime() - t1) / 1e9
      val setupS = Stats.median(builds.map(_.engineS))
      Heap.sample()
      note(s"serve: set up; ingest + compact ${builds.map(_.engineS).mkString(", ")}s; measuring")
      val writes = writeLayers(builds, trace)
      val out = if (traced) tracedRun(base, setupS) else untracedRun(base, setupS)
      val setupDetail = Seq(
        "session_start_s" -> sessionStartS.toString,
        "stage_s" -> stageS.toString,
        "warmup_s" -> warmupS.toString,
        "setup_total_s" -> (sessionStartS + stageS + builds.map(_.engineS).sum + warmupS).toString,
        "ingest_rows_per_s" -> Stats.median(builds.map(_.rowsPerS)).toString,
        "compact_s" -> Stats.median(builds.map(_.compactS)).toString)
      out.copy(attempted = out.attempted + 1, failed = out.failed + storeError.size,
        layers = if (traced) out.layers ++ writes else Nil, detail = out.detail ++ setupDetail)
    } finally server.stop()
  }

  /** Per-layer numbers of the store builds: streaming progress phases per
    * ingest call and the compaction's shuffle, means over the warm builds
    * (the first runs cold). */
  private def writeLayers(builds: Seq[Ingest.Built], trace: Option[SparkTrace]): Seq[Emit.Metric] =
    trace.map { t =>
      t.awaitQuiet()
      val snap = t.snapshot()
      t.stop()
      val warm = builds.drop(1)
      def mean(f: Ingest.Built => Double) = warm.map(f).sum / warm.size
      builds.zipWithIndex.foreach { case (b, i) =>
        val req = -(i.toLong + 1)
        spans.add("streaming.call", b.call.startMs, b.call.wallMs, 0L, req)
        val id = spans.add("sources.compact", b.compactFromMs, b.compactS * 1000, 0L, req)
        spans.addJobs(snap.jobsIn(b.compactFromMs, b.compactToMs), id, req)
      }
      Seq(
        Emit.Metric("streaming.call_ms", mean(_.call.wallMs), "ms"),
        Emit.Metric("streaming.start_ms", mean(b => b.call.wallMs - b.call.phaseMs("triggerExecution")), "ms"),
        Emit.Metric("streaming.add_batch_ms", mean(_.call.phaseMs("addBatch")), "ms"),
        Emit.Metric("streaming.query_planning_ms", mean(_.call.phaseMs("queryPlanning")), "ms"),
        Emit.Metric("streaming.get_batch_ms", mean(_.call.phaseMs("getBatch")), "ms"),
        Emit.Metric("streaming.latest_offset_ms", mean(_.call.phaseMs("latestOffset")), "ms"),
        Emit.Metric("streaming.wal_commit_ms", mean(_.call.phaseMs("walCommit")), "ms"),
        Emit.Metric("streaming.batches_per_call", mean(_.call.progress.count(_.numInputRows > 0).toDouble), "count"),
        Emit.Metric("sources.ingest.files_written", mean(_.filesWritten.toDouble), "count"),
        Emit.Metric("sources.ingest.bytes_per_point", mean(_.bytesPerPoint), "bytes"),
        Emit.Metric("sources.ingest.compact_shuffle_bytes", mean(b =>
          snap.stagesOf(snap.jobsIn(b.compactFromMs, b.compactToMs)).map(_.shuffleWriteBytes).sum.toDouble), "bytes"))
    }.getOrElse(Nil)

  private def untracedRun(base: String, setupS: Double): Outcome = {
    val loop = new Loop(base, Clients, seed)
    val (done, elapsedS) = loop.timed(seconds.toDouble)
    loop.close()
    val failures = done.filter(r => check(r).nonEmpty)
    failures.take(3).foreach(r => System.err.println(s"serve: ${r.req} failed: ${check(r).get}"))
    def lat(cls: String) = done.filter(_.req.cls == cls).map(_.ms)
    val point = Stats.summarize(lat("point"))
    // each closed-loop client completes n requests in the time its n
    // responses took; the clients' rates add up (free of the idle tail a
    // client has while the other finishes its last request)
    val qps = done.groupBy(_.client).values.map(rs => rs.size / (rs.map(_.ms).sum / 1000)).sum
    val heap = Heap.peakMb()
    Outcome(done.size, failures.size,
      Seq(Emit.Metric("setup_s", setupS, "s"),
        Emit.Metric("latency_p50_ms", point.p50, "ms"),
        Emit.Metric("items_per_s", qps, "1/s"),
        Emit.Metric("peak_live_heap_mb", heap, "MB")),
      Nil,
      Seq("setup_s" -> setupS.toString, "peak_live_heap_mb" -> heap.toString,
        "error_ratio" -> (failures.size.toDouble / done.size).toString,
        "get_point_ms" -> point.json, "get_agg_ms" -> Stats.summarize(lat("agg")).json,
        "list_ms" -> Stats.summarize(lat("list")).json,
        "serve_qps" -> qps.toString, "window_s" -> elapsedS.toString, "clients" -> Clients.toString))
  }

  /** One client, in whole cycles of [[Pattern]]: untraced, traced,
    * traced, untraced (so a steady drift cancels), repeated while the
    * next such group should end within the window. Every traced run thus
    * samples each request class the same number of times, whatever the
    * engine's speed. The lookup median of the traced cycles over the
    * untraced ones is the tracing overhead. */
  private def tracedRun(base: String, setupS: Double): Outcome = {
    val trace = new SparkTrace(spark)
    val loop = new Loop(base, 1, seed)
    val deadline = System.nanoTime() + seconds * 1000000000L
    val plain = mutable.ArrayBuffer.empty[Done]
    val traced = mutable.ArrayBuffer.empty[(Done, Replay)]
    var groupNs = 0L
    while (groupNs == 0L || System.nanoTime() + groupNs < deadline) {
      val g0 = System.nanoTime()
      plain ++= loop.cycle()
      trace.start()
      traced ++= loop.cycleWithReplay() ++ loop.cycleWithReplay()
      trace.awaitQuiet()
      trace.stop()
      plain ++= loop.cycle()
      groupNs = System.nanoTime() - g0
    }
    loop.close()
    val snap = trace.snapshot()
    val all = plain ++ traced.map(_._1)
    val failures = all.filter(r => check(r).nonEmpty)
    val layers = Classes.flatMap(cls => layerMetrics(cls, traced.filter(_._1.req.cls == cls).toSeq, snap))
    def points(rs: Seq[Done]) = rs.filter(_.req.cls == "point").map(_.ms)
    val overhead = Stats.median(points(traced.map(_._1).toSeq)) / Stats.median(points(plain.toSeq))
    Outcome(all.size, failures.size, Nil,
      layers :+ Emit.Metric("trace.serve_overhead", overhead, "ratio"),
      Seq("setup_s" -> setupS.toString, "clients" -> "1",
        "get_point_ms_untraced" -> Stats.summarize(points(plain.toSeq)).json,
        "get_point_ms_traced" -> Stats.summarize(points(traced.map(_._1).toSeq)).json))
  }

  /** Per-request-class layer numbers: means per request, so the parts of
    * a round trip add up. */
  private def layerMetrics(cls: String, rs: Seq[(Done, Replay)],
                           snap: SparkTrace.Snapshot): Seq[Emit.Metric] = {
    val n = rs.size.toDouble
    val perReq = rs.map { case (d, rp) =>
      val jobs = snap.jobsIn(d.startMs, d.endMs)
      spans.addJobs(jobs, rp.span, rp.request)
      val stages = snap.stagesOf(jobs)
      val qs = snap.queries.filter(q => q.start >= d.startMs && q.start <= d.endMs)
      (d, rp, jobs, stages, qs)
    }
    def mean(f: ((Done, Replay, Vector[SparkTrace.Job], Vector[SparkTrace.Stage],
      Vector[SparkTrace.Query])) => Double) = perReq.map(f).sum / n
    val scanRows = perReq.map(_._4.map(_.inputRows).sum).sum.toDouble
    val values = perReq.map(_._2.values).sum.toDouble
    def m(layer: String, name: String, v: Double, unit: String) =
      Emit.Metric(s"$layer.$cls.$name", v, unit)
    Seq(
      m("http", "round_trip_ms", mean(_._1.ms), "ms"),
      m("http", "retrieve_ms", mean(_._2.retrieveMs), "ms"),
      m("http", "construct_ms", mean(_._2.constructMs), "ms"),
      m("http", "outside_timers_ms", mean(x => x._1.ms - x._2.retrieveMs - x._2.constructMs), "ms"),
      m("wire", "decode_ms", mean(_._2.decodeMs), "ms"),
      m("wire", "encode_ms", mean(_._2.encodeMs), "ms"),
      m("wire", "response_bytes", mean(_._1.bytes.length.toDouble), "bytes"),
      m("sources", "read_ms", mean(_._2.readMs), "ms"),
      m("sources", "files_listed", mean(_._2.filesListed.toDouble), "count"),
      m("sources", "scan_rows", scanRows / n, "count"),
      m("sources", "scan_bytes", mean(_._4.map(_.inputBytes).sum.toDouble), "bytes"),
      m("sources", "rows_per_value", scanRows / math.max(1.0, values), "ratio"),
      m("sources", "scan_stage_ms", mean(_._4.filter(_.inputRows > 0).map(_.runMs).sum.toDouble), "ms"),
      m("api", "build_ms", mean(_._2.buildMs), "ms"),
      m("api", "plan_ms", mean(_._5.map(_.planMs).sum.toDouble), "ms"),
      m("api", "jobs", mean(_._3.size.toDouble), "count"),
      m("api", "stages", mean(_._4.size.toDouble), "count"),
      m("api", "tasks", mean(_._4.map(_.tasks).sum.toDouble), "count"),
      m("api", "task_wait_ms", mean(x => snap.taskWaitMs(x._4).toDouble), "ms"),
      m("api", "result_bytes", mean(_._4.map(_.resultBytes).sum.toDouble), "bytes"),
      m("api", "gc_ms", mean(_._4.map(_.gcMs).sum.toDouble), "ms"),
      m("operators", "stage_ms", mean(_._4.filter(_.shuffleReadRecords > 0).map(_.runMs).sum.toDouble), "ms"),
      m("operators", "task_cpu_ms", mean(_._4.filter(_.shuffleReadRecords > 0).map(_.cpuMs).sum), "ms"),
      m("operators", "shuffle_write_bytes", mean(_._4.map(_.shuffleWriteBytes).sum.toDouble), "bytes"),
      m("operators", "shuffle_records", mean(_._4.map(_.shuffleWriteRecords).sum.toDouble), "count"))
  }

  // ------------------------------------------------------------ requests

  /** The `i`-th request of a client: the class follows [[Pattern]], so
    * every run has the same mix; the seed draws the series and metrics. */
  private def draw(i: Int, rng: SplittableRandom): Req = Pattern(i % Pattern.length) match {
    case 'r' | 'm' =>
      val (t, u) = keys(rng.nextInt(keys.size))
      Lookup(t, u, rateMean = Pattern(i % Pattern.length) == 'm')
    case 'a' => Aggregate(rng.nextInt(Inputs.EventTypes.size))
    case _ => ListSeries(rng.nextInt(Inputs.EventTypes.size))
  }

  /** Checks one response; None when it is right. */
  private def check(d: Done): Option[String] =
    if (d.status != 200) Some(s"HTTP ${d.status}")
    else d.req match {
      case l: Lookup =>
        val (ok, err, streams) = Rpc.decodeGetResponse(d.bytes)
        val rows = series((l.etype, l.user))
        val variable = Variable(rows.head.name, Map("user" -> l.user.toString, "hostname" -> Ingest.Host))
        if (!ok) Some(s"success=false: $err")
        else if (!l.rateMean) {
          val want = rows.map(e => (e.ts, Some(e.value), Some(e.props), None))
          if (streams.size == 1 && streams.head.variable.name == variable.name &&
            streams.head.variable.labels == variable.labels && streams.head.values == want) None
          else Some(s"raw series differs from the events rows")
        } else {
          val want = rateMean(rows)
          val got = streams.flatMap(_.values.map(v => (v._1, v._2.getOrElse(Double.NaN))))
          val same = got.size == want.size && got.zip(want).forall { case ((t1, v1), (t2, v2)) =>
            t1 == t2 && math.abs(v1 - v2) <= 1e-9 * math.max(1.0, math.abs(v2))
          } && streams.forall(s => s.variable.name == variable.name && s.variable.labels == variable.labels)
          if (same) None else Some("rate+mean series differs from the reference")
        }
      case a: Aggregate =>
        val (ok, err, streams) = Rpc.decodeGetResponse(d.bytes)
        val t = Inputs.EventTypes(a.etype)
        val got = Oracle.seriesDigest(streams.flatMap(_.values.map(v => (v._1, v._2.get))))
        if (!ok) Some(s"success=false: $err")
        else if (streams.size == 1 && got == expected.agg(t)) None
        else Some(s"aggregate digest $got != ${expected.agg(t)}")
      case s: ListSeries =>
        val (ok, vars) = Rpc.decodeListResponse(d.bytes)
        val t = Inputs.EventTypes(s.etype)
        val got = Oracle.listDigest(vars.map(v => (v.name, v.labels.getOrElse("user", ""))))
        if (!ok) Some("success=false")
        else if (got == expected.list(t)) None
        else Some(s"list digest $got != ${expected.list(t)}")
    }

  /** Closed-loop clients, each with its own connection and query draws. */
  private final class Loop(base: String, clients: Int, loopSeed: Long) {
    private val pool = Executors.newFixedThreadPool(1)
    private val http = (0 until clients).map(_ =>
      HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).executor(pool).build())
    private val rngs = (0 until clients).map(c => new SplittableRandom(loopSeed * 31 + c))
    // each client starts at its own place in the pattern
    private val sent = Array.tabulate(clients)(c => c * Pattern.length / clients)
    private def next(c: Int): Req = { sent(c) += 1; draw(sent(c), rngs(c)) }

    /** A fixed number of requests per client: the same warm-up work on
      * every run, whatever the machine's speed. */
    def requests(perClient: Int): Unit = parallel(c => (0 until perClient).map(_ => send(c, next(c))))

    /** Runs until `s` seconds have passed; returns requests and elapsed s. */
    def timed(s: Double): (Seq[Done], Double) = {
      val t0 = System.nanoTime()
      val deadline = t0 + (s * 1e9).toLong
      val done = parallel { c =>
        val out = mutable.ArrayBuffer.empty[Done]
        while (System.nanoTime() < deadline) out += send(c, next(c))
        out.toSeq
      }
      (done, (System.nanoTime() - t0) / 1e9)
    }

    /** One client, one [[Pattern]] cycle. */
    def cycle(): Seq[Done] = Seq.fill(Pattern.length)(send(0, next(0)))

    /** One client, one [[Pattern]] cycle; after each request, replays its
      * layer calls outside the request's window. */
    def cycleWithReplay(): Seq[(Done, Replay)] = Seq.fill(Pattern.length) {
      val d = send(0, next(0))
      d -> replay(d)
    }

    private def parallel[T](f: Int => Seq[T]): Seq[T] = {
      val results = new Array[Seq[T]](clients)
      val threads = (0 until clients).map(c => new Thread(() => results(c) = f(c)))
      threads.foreach(_.start()); threads.foreach(_.join())
      results.toSeq.flatten
    }

    private def send(c: Int, req: Req): Done = {
      val (path, body) = encode(req)
      val hr = HttpRequest.newBuilder(URI.create(base + path))
        .POST(HttpRequest.BodyPublishers.ofByteArray(Base64.getEncoder.encode(body))).build()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val resp = http(c).send(hr, HttpResponse.BodyHandlers.ofByteArray())
      val ms = (System.nanoTime() - t0) / 1e6
      Done(c, req, body, resp.statusCode(), Base64.getMimeDecoder.decode(resp.body()), ms, startMs,
        System.currentTimeMillis())
    }

    def close(): Unit = pool.shutdown()
  }

  /** Times the layer calls a request made, on the same bytes, outside the
    * request's window so their own Spark work is not counted to it. */
  private def replay(d: Done): Replay = {
    val reqId = requestIds.incrementAndGet()
    val rid = spans.add("request", d.startMs, d.ms, 0L, reqId)
    spans.add("http.round_trip", d.startMs, d.ms, rid, reqId)
    def span[T](name: String)(f: => T): (T, Double) = spans.time(name, rid, reqId)(f)
    val (points, readMs) = span("sources.read")(PointSource.read(spark, storePath))
    val files = points.inputFiles.length
    d.req match {
      case _: ListSeries =>
        val (req, decMs) = span("wire.decode")(Rpc.decodeListRequest(d.reqBody))
        val (_, buildMs) = span("api.build")(Engine.list(points, req, NowMs))
        val (_, vars) = Rpc.decodeListResponse(d.bytes)
        val timers = Rpc.decodeTimers(d.bytes, 5).toMap
        val (_, encMs) = span("wire.encode")(Rpc.encodeListResponse(vars, timers = timers.toSeq))
        Replay(decMs, encMs, readMs, files, buildMs, timers.getOrElse("retrieve variables", 0L).toDouble,
          timers.getOrElse("construct response", 0L).toDouble, vars.size, rid, reqId)
      case _ =>
        val (req, decMs) = span("wire.decode")(Rpc.decodeGetRequest(d.reqBody))
        val (_, buildMs) = span("api.build")(Engine.get(points, req))
        val (_, _, streams) = Rpc.decodeGetResponse(d.bytes)
        val timers = Rpc.decodeTimers(d.bytes, 4).toMap
        val (_, encMs) = span("wire.encode")(Rpc.encodeGetResponse(streams, timers = timers.toSeq))
        Replay(decMs, encMs, readMs, files, buildMs, timers.getOrElse("retrieve streams", 0L).toDouble,
          timers.getOrElse("construct response", 0L).toDouble, streams.map(_.values.size).sum, rid, reqId)
    }
  }

  private val requestIds = new java.util.concurrent.atomic.AtomicLong(0L)
  private def storePath: String = new java.io.File(work, s"serve/build${SetupReps - 1}/store").getPath
}

object Serve {
  val Clients = 2
  val SetupReps = 3
  /** The first three requests of each client's place in the pattern: a
    * raw lookup, a rate lookup and an aggregate. */
  val WarmupPerClient = 3
  val Classes: Seq[String] = Seq("point", "agg", "list")
  /** One cycle of request classes: 15 lookups (`r` raw, `m` rate then
    * mean=1h), 4 aggregates (`a`), 1 list (`l`): 75% / 20% / 5%. */
  val Pattern: String = "rmarmrmlrmarmrmarmra"
  /** The server's fixed clock: one hour after the last event. */
  val NowMs: Long = Inputs.StartMs + Inputs.SpanMs + Inputs.HourMs
  val ListMaxAgeMs: Long = 2L * 86400000L

  sealed trait Req { def cls: String }
  final case class Lookup(etype: Int, user: Int, rateMean: Boolean) extends Req { val cls = "point" }
  final case class Aggregate(etype: Int) extends Req { val cls = "agg" }
  final case class ListSeries(etype: Int) extends Req { val cls = "list" }

  final case class Done(client: Int, req: Req, reqBody: Array[Byte], status: Int, bytes: Array[Byte],
                        ms: Double, startMs: Long, endMs: Long)
  final case class Replay(decodeMs: Double, encodeMs: Double, readMs: Double, filesListed: Int,
                          buildMs: Double, retrieveMs: Double, constructMs: Double, values: Int,
                          span: Long, request: Long)

  def encode(r: Req): (String, Array[Byte]) = r match {
    case Lookup(t, u, rm) =>
      "/get" -> Rpc.encodeGetRequest(Requests.GetRequest(
        s"/events/${Inputs.EventTypes(t)}{user=$u}",
        mutations = if (rm) Seq(Requests.Rate(), Requests.Mean(Inputs.HourMs)) else Nil))
    case Aggregate(t) =>
      "/get" -> Rpc.encodeGetRequest(Requests.GetRequest(
        s"/events/${Inputs.EventTypes(t)}{user=*}",
        mutations = Seq(Requests.Mean(Inputs.HourMs)),
        aggregations = Seq(Requests.AggregationSpec(Aggregations.Average, Nil, Inputs.HourMs))))
    case ListSeries(t) =>
      "/list" -> Rpc.encodeListRequest(Requests.ListRequest(
        s"/events/${Inputs.EventTypes(t)}*", None, ListMaxAgeMs))
  }

  /** Reference for `rate` then `mean=1h` on one series: per-second rate
    * between consecutive points, negatives dropped, then per hour bucket
    * the mean rate stamped with the bucket's last timestamp. */
  def rateMean(rows: Seq[Inputs.Event]): Seq[(Long, Double)] = {
    val rates = rows.sliding(2).collect {
      case Seq(a, b) if (b.value - a.value) >= 0 => (b.ts, (b.value - a.value) / ((b.ts - a.ts) / 1000.0))
    }.toSeq
    rates.groupBy { case (ts, _) => ts - ts % Inputs.HourMs }.toSeq.sortBy(_._1).map { case (_, rs) =>
      (rs.map(_._1).max, rs.map(_._2).sum / rs.size)
    }
  }
}
