package graft

import graft.cli.Curate
import graft.functions.VectorOps
import graft.text.TextOps
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}

/** End-to-end spec for the composed curation pipeline CLI. */
class CurateSpec extends SparkSpec {

  private lazy val out =
    Files.createTempDirectory("graft-curate").toString + "/run1"
  private lazy val report = Curate.run(spark,
    "/root/testdata/sf0.001/documents.parquet", out)
  private lazy val result = spark.read.parquet(out)

  test("stage counts are monotone and the report matches the output") {
    assert(report.nInput >= report.nDeduped)
    assert(report.nDeduped >= report.nGated)
    // span cut returns exactly the gated non-bench docs (rows survive,
    // text shrinks)
    assert(report.nCut == report.nGated)
    assert(report.nFinal <= report.nCut)
    assert(report.nFinal > 0)
    assert(result.count() == report.nFinal)
    assert(report.perSplit.values.sum == report.nFinal)
  }

  test("no curated doc shares an ngram-window hash with the benchmark slice") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val benchH = docs.filter(col("source") === "src1")
      .select(explode(VectorOps.shingleHash60(
        TextOps.tokens(col("text")), 8)).as("g"))
      .distinct()
    val leaked = result
      .select(explode(VectorOps.shingleHash60(
        TextOps.tokens(col("clean_text")), 8)).as("g"))
      .join(benchH, "g")
    assert(leaked.count() == 0, "decontamination cut left a leaked window")
    // and no benchmark doc leaks into the output wholesale
    assert(result.filter(col("source") === "src1").count() == 0)
  }

  test("near-duplicate outputs never straddle a split") {
    val pairs = graft.dedup.Dedup.minhashLshPairs(
      result.select(col("doc_id"), col("clean_text").as("text")),
      n = 3, numHashes = 16, bands = 4, threshold = 0.5)
    val splits = result.select("doc_id", "split")
    val straddle = pairs
      .join(splits.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("split", "sa"), "id_a")
      .join(splits.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("split", "sb"), "id_b")
      .filter(col("sa") =!= col("sb"))
    assert(straddle.count() == 0, "a near-dup pair crosses splits")
  }

  test("a training duplicate of a benchmark text never ships; null sources do") {
    import spark.implicits._
    // train doc 1 < bench doc 10 with IDENTICAL text: a dedup window
    // spanning bench rows would delete the BENCH copy and ship the
    // training duplicate uncut (the review-found ordering bug). Doc 3
    // has a NULL source — it must be treated as training data, not
    // silently dropped.
    val txt = "the secret eval answer is in the box ok"
    val docs = Seq(
      (1L, txt, Option("web")),
      (10L, txt, Option("bench")),
      (2L, "the cat and the dog is in a house of wonders", Option("web")),
      (3L, "the bird and the bee is on a tree now", Option.empty[String]))
      .toDF("doc_id", "text", "source")
    val dir = Files.createTempDirectory("graft-curate-dup").toString
    docs.write.parquet(s"$dir/in")
    val rep = Curate.run(spark, s"$dir/in", s"$dir/out",
      benchSource = "bench", qualityMin = 0.0)
    val ids = spark.read.parquet(s"$dir/out")
      .select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(1L), "benchmark-identical training doc shipped")
    assert(!ids.contains(10L), "benchmark doc shipped")
    assert(ids.contains(2L), "clean training doc lost")
    assert(ids.contains(3L), "null-source doc silently dropped")
    assert(rep.nInput == 4 && rep.nDeduped == 4)
  }

  test("Curate.run leaves no persisted RDD behind, after success and after a failed write") {
    val in = "/root/testdata/sf0.001/documents.parquet"
    val base = Files.createTempDirectory("graft-curate-release").toString
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    Curate.run(spark, in, s"$base/ok")
    assert(persisted == before, "a successful run left persisted RDDs")
    // `out` below a plain file: every stage up to the write runs (both
    // materializations included), then the write itself fails
    val plain = Files.createFile(Paths.get(s"$base/plain")).toString
    intercept[Exception](Curate.run(spark, in, s"$plain/out"))
    assert(persisted == before, "a run whose write failed left persisted RDDs")
  }

  test("one Curate.run executes exactly one query that scans its input") {
    val in = "/root/testdata/sf0.001/documents.parquet"
    // live scans only: adaptive query stages are followed, cached
    // relations are not (their scan ran in an earlier query)
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }
    val scanning = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val sentinel = "graft-curate-scan-sentinel"
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = {
        if (scans(qe.executedPlan).exists(
            _.relation.location.rootPaths.exists(_.toString.endsWith(in))))
          scanning.add(funcName)
        if (qe.analyzed.toString.contains(sentinel)) done.countDown()
      }
      override def onFailure(funcName: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    val out = Files.createTempDirectory("graft-curate-scans").toString + "/out"
    spark.listenerManager.register(listener)
    try {
      Curate.run(spark, in, out)
      // listener events arrive in order: once the sentinel query is
      // seen, every execution of the run has been seen
      spark.range(1).select(lit(sentinel)).collect()
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    assert(scanning.size == 1,
      s"expected one query scanning the input, saw ${scanning.toArray.mkString(", ")}")
  }

  test("the scoring stage runs bit-identical under Structured Streaming") {
    import org.apache.spark.sql.types._
    val src = "/root/testdata/sf0.001/documents.parquet"
    val schema = spark.read.parquet(src).schema
    val batch = Curate.score(spark.read.parquet(src))
      .select("doc_id", "quality", "lang_pred")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    val outDir = Files.createTempDirectory("graft-curate-stream").toString
    // file sources stream DIRECTORIES; stage the single-file table
    Files.createDirectories(java.nio.file.Paths.get(s"$outDir/in"))
    Files.copy(java.nio.file.Paths.get(src),
      java.nio.file.Paths.get(s"$outDir/in/part-0.parquet"))
    val q = Curate.score(
        spark.readStream.schema(schema).parquet(s"$outDir/in"))
      .select("doc_id", "quality", "lang_pred")
      .writeStream.format("parquet")
      .option("path", s"$outDir/out")
      .option("checkpointLocation", s"$outDir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(s"$outDir/out")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(streamed == batch, "streamed scoring diverged from batch")
  }

  test("incremental runs drop corpus near-dups and grow the index, never re-shipping") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-curate-inc").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.filter(col("doc_id") < 100).write.parquet(s"$base/in1")
    docs.write.parquet(s"$base/in2") // full snapshot: re-crawls batch 1
    val r1 = Curate.runIncremental(spark, s"$base/in1", s"$base/out1",
      s"$base/idx")
    assert(r1.nDupVsCorpus == 0, "empty index cannot produce dups")
    val ids1 = spark.read.parquet(s"$base/out1")
      .select("doc_id").as[Long].collect().toSet
    assert(ids1.nonEmpty)
    val r2 = Curate.runIncremental(spark, s"$base/in2", s"$base/out2",
      s"$base/idx")
    val ids2 = spark.read.parquet(s"$base/out2")
      .select("doc_id").as[Long].collect().toSet
    assert(ids2.nonEmpty, "novel docs must ship")
    assert((ids1 & ids2).isEmpty,
      "an already-accepted doc shipped again in the next increment")
    assert(r2.nDupVsCorpus >= ids1.size,
      "every accepted batch-1 doc re-crawled in batch 2 must count as a corpus dup")
    // index grew: batch-2 accepted docs are findable
    val setsIds = spark.read.parquet(s"$base/idx/sets")
      .select("id").as[Long].collect().toSet
    assert(ids1.subsetOf(setsIds) && ids2.subsetOf(setsIds))
  }

  test("a fully-filtered corpus reports nFinal=0 instead of throwing on the re-read") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-curate-empty").toString
    // every doc fails the language gate (no recognizable stopwords) and
    // none is benchmark-sourced — the output write emits zero part files
    Seq((1L, "xq zv qq", "srcA"), (2L, "zv qq xq", "srcB"))
      .toDF("doc_id", "text", "source").write.parquet(s"$base/in")
    val r = Curate.run(spark, s"$base/in", s"$base/out")
    assert(r.nInput == 2 && r.nGated == 0)
    assert(r.nFinal == 0 && r.perSplit.isEmpty,
      s"empty output must short-circuit to nFinal=0, got $r")
  }

  test("runIncremental rejects negative doc_ids before the surrogate remap") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-curate-neg").toString
    Seq((-1L, "the quick brown fox is here and the fox is quick", "srcA"))
      .toDF("doc_id", "text", "source").write.parquet(s"$base/in")
    val e = intercept[IllegalArgumentException] {
      Curate.runIncremental(spark, s"$base/in", s"$base/out", s"$base/idx")
    }
    assert(e.getMessage.contains("non-negative"),
      s"negative ids must fail loudly, got: ${e.getMessage}")
  }

  test("curateFollow streams dedup + classifier + near-dup gates with batch parity") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-curate-follow").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$base/in"))

    // at-rest corpus index: one already-accepted document
    val corpusText = "the quick brown fox jumps over the lazy dog " +
      "again and again in the bright morning sun today"
    Seq((1000L, corpusText)).toDF("doc_id", "text")
      .write.parquet(s"$base/corpus")
    graft.dedup.Dedup.minhashIndex(
      spark.read.parquet(s"$base/corpus"), s"$base/idx")

    // frozen model: strong negative weight on the non-ASCII fraction
    // (feature 4) — plain-ASCII docs score ~0.83, accented docs ≪ 0.5
    val model = graft.text.Classifier.Model(
      mu = Seq(0.0, 0.0, 0.0, 0.0, 0.0),
      sigma = Seq(1.0, 1.0, 1.0, 1.0, 1.0),
      w = Seq(2.0, 0.0, 0.0, 0.0, 0.0, -50.0))

    val novel1 = "completely fresh reporting about satellites and " +
      "oceans with no overlap at all whatsoever here"
    // an exact re-crawl of the indexed doc (new id): identical minhash
    // signature → all bands collide deterministically (a merely-similar
    // text may miss every band at 16/4 — the probabilistic contract);
    // jaccard 1.0 ≥ threshold gates it
    val nearDup = corpusText
    val novel2 = "another unrelated essay concerning gardens music " +
      "and architecture written from scratch entirely"
    val gatedOut = "curación de datos con acentos y más señales aquí " +
      "ñandú über straße çöl" // non-ASCII → classifier drops
    val flushTs = 100L * 24 * 3600 * 1000 // far future: advances watermark

    val q = Curate.curateFollow(spark, s"$base/in", s"$base/idx", model,
        minScore = 0.5, nearDupThreshold = 0.5,
        watermark = "1 hour", windowDur = "1 second")
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    def drop(name: String, rows: (Long, String, Long)*): Unit = {
      rows.toSeq.toDF("doc_id", "text", "ts")
        .coalesce(1).write.parquet(s"$base/stage/$name")
      val src = java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$base/stage/$name"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(src,
        java.nio.file.Paths.get(s"$base/in/$name.parquet"))
      q.processAllAvailable()
    }
    try {
      drop("b1", (1L, novel1, 1000L), (2L, nearDup, 1000L))
      drop("b2", (3L, novel1, 2000L)) // exact dup text of doc 1, new id
      drop("b3", (4L, novel2, 3000L), (5L, gatedOut, 3000L))
      // two gated-out flush drops: first advances the watermark past all
      // windows, second gives the no-data emission batch a trigger
      drop("f1", (6L, gatedOut, flushTs))
      drop("f2", (7L, gatedOut, flushTs + 1))
      assert(q.recentProgress.length >= 3, "expected ≥3 micro-batches")
    } finally q.stop()

    val out = spark.read.parquet(s"$base/out")
      .select("doc_id", "text", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    // batch parity: the accepted set and scores match the batch operators
    val batchScores = graft.text.Classifier.score(
        Seq((1L, novel1), (4L, novel2)).toDF("doc_id", "text"), model)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out.map(_._1) == Set(1L, 4L),
      s"curated set diverged: ${out.map(_._1)}")
    assert(out == Set((1L, novel1, batchScores(1L)),
      (4L, novel2, batchScores(4L))),
      "streamed scores/text diverged from the batch operators")
    // and the batch near-dup probe agrees doc 2 was the one to drop
    val batchDups = graft.dedup.Dedup.minhashLookup(spark, s"$base/idx",
        Seq((2L, nearDup)).toDF("doc_id", "text"))
      .select("probe_id").as[Long].collect().toSet
    assert(batchDups == Set(2L), "batch probe disagrees with stream gate")
  }

  test("packing offsets are contiguous per (split, shard) in doc_id order") {
    import spark.implicits._
    val rows = result.select("split", "shard", "doc_id", "n_tok", "start_off")
      .as[(String, Long, Long, Long, Long)].collect()
      .groupBy(r => (r._1, r._2))
    rows.foreach { case ((sp, sh), g) =>
      var off = 0L
      g.sortBy(_._3).foreach { case (_, _, id, n, start) =>
        assert(start == off, s"split=$sp shard=$sh doc=$id offset $start != $off")
        off += n
      }
    }
    assert(rows.nonEmpty)
  }

  test("--classifier-min gates monotonically and p>=0 is a no-op") {
    val base = Files.createTempDirectory("graft-curate-cls").toString
    val in = "/root/testdata/sf0.001/documents.parquet"
    // p is in (0,1): a 0.0 threshold must reproduce the ungated run
    // bit-for-bit (same report, same shipped doc set)
    val rNoop = Curate.run(spark, in, s"$base/noop", classifierMin = Some(0.0))
    assert(rNoop.json == report.json)
    val noopIds = spark.read.parquet(s"$base/noop").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val baseIds = result.select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(noopIds == baseIds)
    // a harsh threshold strictly shrinks the gated set but the
    // pipeline (span cut, strip, split, pack, report) stays coherent
    val rHard = Curate.run(spark, in, s"$base/hard", classifierMin = Some(0.999))
    assert(rHard.nGated < report.nGated)
    assert(rHard.nFinal <= rHard.nGated)
    assert(rHard.nInput == report.nInput)
  }
}
