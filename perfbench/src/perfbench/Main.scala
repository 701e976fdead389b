package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.sum

/** Benchmark entry point: one workload per process.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --scratch <dir> --trace-out <file>
  *                  [--toy] [--plant-wrong-expectation] [--pin-ops]
  *
  * Prints one JSON result line last: the end-to-end metrics with
  * `--trace 0`, the per-layer metrics with `--trace 1`. Exits 1 when an
  * output check failed. */
object Main {
  val Workloads = Seq("crawl_wide", "ops_sweep")

  val EndToEnd: Seq[(String, String)] = Seq(
    "items_per_s" -> "1/s", "step_geomean_s" -> "s", "peak_heap_mb" -> "MB", "setup_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "core.fetch_page_us" -> "us", "core.parse_page_us" -> "us", "core.canon_us" -> "us",
    "core.fetch_image_us" -> "us", "core.decode_hash_image_us" -> "us",
    "crawl.wave_s.p50" -> "s", "crawl.wave_s.max" -> "s", "crawl.driver_gap_s" -> "s",
    "crawl.jobs" -> "count", "crawl.stages" -> "count", "crawl.tasks" -> "count",
    "crawl.admit.busy_s" -> "s", "crawl.admit.skew" -> "ratio", "crawl.admit.ratio" -> "ratio",
    "crawl.novelty.busy_s" -> "s", "crawl.novelty.ratio" -> "ratio", "crawl.dup_refs" -> "count",
    "crawl.fetch.busy_s" -> "s", "crawl.fetch.skew" -> "ratio", "crawl.images.busy_s" -> "s",
    "crawl.shuffle_write_bytes" -> "bytes", "crawl.spill_bytes" -> "bytes", "crawl.gc_s" -> "s",
    "bloom.merge.busy_s" -> "s", "bloom.rebuild.busy_s" -> "s", "bloom.fp_rate" -> "ratio",
    "bloom.filter_bytes" -> "bytes",
    "lake.commit.busy_s.frontier" -> "s", "lake.commit.busy_s.seen" -> "s",
    "lake.commit.busy_s.budget" -> "s", "lake.commit.busy_s.images" -> "s",
    "lake.commit.busy_s.metrics" -> "s", "lake.commit_fixed_ms" -> "ms", "lake.read.busy_s" -> "s",
    "lake.files_written" -> "count", "lake.bytes_written" -> "bytes", "lake.bytes_per_url" -> "bytes",
  ) ++ OpsWorkload.moduleNames.map(m => s"ops.${m}_s" -> "s") ++ Seq(
    "ops.shuffle_write_bytes" -> "bytes", "ops.spill_bytes" -> "bytes", "ops.gc_s" -> "s",
    "ops.exchanges" -> "count", "trace.overhead_pct" -> "%")

  /** Measured operations per run, at least: a median of three shrugs
    * off one disturbed operation. */
  val MinOps = 3

  /** What a workload run reports. */
  final class Outcome {
    var attempted = 0
    val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
    val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
    val info: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
    var trace: String = "{}"

    def op(failure: Option[String]): Unit = {
      attempted += 1
      failure.foreach { f => failures += f; System.err.println(s"perfbench: check failed: $f") }
    }
  }

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val scratch = Paths.get(opt("scratch"))
    Files.createDirectories(scratch)
    val toy = flags("toy")
    val plant = flags("plant-wrong-expectation")

    // set-up: session start until the first job has run, several times
    val setups = (1 to 3).map { i =>
      val (s, secs) = Runtime.time { val s = Runtime.session(scratch); s.range(1).count(); s }
      if (i < 3) s.stop()
      secs
    }
    val spark = SparkSession.active

    if (flags("pin-ops")) { pinOps(spark, seed); spark.stop(); return }

    val out =
      if (workload == "ops_sweep") runOps(spark, new OpsWorkload(spark, seed, toy, plant), seconds, traced)
      else runCrawl(spark, new CrawlWorkload(spark, seed, toy, scratch, plant),
        seconds, traced, s"$workload-$seed")
    out.metrics("setup_s") = Runtime.median(setups)
    out.info("process_s") = f"${(System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1f"
    out.info ++= Seq(
      "workload" -> workload, "seed" -> seed.toString,
      "nproc" -> java.lang.Runtime.getRuntime.availableProcessors().toString,
      "threads" -> Runtime.threads.toString,
      "heap_mb" -> (java.lang.Runtime.getRuntime.maxMemory() / (1024 * 1024)).toString,
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version)
    spark.stop()

    if (traced) opt.get("trace-out").foreach(p => Files.writeString(Paths.get(p), out.trace))
    val names = if (traced) PerLayer else EndToEnd
    val metrics = names.map { case (n, unit) =>
      n -> Json.obj(Seq("value" -> Json.num(out.metrics.getOrElse(n, 0.0)), "unit" -> Json.str(unit)))
    }
    println("perfbench-info " + Json.obj(out.info.toSeq.map { case (k, v) => k -> Json.str(v) }))
    println(Json.obj(Seq(
      "correct" -> (out.failures.isEmpty).toString,
      "attempted" -> math.max(out.attempted, 1).toString,
      "failed" -> out.failures.size.toString,
      "metrics" -> Json.obj(metrics))))
    System.out.flush()
    if (out.failures.nonEmpty) System.exit(1)
  }

  // ------------------------------------------------------------- crawls

  private def runCrawl(spark: SparkSession, w: CrawlWorkload, seconds: Double, traced: Boolean,
                       runId: String): Outcome = {
    val out = new Outcome
    // RefSim's expectation is computed beside the warm-up, outside every timing
    val sim = scala.concurrent.Future(w.expected)(scala.concurrent.ExecutionContext.global)

    // warm-up: at least two crawls, then until two consecutive ones agree
    // within 10% or the warm-up has used the measuring time
    val warm = mutable.ArrayBuffer.empty[Double]
    val w0 = System.nanoTime()
    def agreed = warm.size >= 2 && math.abs(warm.last / warm(warm.size - 2) - 1) < 0.10
    while (warm.size < 2 || (!agreed && (System.nanoTime() - w0) / 1e9 < seconds)) {
      val r = w.crawl(); warm += r.wallS; w.drop(r)
    }
    out.info ++= Seq("warmup_s" -> warm.map(x => f"$x%.2f").mkString(","), "warmup_agreed" -> agreed.toString)
    scala.concurrent.Await.result(sim, scala.concurrent.duration.Duration.Inf)

    // measured crawls, each checked against RefSim outside its timing
    val walls = mutable.ArrayBuffer.empty[Double]
    val rates = mutable.ArrayBuffer.empty[Double]
    val steps = mutable.ArrayBuffer.empty[Double]
    Runtime.PeakHeap.reset()
    while (walls.size < MinOps || walls.sum < seconds) {
      System.gc() // every crawl starts from the same live heap
      Runtime.PeakHeap.on = true
      val r = w.crawl()
      Runtime.PeakHeap.on = false
      walls += r.wallS
      rates += r.admitted / r.wallS
      steps += Runtime.geomean(r.waveSeconds)
      out.op(w.check(r))
      w.drop(r)
    }
    out.metrics ++= Seq(
      "items_per_s" -> Runtime.median(rates.toSeq), "step_geomean_s" -> Runtime.median(steps.toSeq),
      "peak_heap_mb" -> Runtime.PeakHeap.mb)
    out.info("measured_s") = walls.map(x => f"$x%.2f").mkString(",")
    if (traced) traceCrawl(spark, w, out, runId, untracedS = Runtime.median(walls.toSeq))
    out
  }

  private def traceCrawl(spark: SparkSession, w: CrawlWorkload, out: Outcome, runId: String,
                         untracedS: Double): Unit = {
    val spans = new Spans(runId)
    val tracer = new Tracer(CrawlLayers.classify)
    spark.sparkContext.addSparkListener(tracer)
    val gc0 = Runtime.gcSeconds
    val (r, tracedWallS) = Runtime.time(spans("crawl")(root => w.tracedCrawl(spans, root)))
    val gcS = Runtime.gcSeconds - gc0
    tracer.drain()
    spark.sparkContext.removeSparkListener(tracer)
    out.op(w.check(r))

    val c = r.crawler
    val layers = tracer.layers
    def busy(l: String) = layers.get(l).map(_.busyS).getOrElse(0.0)
    def skew(l: String) = layers.get(l).map(_.skew).getOrElse(0.0)
    val tasks = tracer.allTasks
    val waveSpans = spans.all.filter(_.name.startsWith("wave-"))
    val waveS = waveSpans.map(_.durMs / 1000.0)
    val gapS = waveSpans.map { s =>
      val inside = tasks.map(t => (t.launchMs max s.startMs, t.finishMs min s.endMs))
      (s.durMs - Intervals.coveredMs(inside)) / 1000.0
    }.sum
    val waves = math.max(r.waves, 1).toDouble
    val frontierRows = (0 until r.waves).map(k => c.frontierT.snapshot(k).map(_.totalRows).getOrElse(0L)).sum
    val novel = (1 to r.waves).map(k => c.runLog.stats(k).getOrElse("novel", 0L)).sum
    val dupRefs = c.metricsT.readAll().agg(sum("dup_dropped")).head().getLong(0)
    val (core, candidates) = w.coreMetrics()
    val bloom = r.bloom.get
    val (fpRate, bloomMiss) = w.bloomProbe(r, bloom)
    out.op(bloomMiss)
    val (lakeBytes, lakeFiles) = Runtime.treeSize(r.lake)

    out.metrics ++= core
    out.metrics ++= Seq(
      "crawl.wave_s.p50" -> Runtime.median(waveS), "crawl.wave_s.max" -> waveS.max,
      "crawl.driver_gap_s" -> gapS,
      "crawl.jobs" -> tracer.jobCount / waves, "crawl.stages" -> tracer.stageCount / waves,
      "crawl.tasks" -> tasks.size / waves,
      "crawl.admit.busy_s" -> busy("crawl.admit"), "crawl.admit.skew" -> skew("crawl.admit"),
      "crawl.admit.ratio" -> r.admitted.toDouble / math.max(frontierRows, 1L),
      "crawl.novelty.busy_s" -> busy("crawl.novelty"),
      "crawl.novelty.ratio" -> novel.toDouble / math.max(candidates, 1L),
      "crawl.dup_refs" -> dupRefs.toDouble,
      "crawl.fetch.busy_s" -> busy("crawl.fetch"), "crawl.fetch.skew" -> skew("crawl.fetch"),
      "crawl.images.busy_s" -> busy("crawl.images"),
      "crawl.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "crawl.spill_bytes" -> tasks.map(_.spill).sum.toDouble, "crawl.gc_s" -> gcS,
      "bloom.merge.busy_s" -> busy("bloom.merge"), "bloom.rebuild.busy_s" -> busy("bloom.rebuild"),
      "bloom.fp_rate" -> fpRate,
      "bloom.filter_bytes" -> w.bloomFilterBytes(bloom),
      "lake.commit.busy_s.frontier" -> busy("lake.commit.frontier"),
      "lake.commit.busy_s.seen" -> busy("lake.commit.seen"),
      "lake.commit.busy_s.budget" -> busy("lake.commit.budget"),
      // the images commit job also fetches and decodes the images
      "lake.commit.busy_s.images" -> busy("crawl.images"),
      "lake.commit.busy_s.metrics" -> busy("lake.commit.metrics"),
      "lake.commit_fixed_ms" -> w.commitFixedMs(), "lake.read.busy_s" -> tracer.scanBusyS,
      "lake.files_written" -> lakeFiles.toDouble,
      "lake.bytes_written" -> tasks.map(_.outputBytes).sum.toDouble,
      "lake.bytes_per_url" -> lakeBytes.toDouble / math.max(r.admitted, 1L),
      "trace.overhead_pct" -> (r.wallS / untracedS - 1) * 100)
    out.trace = traceJson(runId, spans, tracer, tracedWallS)
    w.drop(r)
  }

  // ---------------------------------------------------------------- ops

  private def runOps(spark: SparkSession, w: OpsWorkload, seconds: Double, traced: Boolean): Outcome = {
    val out = new Outcome
    val names = w.order.map(_._1)

    // warm-up pass: JIT, code generation and the persisted indexes; each
    // query's full answer is checked here, outside every timing
    val badDigest = names.flatMap(q => w.verify(q, w.answerOf(q), rowsOnly = false).map(q -> _)).toMap

    /** One timed pass: (query, seconds) for the queries that succeeded. */
    def pass(): Seq[(String, Double)] = names.flatMap { q =>
      val got = w.timeQuery(q)
      out.op(badDigest.get(q).orElse(w.verify(q, got.map { case (rows, _) => Answer(rows, "") }, rowsOnly = true)))
      got.toOption.map { case (_, secs) => q -> secs }
    }

    val totals = mutable.ArrayBuffer.empty[Double]
    val rates = mutable.ArrayBuffer.empty[Double]
    val geos = mutable.ArrayBuffer.empty[Double]
    Runtime.PeakHeap.reset()
    while (totals.size < MinOps || totals.sum < seconds) {
      System.gc()
      Runtime.PeakHeap.on = true
      val times = pass().map(_._2)
      Runtime.PeakHeap.on = false
      totals += times.sum
      rates += times.size / times.sum
      geos += Runtime.geomean(times)
    }
    out.metrics ++= Seq(
      "items_per_s" -> Runtime.median(rates.toSeq), "step_geomean_s" -> Runtime.median(geos.toSeq),
      "peak_heap_mb" -> Runtime.PeakHeap.mb)
    out.info("measured_s") = totals.map(x => f"$x%.2f").mkString(",")

    if (traced) {
      val spans = new Spans(s"ops_sweep-${w.seed}")
      val tracer = new Tracer(_ => "other")
      val module = OpsWorkload.modules.toMap
      spark.sparkContext.addSparkListener(tracer)
      val gc0 = Runtime.gcSeconds
      val (times, tracedWallS) = Runtime.time(spans("pass") { root =>
        names.flatMap { q =>
          spark.sparkContext.setLocalProperty(Tracer.LayerProperty, s"ops.${module(q)}")
          spans(s"query:$q", root)(_ => w.timeQuery(q)).toOption.map { case (_, s) => q -> s }
        }
      })
      spark.sparkContext.setLocalProperty(Tracer.LayerProperty, null)
      val gcS = Runtime.gcSeconds - gc0
      tracer.drain()
      spark.sparkContext.removeSparkListener(tracer)
      val tasks = tracer.allTasks
      val perModule = times.groupBy { case (q, _) => module(q) }.map { case (m, ts) => m -> ts.map(_._2).sum }
      out.metrics ++= OpsWorkload.moduleNames.map(m => s"ops.${m}_s" -> perModule.getOrElse(m, 0.0))
      out.metrics ++= Seq(
        "ops.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
        "ops.spill_bytes" -> tasks.map(_.spill).sum.toDouble, "ops.gc_s" -> gcS,
        "ops.exchanges" -> tracer.exchangeStageCount.toDouble,
        "trace.overhead_pct" -> (times.map(_._2).sum / Runtime.median(totals.toSeq) - 1) * 100)
      out.trace = traceJson(spans.runId, spans, tracer, tracedWallS)
    }
    out
  }

  /** Record every swept query's answer as the pinned expectation. */
  private def pinOps(spark: SparkSession, seed: Long): Unit = {
    val w = new OpsWorkload(spark, seed, toy = false, plantWrong = false)
    val lines = OpsWorkload.modules.map(_._1).map { q =>
      w.answerOf(q) match {
        case Right(a) => s"$q\t${a.rows}\t${a.digest}"
        case Left(err) => throw new IllegalStateException(err)
      }
    }
    Files.createDirectories(OpsWorkload.expectedFile.getParent)
    Files.writeString(OpsWorkload.expectedFile, lines.mkString("", "\n", "\n"))
    println(s"pinned ${lines.size} answers in ${OpsWorkload.expectedFile}")
  }

  // -------------------------------------------------------------- trace

  private def traceJson(runId: String, spans: Spans, tracer: Tracer, wallS: Double): String = {
    val spanJs = spans.all.map { s =>
      Json.obj(Seq("run_id" -> Json.str(s.runId), "id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "self_ms" -> spans.selfMs(s).toString))
    }
    val layerJs = tracer.layers.toSeq.sortBy(_._1).map { case (name, l) =>
      name -> Json.obj(Seq(
        "busy_s" -> Json.num(l.busyS), "tasks" -> l.tasks.toString,
        "max_task_s" -> Json.num(l.maxTaskS), "median_task_s" -> Json.num(l.medianTaskS),
        "skew" -> Json.num(l.skew), "shuffle_write_bytes" -> l.shuffleWriteBytes.toString,
        "spill_bytes" -> l.spillBytes.toString, "gc_s" -> Json.num(l.gcS),
        "failed_tasks" -> l.failedTasks.toString, "stages" -> l.stages.toString,
        "exchange_stages" -> l.exchangeStages.toString))
    }
    Json.obj(Seq("run_id" -> Json.str(runId), "wall_ms" -> Json.num(wallS * 1000),
      "spans" -> Json.arr(spanJs), "layers" -> Json.obj(layerJs)))
  }
}
