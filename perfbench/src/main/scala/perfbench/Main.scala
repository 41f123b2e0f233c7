package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point.
  *
  * {{{
  * perfbench.Main run --workload W --seed N --seconds S --trace 0|1
  *                    --work DIR --data DIR --result FILE --archive DIR
  * perfbench.Main calibrate --data DIR --work DIR --result FILE
  * perfbench.Main selftest --data DIR --work DIR
  * }}}
  *
  * One closed-loop client on `local[4]`: each call is issued after the
  * previous one returned. `run` writes one JSON result object to FILE, and
  * the per-pass record (counters, host steal, spans) under the archive dir.
  */
object Main {
  val Cores = 4
  val SetupRepeats = 5
  /** Warmup never runs longer than this many times `warmupSeconds`. */
  val WarmupCap = 2.5

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def path(k: String): Path = Path.of(opts(k)).toAbsolutePath
    // Exit explicitly either way: Spark's non-daemon threads would keep a
    // JVM whose main thread threw alive.
    val code =
      try mode match {
        case "run" =>
          run(opts("workload"), opts("seed").toLong, opts("seconds").toDouble, opts("trace") == "1",
            path("work"), path("data"), path("result"), path("archive"))
          0
        case "calibrate" => Calibrate.run(path("data"), path("work"), path("result"))
        case "selftest" => SelfTest.run(path("data"), path("work"))
        case other =>
          System.err.println(s"unknown mode '$other'")
          2
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    sys.exit(code)
  }

  /** What one measured pass did, kept beside its time. */
  final case class PassRecord(
      index: Int,
      traced: Boolean,
      result: PassResult,
      work: Work,
      stealS: Double
  ) {
    def wallS: Double = result.wallS
    def json: String = Json.obj(
      "pass" -> index.toString, "traced" -> traced.toString, "wall_s" -> Json.num(wallS),
      "attempted" -> result.attempted.toString, "failed" -> result.failed.toString,
      "steal_s" -> Json.num(stealS),
      "latencies" -> Json.obj(result.latencies.map { case (k, v) => k -> Json.num(v) }: _*),
      "counters" -> Json.obj(work.counters.map { case (k, v) => k -> Json.num(v) }: _*),
      "times" -> Json.obj(work.times.map { case (k, v) => k -> Json.num(v) }: _*)
    )
  }

  def median(xs: Seq[Double]): Double = Oracle.percentile(xs.sorted.toArray, 0.5)

  def run(
      name: String,
      seed: Long,
      seconds: Double,
      traced: Boolean,
      work: Path,
      data: Path,
      resultFile: Path,
      archive: Path
  ): Unit = {
    Files.createDirectories(work)
    val runId = s"$name-s$seed-t${if (traced) 1 else 0}-${System.currentTimeMillis}"
    val born = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2f s  $what")
    val w = Workloads(name, seed, work, data)

    // Set-up: a fresh session and the workload's inputs, several times.
    var spark: SparkSession = null
    var probe: Probe = null
    val setupTimes = (1 to SetupRepeats).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work)
      probe = new Probe(spark)
      w.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    phase(s"set up x$SetupRepeats")
    val off = new Tracer(false, runId, () => 0L)
    val on = new Tracer(true, runId, () => probe.snapshot().jobs)
    try {
      w.prepare(spark)
      phase("oracles prepared")
      // Untimed warmup (JIT, codegen, first reads); its output is checked
      // too. It runs for the workload's warmup time, then on (up to a cap)
      // while the latest pass is still clearly faster than every earlier
      // one. A traced run also warms up the traced pass path.
      val warm = scala.collection.mutable.ArrayBuffer.empty[PassResult]
      if (w.warmupSeconds > 0) {
        val t0 = System.nanoTime()
        def elapsed = (System.nanoTime() - t0) / 1e9
        def falling = warm.size < 3 || warm.last.wallS < 0.97 * warm.init.map(_.wallS).min
        while (warm.isEmpty || elapsed < w.warmupSeconds ||
            (falling && elapsed < WarmupCap * w.warmupSeconds))
          warm += w.pass(spark, off, new Meter(probe))
        if (traced) warm += w.pass(spark, new Tracer(true, runId, () => 0L), new Meter(probe))
        phase(f"warmed up: ${warm.size} passes, last ${warm.last.wallS}%.3f s")
      }

      // Closed loop. A traced run alternates untraced and traced passes,
      // starting and ending untraced, so the tracing overhead is measured in
      // one context even while later passes still get faster.
      val passes = scala.collection.mutable.ArrayBuffer.empty[PassRecord]
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      while (passes.size < (if (traced) 3 else 1) || System.nanoTime() < deadline ||
          (traced && passes.size % 2 == 0)) {
        val i = passes.size
        val withSpans = traced && i % 2 == 1
        val t = if (withSpans) on else off
        t.pass = i
        val m = new Meter(probe)
        val r = t.span("pass")(w.pass(spark, t, m))
        passes += PassRecord(i, withSpans, r, m.work, m.stealS)
        if (withSpans) w.layers(spark, on)
      }

      phase(s"${passes.size} passes measured")
      val results = warm.toSeq ++ passes.map(_.result)
      val attempted = results.map(_.attempted).sum
      val failed = results.map(_.failed).sum
      val failures = results.flatMap(_.failures)
      failures.take(20).foreach(f => System.err.println(s"[perfbench] MISMATCH $f"))

      val plain = passes.filterNot(_.traced).toSeq
      val latencies = plain.flatMap(_.result.latencies.map(_._2)).sorted.toArray
      System.err.println(s"[perfbench] $runId: ${passes.size} passes, " +
        s"${latencies.length} latency samples, $failed of $attempted operations failed")
      val metrics: Seq[(String, Double, String)] =
        if (!traced) Seq(
          ("setup_s", median(setupTimes), "s"),
          ("wall_s", median(plain.map(_.wallS)), "s"),
          ("query_p50_s", Oracle.percentile(latencies, 0.5), "s"),
          ("peak_rss_mb", Host.peakRssMb(), "MB")
        )
        else layerMetrics(w, on, passes.toSeq, attempted, failed)

      val metricsJson = Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
      }: _*)
      val result = Json.obj(
        "correct" -> (failed == 0).toString, "attempted" -> attempted.toString,
        "failed" -> failed.toString, "metrics" -> metricsJson)

      // Context beside every timed pass: counters, host steal, input sizes.
      Files.createDirectories(archive)
      val context = Json.obj(
        "run" -> Json.str(runId), "workload" -> Json.str(name), "seed" -> seed.toString,
        "traced" -> traced.toString, "cores" -> Cores.toString, "clients" -> "1",
        "setup_s" -> Json.arr(setupTimes.map(Json.num)),
        "sizes" -> Json.obj(w.sizes.map { case (k, v) => k -> Json.num(v) }: _*),
        "latency_samples" -> latencies.length.toString,
        "failed_frac" -> Json.num(failed.toDouble / math.max(1, attempted)),
        "passes" -> Json.arr(passes.map(_.json)),
        "failures" -> Json.arr(failures.take(100).map(Json.str))
      )
      Files.writeString(archive.resolve(s"$runId.json"), context + "\n")
      if (traced) on.write(archive.resolve(s"$runId.spans.jsonl"))
      Files.writeString(resultFile, result + "\n")
    } finally spark.stop()
  }

  /** The per-layer metrics of a traced run, per traced pass. */
  private def layerMetrics(
      w: Workload,
      t: Tracer,
      passes: Seq[PassRecord],
      attempted: Int,
      failed: Int
  ): Seq[(String, Double, String)] = {
    val tp = passes.filter(_.traced)
    val n = tp.size
    def mean(f: Work => Double): Double = tp.map(p => f(p.work)).sum / math.max(1, n)
    def secs(span: String): Double = t.secondsPerPass(span, n)
    val mb = 1024.0 * 1024.0
    val coreS = secs("sim.core")
    val requests = w.sizes.toMap.getOrElse("requests", 0.0)
    val tracedWall = tp.map(_.wallS).sum / math.max(1, n)
    val plain = passes.filterNot(_.traced)
    val cliTimes = plain.flatMap(_.result.latencies.collect { case ("cli", s) => s })
    val self = t.selfSecondsByLayer
    Seq(
      ("sources.read_s", secs("sources.read"), "s"),
      ("sources.open_jobs", t.jobsPerPass("sources.read", n), "count"),
      ("queries.build_s", secs("queries.build"), "s"),
      ("queries.build_jobs", t.jobsPerPass("queries.build", n), "count"),
      ("catalyst.analysis_s", mean(_.analysisMs / 1e3), "s"),
      ("catalyst.optimization_s", mean(_.optimizationMs / 1e3), "s"),
      ("catalyst.planning_s", mean(_.planningMs / 1e3), "s"),
      ("exec.action_s", mean(_.jobBusyMs / 1e3), "s"),
      ("exec.jobs", mean(_.jobs.toDouble), "count"),
      ("exec.stages", mean(_.stages.toDouble), "count"),
      ("exec.tasks", mean(_.tasks.toDouble), "count"),
      ("exec.task_run_s", mean(_.taskRunMs / 1e3), "s"),
      ("exec.task_cpu_s", mean(_.taskCpuNs / 1e9), "s"),
      ("exec.gc_s", mean(_.gcMs / 1e3), "s"),
      ("exec.max_task_s", median(tp.map(_.work.maxTaskMs / 1e3)), "s"),
      ("exec.input_mb", mean(_.inputBytes / mb), "MB"),
      ("exec.shuffle_write_mb", mean(_.shuffleWriteBytes / mb), "MB"),
      ("exec.shuffle_read_mb", mean(_.shuffleReadBytes / mb), "MB"),
      ("exec.spill_mb", mean(_.spillBytes / mb), "MB"),
      ("exec.failed_tasks", mean(_.failedTasks.toDouble), "count"),
      ("sim.core_s", coreS, "s"),
      ("sim.core_events_per_s", if (coreS > 0) requests / coreS else 0.0, "1/s"),
      ("sim.hosted_s", secs("sim.hosted"), "s"),
      ("sim.hosting_ratio", if (coreS > 0) secs("sim.hosted") / coreS else 0.0, "ratio"),
      ("stats.summary_s", secs("stats.summary"), "s"),
      ("stats.api_usage_s", secs("stats.api_usage"), "s"),
      ("cli.run_s", if (cliTimes.isEmpty) 0.0 else median(cliTimes), "s"),
      ("host.steal_s", median(tp.map(_.stealS)), "s"),
      ("trace.wall_s", tracedWall, "s"),
      ("trace.overhead_s", tracedWall - plain.map(_.wallS).sum / math.max(1, plain.size), "s"),
      ("trace.layer_share", t.childSecondsPerPass("pass", n) / tracedWall, "ratio"),
      ("self.pass_s", self.getOrElse("pass", 0.0) / math.max(1, n), "s"),
      ("self.sources_s", self.getOrElse("sources", 0.0) / math.max(1, n), "s"),
      ("self.queries_s", self.getOrElse("queries", 0.0) / math.max(1, n), "s"),
      ("self.exec_s", self.getOrElse("exec", 0.0) / math.max(1, n), "s"),
      ("self.sim_s", self.getOrElse("sim", 0.0) / math.max(1, n), "s"),
      ("self.stats_s", self.getOrElse("stats", 0.0) / math.max(1, n), "s"),
      ("check.failed_frac", failed.toDouble / math.max(1, attempted), "ratio")
    )
  }
}
