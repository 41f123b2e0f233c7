package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.{PriorityConfig, SimConfig, SimRequest}
import graft.sim.{SimCore, SimOperator}
import graft.sources.{DataGen, RequestCsv, Tables}
import graft.stats.Statistics

/** What one pass did: its timed wall time (input to checked result,
  * untimed warmup runs excluded), one named latency per timed call, how
  * many operations were attempted and failed, and what the mismatches were.
  */
final case class PassResult(
    wallS: Double,
    latencies: Seq[(String, Double)],
    attempted: Int,
    failed: Int,
    failures: Seq[String]
)

/** One benchmark workload. The harness calls `setup` (timed, repeated),
  * `prepare` (untimed oracles), untimed warmup passes, then `pass` in a
  * closed loop; a traced run also calls `layers` after each traced pass.
  * A pass wraps its timed parts in the [[Meter]], so the counters recorded
  * beside its time cover the same work as the time.
  */
trait Workload {
  def name: String
  /** Input sizes as recorded beside every run. */
  def sizes: Seq[(String, Double)]
  def setup(spark: SparkSession): Unit
  def prepare(spark: SparkSession): Unit = ()
  def pass(spark: SparkSession, t: Tracer, m: Meter): PassResult
  /** Untimed warmup passes (checked like any pass) run for at least this
    * long, and on until pass times stop falling; 0 skips them.
    */
  def warmupSeconds: Double = 6.0
  def layers(spark: SparkSession, t: Tracer): Unit = ()
}

object Workloads {
  def apply(name: String, seed: Long, work: Path, data: Path): Workload = name match {
    case "sim-replay" => new SimReplay(seed, work)
    case "catalog-sample" => new CatalogSample(seed, data)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** The reference CLI default over a seeded CSV from the program's own
  * generator: `graft.cli.Main.run <csv> -w 4` (priority strategy).
  *
  * An untraced pass calls `Main.run`. A traced pass makes the calls
  * `Main.run` makes, one layer per span (read and count, simulate and
  * cache, summary, API usage), and checks the rows they return; the only
  * action it adds is the count that fills the cache.
  */
final class SimReplay(seed: Long, work: Path) extends Workload {
  val name = "sim-replay"
  // DataGen's shape: 5 users x this many requests each.
  private val users = 5
  private val perUser = 10000
  private val rows = users.toLong * perUser
  private val cfg = SimConfig(numWorkers = 4, strategy = PriorityConfig())
  private val csv = work.resolve("requests_csv").toString
  private var input: Array[SimRequest] = Array.empty
  private var want: Summary = _
  private var wantUsage: Seq[(String, Long)] = Nil

  def sizes: Seq[(String, Double)] = Seq("requests" -> rows.toDouble, "workers" -> 4.0)

  def setup(spark: SparkSession): Unit =
    DataGen.writeCsv(DataGen.generate(spark, users, perUser, seed), csv)

  /** Oracle input: the CSV parsed in plain Scala (not by the program). */
  override def prepare(spark: SparkSession): Unit = {
    val part = Files.list(Path.of(csv)).filter(_.getFileName.toString.startsWith("part-"))
      .findFirst().get()
    val lines = Files.readAllLines(part).toArray(Array.empty[String]).drop(1)
    input = lines.zipWithIndex.map { case (l, i) =>
      val Array(user, ts, proc) = l.split(",", -1)
      val micros = {
        val inst = java.time.Instant.parse(ts)
        inst.getEpochSecond * 1000000L + inst.getNano / 1000
      }
      SimRequest(user, Some(micros), proc.toDouble, (micros - RequestCsv.SimStartMicros) / 1e6, i.toLong)
    }
    require(input.length == rows, s"generated ${input.length} rows, expected $rows")
    val done = SimCore.run(cfg, input.iterator).toVector
    want = Oracle.summary(done)
    wantUsage = Oracle.apiUsage(done, cfg.numApis)
  }

  def pass(spark: SparkSession, t: Tracer, m: Meter): PassResult = m {
    val t0 = System.nanoTime()
    val failures = if (t.enabled) layered(spark, t) else cli(spark)
    val wall = (System.nanoTime() - t0) / 1e9
    PassResult(wall, Seq("cli" -> wall), 1, if (failures.isEmpty) 0 else 1, failures)
  }

  private def cli(spark: SparkSession): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      graft.cli.Main.run(spark, Array(csv, "-w", "4"))
    }
    Checks.cliReport(Checks.parseCliReport(out.toString("UTF-8")), rows, want, wantUsage)
  }

  private def layered(spark: SparkSession, t: Tracer): Seq[String] = {
    val (requests, total) = t.span("sources.read") {
      val r = RequestCsv.read(spark, csv)
      (r, r.count())
    }
    val completed = t.span("sim.hosted") {
      val df = Statistics.toDF(SimOperator.simulate(requests, cfg)).cache()
      df.count()
      df
    }
    val summary = t.span("stats.summary")(Statistics.summary(completed).collect()(0))
    val usage = t.span("stats.api_usage")(
      Statistics.apiUsage(completed, cfg.numApis).orderBy("api_id").collect())
    completed.unpersist(blocking = true)
    val gotUsage = usage.map(r => r.getAs[String]("api_id") -> r.getAs[Long]("n_used")).toSeq
    (if (total == rows) Nil else Seq(s"input rows: got $total, want $rows")) ++
      Checks.summary("summary", Checks.summaryRow(summary), want) ++
      (if (gotUsage == wantUsage) Nil else Seq(s"api usage: got $gotUsage, want $wantUsage"))
  }

  /** `SimCore.run` alone, without Spark, on the same requests. */
  override def layers(spark: SparkSession, t: Tracer): Unit =
    t.span("sim.core")(SimCore.run(cfg, input.iterator).foreach(_ => ()))
}

/** One catalogue entry with its expected result, from `catalog.tsv`. */
final case class Expected(name: String, rows: Long, hash: Long, calibS: Double)

/** A cost-stratified sample of `SparkEntry.queries`, in seed-drawn order,
  * over the parquet tables shipped with the benchmark, in one session.
  * Each query runs twice, with `graft.Bench`'s session reset before each
  * run: an untimed warmup run (a first execution is about twice as slow,
  * and later queries evict its generated code), then the timed run.
  */
final class CatalogSample(seed: Long, data: Path) extends Workload {
  val name = "catalog-sample"
  private val dir = data.resolve("sf0.01").toString
  private var sample: Seq[(Expected, (SparkSession, String) => DataFrame)] = Nil

  def sizes: Seq[(String, Double)] =
    Seq("queries_per_pass" -> sample.size.toDouble, "population" -> Catalog.expected(data).size.toDouble)

  def setup(spark: SparkSession): Unit = {
    val fns = graft.SparkEntry.queries
    sample = Catalog.draw(Catalog.expected(data), seed).map(e => e -> fns(e.name))
    // Open every table once so the session pays its first-read costs here.
    Catalog.tables.foreach(n => Catalog.open(spark, dir, n).schema)
  }

  /** Each query warms up inside the pass, right before its timed run. */
  override def warmupSeconds: Double = 0.0

  /** Wall time, latencies and counters cover the timed runs and their
    * checks only.
    */
  def pass(spark: SparkSession, t: Tracer, m: Meter): PassResult = {
    val results = sample.map { case (e, fn) =>
      Catalog.reset(spark)
      val warm = Catalog.verify(e, scala.util.Try(fn(spark, dir).collect()))
      Catalog.reset(spark)
      val (dt, outcome) = m {
        val t0 = System.nanoTime()
        val outcome = scala.util.Try {
          t.span("queries.query") {
            val df = t.span("queries.build")(fn(spark, dir))
            t.span("exec.action")(df.collect())
          }
        }
        ((System.nanoTime() - t0) / 1e9, outcome)
      }
      val t1 = System.nanoTime()
      val timed = Catalog.verify(e, outcome)
      (e.name -> dt, dt + (System.nanoTime() - t1) / 1e9, warm.toSeq ++ timed)
    }
    Catalog.reset(spark)
    val failures = results.flatMap(_._3)
    PassResult(results.map(_._2).sum, results.map(_._1), 2 * results.size, failures.size, failures)
  }

  /** Table open alone: `Tables.table`/`Tables.events` for every table. */
  override def layers(spark: SparkSession, t: Tracer): Unit =
    t.span("sources.read")(Catalog.tables.foreach(n => Catalog.open(spark, dir, n).schema))
}

object Catalog {
  val tables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
    "documents", "embeddings")

  def open(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") Tables.events(spark, dir) else Tables.table(spark, dir, name)

  /** The population: queries whose result is deterministic and checkable,
    * with the result and calibration time recorded in `catalog.tsv`.
    */
  def expected(data: Path): Seq[Expected] =
    Files.readAllLines(data.resolve("catalog.tsv")).toArray(Array.empty[String]).toSeq
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t"))
      .collect { case Array(n, "ok", rows, hash, s) => Expected(n, rows.toLong, hash.toLong, s.toDouble) }

  /** Queries sorted by calibration cost and cut into equal strata; the
    * sample is the middle query of each stratum, so it spans the whole cost
    * range, and the seed fixes the order the queries run in. (A seed-drawn
    * member per stratum moved `query_p50_s` by 30% between seeds, because
    * calibration cost ranks in-run cost only roughly.)
    */
  val strata = 16

  def draw(pop: Seq[Expected], seed: Long): Seq[Expected] = {
    val sorted = pop.sortBy(e => (e.calibS, e.name)).toIndexedSeq
    val picks = (0 until strata).map(s => sorted(((2 * s + 1) * sorted.size) / (2 * strata)))
    val rnd = new java.util.SplittableRandom(seed)
    picks.indices.reverse.foldLeft(picks) { (p, i) =>
      val j = rnd.nextInt(i + 1)
      p.updated(i, p(j)).updated(j, p(i))
    }
  }

  /** The mismatch of one query execution against its expected result. */
  def verify(e: Expected, outcome: scala.util.Try[Array[org.apache.spark.sql.Row]]): Option[String] =
    outcome match {
      case scala.util.Success(rows) =>
        val (n, h) = Checks.fingerprint(rows)
        if (n == e.rows && h == e.hash) None
        else Some(s"${e.name}: got $n rows hash $h, want ${e.rows} rows hash ${e.hash}")
      case scala.util.Failure(err) => Some(s"${e.name}: failed: $err")
    }

  /** `graft.Bench`'s isolation between measurements: caches, temp views
    * and state-store providers released, then a GC.
    */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.catalog.listTables().collect().foreach { t =>
      if (t.isTemporary) spark.catalog.dropTempView(t.name)
    }
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    System.gc()
  }
}
