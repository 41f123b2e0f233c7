package perfbench

import java.nio.file.Path

import org.apache.spark.sql.Row

import graft.model.{PriorityConfig, SimConfig, SimRequest}
import graft.sim.{SimCore, SimOperator}
import graft.sources.RequestCsv
import graft.stats.Statistics

/** Self-test of the output checks: correct outputs must pass, and a
  * corrupted summary (one percentile off) and a dropped catalogue row must
  * each be reported as a failure. Exits 0 only when every case behaves.
  */
object SelfTest {
  def run(data: Path, work: Path): Int = {
    java.nio.file.Files.createDirectories(work)
    val spark = Main.session(work)
    var bad = 0
    def expect(label: String, failures: Seq[String], shouldFail: Boolean): Unit = {
      val ok = failures.nonEmpty == shouldFail
      if (!ok) bad += 1
      println(s"${if (ok) "ok  " else "FAIL"} $label: ${failures.size} mismatch(es)" +
        failures.headOption.fold("")(f => s" [$f]"))
    }
    try {
      import spark.implicits._
      // Summary checks: the Spark statistics layer against the oracle.
      val cfg = SimConfig(numWorkers = 2, strategy = PriorityConfig())
      val input = requests(2000)
      val done = SimCore.run(cfg, input.iterator).toVector
      val want = Oracle.summary(done)
      val got = Checks.summaryRow(Statistics.summary(
        Statistics.toDF(SimOperator.simulate(spark.createDataset(input.toSeq), cfg))).collect()(0))
      expect("summary, as computed", Checks.summary("summary", got, want), shouldFail = false)
      expect("summary, p90 off by 0.01",
        Checks.summary("summary", got.copy(p90 = got.p90 + 0.01), want), shouldFail = true)

      // The CLI report path: the same block as Main.run prints it.
      val usage = Oracle.apiUsage(done, cfg.numApis)
      def report(s: Summary): String =
        (Seq(
          s"Total requests (input): ${input.length}", s"Processed requests: ${s.processed}",
          s"Rejected requests: ${s.rejected}", f"Average queuing time: ${s.avg}%.4f",
          f"Queuing time P50: ${s.p50}%.4f", f"Queuing time P75: ${s.p75}%.4f",
          f"Queuing time P90: ${s.p90}%.4f", f"Queuing time P99: ${s.p99}%.4f",
          s"priority: ${s.priority}", s"normal: ${s.normal}"
        ) ++ usage.map { case (a, c) => s"$a: $c" }).mkString("\n")
      def cli(s: Summary) =
        Checks.cliReport(Checks.parseCliReport(report(s)), input.length.toLong, want, usage)
      expect("cli report, as computed", cli(got), shouldFail = false)
      expect("cli report, p50 off by 0.001", cli(got.copy(p50 = got.p50 + 0.001)), shouldFail = true)

      // Catalogue checks: a real query against its stored expectation.
      val e = Catalog.expected(data).head
      val rows = graft.SparkEntry.queries(e.name)(spark, data.resolve("sf0.01").toString).collect()
      expect(s"catalogue ${e.name}, as computed", Catalog.verify(e, scala.util.Success(rows)).toSeq,
        shouldFail = false)
      expect(s"catalogue ${e.name}, one row dropped",
        Catalog.verify(e, scala.util.Success(rows.drop(1))).toSeq, shouldFail = true)
      expect(s"catalogue ${e.name}, one row duplicated",
        Catalog.verify(e, scala.util.Success(rows :+ rows.head)).toSeq, shouldFail = true)
      val changed = Row.fromSeq(rows.head.toSeq.map {
        case d: Double => d + 1.0
        case l: Long => l + 1
        case i: Int => i + 1
        case s: String => s + "x"
        case v => v
      })
      expect(s"catalogue ${e.name}, one value changed",
        Catalog.verify(e, scala.util.Success(changed +: rows.drop(1))).toSeq, shouldFail = true)
    } finally spark.stop()
    println(if (bad == 0) "selftest passed" else s"selftest FAILED: $bad case(s)")
    if (bad == 0) 0 else 1
  }

  /** A small fixed request set: arrivals about one a second, service
    * round(U(1, 10), 1) s, so two workers fall behind and a queue builds.
    */
  private def requests(n: Int): Array[SimRequest] = {
    val rnd = new java.util.SplittableRandom(7L)
    var clock = 0.0
    Array.tabulate(n) { i =>
      clock += 0.2 + 1.6 * rnd.nextDouble()
      val micros = RequestCsv.SimStartMicros + math.round(clock * 1e6)
      SimRequest(s"user_${rnd.nextInt(20)}", Some(micros),
        math.round((1.0 + 9.0 * rnd.nextDouble()) * 10) / 10.0,
        (micros - RequestCsv.SimStartMicros) / 1e6, i.toLong)
    }
  }
}
