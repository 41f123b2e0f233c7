package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{FifoConfig, SimConfig}
import graft.sim.SimOperator
import graft.sources.RequestCsv
import graft.stats.Statistics

/** The CLI end to end, in-process: CSV → simulate → printed report
  * (X1, reference main.py:16-159), including the bounded-FIFO rejection
  * path and the reference's error contract for bad input.
  */
class CliSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def csv(content: String): String = {
    val f = Files.createTempFile("graft_cli", ".csv")
    Files.writeString(f, content)
    f.toString
  }

  private def runCapturing(args: String*): (String, String) = {
    val _ = spark.version // init the shared session OUTSIDE the capture
    val out = new ByteArrayOutputStream()
    val err = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(out, true, "UTF-8")) {
      Console.withErr(new PrintStream(err, true, "UTF-8")) {
        val prevErr = System.err
        System.setErr(new PrintStream(err, true, "UTF-8"))
        try graft.cli.Main.run(spark, args.toArray)
        finally System.setErr(prevErr)
      }
    }
    (out.toString("UTF-8"), err.toString("UTF-8"))
  }

  private val fourRows =
    """user_id,request_time,processing_time
      |u1,2023-01-01T00:00:00.000000Z,1.0
      |u2,2023-01-01T00:00:00.500000Z,2.0
      |u3,2023-01-01T00:00:01.000000Z,1.5
      |u4,2023-01-01T00:00:01.500000Z,0.5
      |""".stripMargin

  test("default priority run prints the full report; everything processes") {
    val (out, err) = runCapturing(csv(fourRows), "-w", "2")
    assert(!err.contains("Error:"), err)
    assert(out.contains("Total requests (input):  4"))
    assert(out.contains("Processed requests:      4"))
    assert(out.contains("Rejected requests:       0"))
    assert(out.contains("Queuing time P99:"))
    assert(out.contains("api_1:"), "API usage block missing")
    assert(out.contains("priority:"), "queue totals block missing")
  }

  // burst of simultaneous arrivals against a 1-slot queue: at most
  // (in-flight + queued) survive, the rest reject
  private val burst =
    """user_id,request_time,processing_time
      |u1,2023-01-01T00:00:00.000000Z,5.0
      |u2,2023-01-01T00:00:00.000000Z,5.0
      |u3,2023-01-01T00:00:00.000000Z,5.0
      |u4,2023-01-01T00:00:00.000000Z,5.0
      |""".stripMargin

  /** Every `label: value` line of a printed report. */
  private def printed(out: String): Map[String, String] =
    out.linesIterator.flatMap { l =>
      val i = l.indexOf(':')
      if (i <= 0) None else Some(l.substring(0, i).trim -> l.substring(i + 1).trim)
    }.toMap

  /** The report's values from `Statistics.summary` and `apiUsage` run on
    * the same input, formatted as the CLI prints them.
    */
  private def expected(path: String, cfg: SimConfig): Map[String, String] = {
    def fmt(d: Double): String = if (d.isNaN) "N/A" else f"$d%.4f"
    val requests = RequestCsv.read(spark, path)
    val completed = Statistics.toDF(SimOperator.simulate(requests, cfg))
    val s = Statistics.summary(completed).collect()(0)
    val usage = Statistics.apiUsage(completed, cfg.numApis).collect()
    Map(
      "Total requests (input)" -> requests.count().toString,
      "Processed requests" -> s.getAs[Long]("total_requests_processed").toString,
      "Rejected requests" -> s.getAs[Long]("total_requests_rejected").toString,
      "Average queuing time" -> fmt(s.getAs[Double]("average_queuing_time")),
      "Queuing time P50" -> fmt(s.getAs[Double]("p50")),
      "Queuing time P75" -> fmt(s.getAs[Double]("p75")),
      "Queuing time P90" -> fmt(s.getAs[Double]("p90")),
      "Queuing time P99" -> fmt(s.getAs[Double]("p99")),
      "priority" -> s.getAs[Long]("priority_queue_enqueued_total").toString,
      "normal" -> s.getAs[Long]("normal_queue_enqueued_total").toString
    ) ++ usage.map(r => r.getAs[String]("api_id") -> r.getAs[Long]("n_used").toString)
  }

  test("--fifo -q 1 with one worker makes rejection reachable and reported") {
    val (out, _) = runCapturing(csv(burst), "-w", "1", "-q", "1", "--fifo")
    val rejected = "Rejected requests:\\s+(\\d+)".r
      .findFirstMatchIn(out).map(_.group(1).toInt).getOrElse(-1)
    assert(rejected > 0, s"expected rejections in:\n$out")
  }

  test("malformed CSV reports the reference's error message, no report") {
    val bad = csv(
      """user_id,request_time,processing_time
        |u1,not-a-time,1.0
        |""".stripMargin)
    val (out, err) = runCapturing(bad)
    assert(err.contains("CSV file format is invalid"))
    assert(!out.contains("Simulation statistics"))
  }

  test("animation mode prints frame gauges and the same report totals") {
    // the sleep default is 0.7 ms per frame — small enough to run the
    // 4-row fixture unthrottled without touching the env knob
    val (out, err) = runCapturing(csv(fourRows), "-w", "2", "--animation")
    assert(!err.contains("Error:"), err)
    assert(out.contains("[t="), "no animation frames printed")
    assert(out.contains("Processed requests:      4"))
  }

  test("the report prints exactly what Statistics.summary and apiUsage compute") {
    val cases = Seq(
      (fourRows, Seq("-w", "2"), SimConfig(numWorkers = 2)),
      (burst, Seq("-w", "1", "-q", "1", "--fifo"), SimConfig(numWorkers = 1, strategy = FifoConfig(Some(1))))
    )
    for ((content, flags, cfg) <- cases) {
      val path = csv(content)
      val (out, err) = runCapturing(path +: flags: _*)
      assert(!err.contains("Error:"), err)
      assert(printed(out) == expected(path, cfg), s"flags ${flags.mkString(" ")}:\n$out")
    }
  }

  test("header-only CSV prints the no-data line and no statistics") {
    val (out, err) = runCapturing(csv("user_id,request_time,processing_time\n"))
    assert(!err.contains("Error:"), err)
    assert(out.trim == "No request data in CSV; nothing to simulate.", out)
  }

  test("empty timestamp or float field reports the error, no report") {
    for (row <- Seq("u1,,1.0", "u1,2023-01-01T00:00:00.000000Z,")) {
      val (out, err) = runCapturing(csv(s"user_id,request_time,processing_time\n$row\n"))
      assert(err.contains("CSV file format is invalid"), s"$row: $err")
      assert(!out.contains("Simulation statistics"), s"$row: $out")
    }
  }
}
