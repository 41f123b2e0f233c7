package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.model.SimCompleted
import graft.stats.Statistics

/** Golden numeric asserts for the statistics layer, ported from reference
  * tests/test_statistics.py (SURVEY §5): avg=0.65, p50=0.45, p75=1.1,
  * p90=1.46, p99=1.676 on the five-request fixture; NaN on empty;
  * zero-filled api usage with out-of-domain ids dropped.
  */
class StatisticsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def row(
      user: String,
      arrival: Double,
      start: Double,
      finish: Double,
      apiId: Option[Int] = Some(1),
      queue: Option[String] = Some("priority")
  ): SimCompleted =
    SimCompleted(user, None, 1.0, 0.0, arrival, start, finish, apiId,
      queue, if (finish == -1) "rejected" else "success", 0L)

  private def summaryOf(rows: Seq[SimCompleted]) = {
    import spark.implicits._
    Statistics.summary(Statistics.toDF(spark.createDataset(rows))).collect()(0)
  }

  // Queuing times for processed rows: [0.0, 0.9, 0.0, 1.7]
  private val goldenRows = Seq(
    row("u1", 0.0, 0.0, 1.0, queue = Some("priority")),
    row("u2", 0.1, 1.0, 2.0, queue = Some("priority")),
    row("u3", 0.2, 0.2, 1.2, queue = Some("priority")),
    row("u4", 0.3, 2.0, 3.0, queue = Some("normal")),
    row("u5", 0.4, 0.0, -1.0, apiId = None, queue = Some("normal"))
  )

  // Queuing times 1..10.
  private val oneToTenRows = (1 to 10).map(i => row(s"u$i", 0.0, i.toDouble, i.toDouble + 1))

  test("full stats golden (tests/test_statistics.py:126-184)") {
    val s = summaryOf(goldenRows)
    assert(s.getAs[Long]("total_requests_processed") == 4L)
    assert(s.getAs[Long]("total_requests_rejected") == 1L)
    assert(math.abs(s.getAs[Double]("average_queuing_time") - 0.65) < 1e-9)
    assert(math.abs(s.getAs[Double]("p50") - 0.45) < 1e-9)
    assert(math.abs(s.getAs[Double]("p75") - 1.1) < 1e-9)
    assert(math.abs(s.getAs[Double]("p90") - 1.46) < 1e-9)
    assert(math.abs(s.getAs[Double]("p99") - 1.676) < 1e-9)
    assert(s.getAs[Long]("priority_queue_enqueued_total") == 3L)
    assert(s.getAs[Long]("normal_queue_enqueued_total") == 2L)
  }

  test("percentile definition matches np.percentile linear interpolation (tests/test_statistics.py:101-106)") {
    // data 1..10 as queuing times: p50=5.5, p75=7.75, p90=9.1
    val s = summaryOf(oneToTenRows)
    assert(math.abs(s.getAs[Double]("p50") - 5.5) < 1e-9)
    assert(math.abs(s.getAs[Double]("p75") - 7.75) < 1e-9)
    assert(math.abs(s.getAs[Double]("p90") - 9.1) < 1e-9)
  }

  test("all rejected → NaN aggregates (tests/test_statistics.py:186-216)") {
    val rows = Seq(
      row("u1", 0.0, 0.0, -1.0, apiId = None),
      row("u2", 0.1, 0.0, -1.0, apiId = None)
    )
    val s = summaryOf(rows)
    assert(s.getAs[Long]("total_requests_processed") == 0L)
    assert(s.getAs[Long]("total_requests_rejected") == 2L)
    assert(s.getAs[Double]("average_queuing_time").isNaN)
    assert(s.getAs[Double]("p50").isNaN)
    assert(s.getAs[Double]("p99").isNaN)
  }

  test("empty input → NaN + zero counts (tests/test_statistics.py:218+)") {
    val s = summaryOf(Seq.empty)
    assert(s.getAs[Long]("total_requests_processed") == 0L)
    assert(s.getAs[Long]("total_requests_rejected") == 0L)
    assert(s.getAs[Double]("average_queuing_time").isNaN)
    assert(s.getAs[Double]("p50").isNaN)
  }

  test("api usage: zero-fill, None skipped, out-of-domain dropped (tests/test_statistics.py:267-345)") {
    import spark.implicits._
    // NUM_EXTERNAL_APIS patched to 3 in the reference test; ids: two api_1,
    // one api_2, one None, one out-of-range 99 → counts (2, 1, 0), sum 3.
    val rows = Seq(
      row("u1", 0.0, 0.0, 1.0, apiId = Some(1)),
      row("u2", 0.0, 0.0, 1.0, apiId = Some(1)),
      row("u3", 0.0, 0.0, 1.0, apiId = Some(2)),
      row("u4", 0.0, 0.0, 1.0, apiId = None),
      row("u5", 0.0, 0.0, 1.0, apiId = Some(99))
    )
    val usage = Statistics
      .apiUsage(Statistics.toDF(spark.createDataset(rows)), numApis = 3)
      .collect()
      .map(r => r.getAs[String]("api_id") -> r.getAs[Long]("n_used"))
      .toSeq
    assert(usage == Seq("api_1" -> 2L, "api_2" -> 1L, "api_3" -> 0L))
  }

  test("api usage: no join, and sorting its rows adds no range exchange") {
    import spark.implicits._
    val df = Statistics.toDF(spark.createDataset(goldenRows).repartition(3))
    val sorted = Statistics.apiUsage(df, numApis = 3).orderBy("api_id")
    assert(sorted.collect().map(_.getString(0)).toSeq == Seq("api_1", "api_2", "api_3"))
    val plan = sorted.queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning") && !plan.contains("Join"), plan)
  }

  test("summaryByGroup gives each group exactly the row summary gives it alone") {
    import spark.implicits._
    val groups = Seq("golden" -> goldenRows, "one_to_ten" -> oneToTenRows)
    val completed = Statistics.renameToSnake(
      groups.flatMap { case (g, rows) => rows.map(g -> _) }.toDF("g", "c")
        .select(col("g"), col("c.*")))
    val byGroup = Statistics.summaryByGroup(completed, Seq("g")).collect()
      .map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(byGroup.keySet == groups.map(_._1).toSet)
    for ((g, rows) <- groups) assert(byGroup(g) == summaryOf(rows).toSeq, s"group $g")
  }

  test("the four quantiles share one percentile buffer") {
    import spark.implicits._
    val df = Statistics.toDF(spark.createDataset(oneToTenRows))
    for (agg <- Seq(Statistics.summary(df), Statistics.summaryByGroup(df, Seq("queue")))) {
      val perNode = agg.queryExecution.sparkPlan.collect {
        case a: BaseAggregateExec => a.aggregateExpressions.count(_.aggregateFunction.isInstanceOf[Percentile])
      }
      assert(perNode.nonEmpty && perNode.forall(_ == 1), s"percentile buffers per aggregate: $perNode")
    }
  }
}
