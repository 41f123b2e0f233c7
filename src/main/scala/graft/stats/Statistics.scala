package graft.stats

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.SimCompleted

/** Relational statistics layer over the simulation output — the Spark
  * re-expression of reference src/statistics.py:9-154 (A1–A6 in SURVEY §2).
  *
  * Everything here is a single partial+final hash aggregate over the
  * completed set; at 100 TB of completed records this is the layer that
  * scales (the sequential sim core does not need to — SURVEY §4.2).
  * NaN (not null) marks empty-aggregate results for `np.nan` parity
  * (src/statistics.py:64,118-121).
  */
object Statistics {

  /** snake_case DataFrame view of the completed set (engine-facing schema,
    * SURVEY §1.4).
    */
  def toDF(completed: Dataset[SimCompleted]): DataFrame =
    completed.toDF(
      "user_id", "request_time_micros", "processing_time", "sim_arrival_time",
      "arrival_time_in_queue", "start_time", "finish_time", "used_api_id",
      "queue", "status", "seq"
    )

  /** camelCase → snake_case rename for DataFrames derived from
    * [[SimCompleted]] structs (e.g. the scenario fan-out's nested column).
    */
  val SnakeRenames: Seq[(String, String)] = Seq(
    "userId" -> "user_id", "requestTimeMicros" -> "request_time_micros",
    "processingTime" -> "processing_time", "simArrivalTime" -> "sim_arrival_time",
    "arrivalTimeInQueue" -> "arrival_time_in_queue", "startTime" -> "start_time",
    "finishTime" -> "finish_time", "usedApiId" -> "used_api_id"
  )

  def renameToSnake(df: DataFrame): DataFrame =
    SnakeRenames.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }

  private val processedPred = col("finish_time") =!= lit(-1.0)

  /** Valid queuing time per P2 (src/statistics.py:9-43): processed rows with
    * non-negative start/arrival and start >= arrival; null otherwise.
    */
  private val queuingTime =
    when(
      processedPred &&
        col("start_time") >= 0 && col("arrival_time_in_queue") >= 0 &&
        col("start_time") >= col("arrival_time_in_queue"),
      col("start_time") - col("arrival_time_in_queue")
    )

  /** Per-row inputs of every aggregate below. */
  private def prepared(completedDF: DataFrame, keep: Seq[Column] = Nil): DataFrame =
    completedDF.select(
      keep ++ Seq(
        processedPred.as("is_processed"),
        queuingTime.as("qt"),
        col("queue"),
        col("used_api_id")
      ): _*
    )

  /** One exact linear-interpolation percentile buffer for all four
    * quantiles. The four `p` columns repeat the same aggregate expression,
    * which Spark evaluates once per group.
    */
  private def quantiles: Column =
    percentile(col("qt"), array(Seq(0.5, 0.75, 0.9, 0.99).map(lit): _*))

  /** Summary columns (src/statistics.py:102-121,144-152): counts, mean and
    * percentiles of queuing time, per-queue enqueue totals.
    */
  private def summaryAggs: Seq[Column] = {
    val nan = lit(Double.NaN)
    Seq(
      sum(when(col("is_processed"), 1L).otherwise(0L)).cast("long")
        .as("total_requests_processed"),
      sum(when(!col("is_processed"), 1L).otherwise(0L)).cast("long")
        .as("total_requests_rejected"),
      coalesce(avg(col("qt")), nan).as("average_queuing_time")
    ) ++ Seq("p50", "p75", "p90", "p99").zipWithIndex.map { case (name, i) =>
      coalesce(quantiles(i), nan).as(name)
    } ++ Seq(
      sum(when(col("queue") === "priority", 1L).otherwise(0L)).cast("long")
        .as("priority_queue_enqueued_total"),
      sum(when(col("queue") === "normal", 1L).otherwise(0L)).cast("long")
        .as("normal_queue_enqueued_total")
    )
  }

  /** Per-endpoint processed counts (A4, src/statistics.py:126-141), one
    * `api_k` column per endpoint k = 1..numApis: rows with no API id or an
    * out-of-domain one count nowhere, absent endpoints count 0.
    */
  private def usageAggs(numApis: Int): Seq[Column] =
    (1 to numApis).map(k =>
      count_if(col("is_processed") && col("used_api_id") === k).as(s"api_$k"))

  /** One-row summary. A single aggregate ⇒ one shuffle of partial buffers. */
  def summary(completedDF: DataFrame): DataFrame =
    prepared(completedDF).agg(summaryAggs.head, summaryAggs.tail: _*)

  /** Per-group summary (e.g. per scenario of a fan-out run) — the same
    * one-pass aggregate with a grouping key; scales to any number of
    * concurrent scenarios with a single shuffle.
    */
  def summaryByGroup(completedDF: DataFrame, groupCols: Seq[String]): DataFrame =
    prepared(completedDF, groupCols.map(col))
      .groupBy(groupCols.map(col): _*)
      .agg(summaryAggs.head, summaryAggs.tail: _*)

  /** Per-endpoint usage as `(api_id, n_used)` rows in endpoint order,
    * zero-filled: the [[usageAggs]] row unpivoted. The unpivot is a
    * generator, not `Dataset.unpivot`: a generator keeps the aggregate's
    * single partition, so sorting the rows needs no exchange.
    */
  def apiUsage(completedDF: DataFrame, numApis: Int): DataFrame = {
    val counts = usageAggs(numApis)
    prepared(completedDF)
      .agg(counts.head, counts.tail: _*)
      .select(inline(array((1 to numApis).map(k =>
        struct(lit(s"api_$k").as("api_id"), col(s"api_$k").as("n_used"))): _*)))
  }

  /** The CLI report in one row: the [[summary]] columns followed by the
    * `api_1..api_N` counts [[apiUsage]] unpivots, in one aggregate.
    */
  def report(completedDF: DataFrame, numApis: Int): DataFrame = {
    val aggs = summaryAggs ++ usageAggs(numApis)
    prepared(completedDF).agg(aggs.head, aggs.tail: _*)
  }

  /** A5 enqueue totals in long format (reference counter semantics:
    * src/queue_manager.py:121-123,267-276 — rejected rows were never
    * enqueued and are excluded).
    */
  def queueCounts(completedDF: DataFrame): DataFrame =
    completedDF
      .filter(col("queue").isNotNull)
      .groupBy(col("queue"))
      .agg(count(lit(1)).as("n_enqueued"))
}
