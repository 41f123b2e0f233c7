package perfbench

import org.apache.spark.sql.Row

import graft.model.SimCompleted

/** The statistics block a replay must produce, computed without Spark. */
final case class Summary(
    processed: Long,
    rejected: Long,
    avg: Double,
    p50: Double,
    p75: Double,
    p90: Double,
    p99: Double,
    priority: Long,
    normal: Long
) {
  def fields: Seq[(String, Double)] = Seq(
    "processed" -> processed.toDouble, "rejected" -> rejected.toDouble, "avg" -> avg,
    "p50" -> p50, "p75" -> p75, "p90" -> p90, "p99" -> p99,
    "priority" -> priority.toDouble, "normal" -> normal.toDouble
  )
}

/** Plain-Scala oracle for the statistics layer: the reference's queuing
  * time rule and exact linear-interpolation percentiles (numpy's default).
  */
object Oracle {

  /** Linear-interpolation percentile of a sorted array; NaN when empty. */
  def percentile(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = p * (sorted.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
    }

  def summary(completed: Iterable[SimCompleted]): Summary = {
    val processed = completed.filter(_.finishTime != -1.0)
    val qt = processed.iterator
      .filter(c => c.startTime >= 0 && c.arrivalTimeInQueue >= 0 && c.startTime >= c.arrivalTimeInQueue)
      .map(c => c.startTime - c.arrivalTimeInQueue)
      .toArray
    java.util.Arrays.sort(qt)
    Summary(
      processed = processed.size.toLong,
      rejected = (completed.size - processed.size).toLong,
      avg = if (qt.isEmpty) Double.NaN else qt.sum / qt.length,
      p50 = percentile(qt, 0.50), p75 = percentile(qt, 0.75),
      p90 = percentile(qt, 0.90), p99 = percentile(qt, 0.99),
      priority = completed.count(_.queue.contains("priority")).toLong,
      normal = completed.count(_.queue.contains("normal")).toLong
    )
  }

  /** Zero-filled per-endpoint usage over processed rows, `api_1..api_n`. */
  def apiUsage(completed: Iterable[SimCompleted], numApis: Int): Seq[(String, Long)] = {
    val used = completed.iterator
      .filter(c => c.finishTime != -1.0)
      .flatMap(_.usedApiId)
      .filter(id => id >= 1 && id <= numApis)
      .toSeq
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    (1 to numApis).map(i => s"api_$i" -> used.getOrElse(i, 0L))
  }
}

/** Output checks. Each returns the list of mismatches; empty means the
  * output is correct. A mismatch is a failed operation, never a time.
  */
object Checks {

  /** Two doubles agree when both are NaN or they differ by at most `abs`
    * plus a relative `rel` (summation order may differ between engines).
    */
  def close(a: Double, b: Double, abs: Double, rel: Double = 1e-9): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= abs + rel * math.max(math.abs(a), math.abs(b))

  private def compare(label: String, got: Seq[(String, Double)], want: Seq[(String, Double)], abs: Double): Seq[String] =
    want.zip(got).collect {
      case ((k, w), (_, g)) if !close(g, w, abs) => s"$label $k: got $g, want $w"
    }

  /** Parses the statistics block `graft.cli.Main.run` prints. */
  def parseCliReport(text: String): Map[String, String] =
    text.linesIterator.flatMap { l =>
      val i = l.indexOf(':')
      if (i <= 0) None else Some(l.substring(0, i).trim -> l.substring(i + 1).trim)
    }.toMap

  /** The CLI prints doubles with 4 decimals, "N/A" for NaN. */
  def cliReport(
      report: Map[String, String],
      inputRows: Long,
      want: Summary,
      wantUsage: Seq[(String, Long)]
  ): Seq[String] = {
    def num(key: String): Double = report.get(key) match {
      case Some("N/A") => Double.NaN
      case Some(v) => scala.util.Try(v.toDouble).getOrElse(Double.PositiveInfinity)
      case None => Double.NegativeInfinity
    }
    val got = Seq(
      "processed" -> num("Processed requests"), "rejected" -> num("Rejected requests"),
      "avg" -> num("Average queuing time"), "p50" -> num("Queuing time P50"),
      "p75" -> num("Queuing time P75"), "p90" -> num("Queuing time P90"),
      "p99" -> num("Queuing time P99"), "priority" -> num("priority"), "normal" -> num("normal")
    )
    val total =
      if (num("Total requests (input)") == inputRows.toDouble) Nil
      else Seq(s"cli input rows: got ${report.get("Total requests (input)")}, want $inputRows")
    val usage = wantUsage.collect {
      case (api, n) if num(api) != n.toDouble => s"cli $api: got ${report.get(api)}, want $n"
    }
    // Half a unit in the 4th decimal, plus float noise.
    total ++ compare("cli", got, want.fields, 5.1e-5) ++ usage
  }

  /** One row of `Statistics.summary` / `summaryByGroup`. */
  def summaryRow(r: Row): Summary = Summary(
    r.getAs[Long]("total_requests_processed"), r.getAs[Long]("total_requests_rejected"),
    r.getAs[Double]("average_queuing_time"), r.getAs[Double]("p50"), r.getAs[Double]("p75"),
    r.getAs[Double]("p90"), r.getAs[Double]("p99"),
    r.getAs[Long]("priority_queue_enqueued_total"), r.getAs[Long]("normal_queue_enqueued_total")
  )

  def summary(label: String, got: Summary, want: Summary): Seq[String] =
    compare(label, got.fields, want.fields, 1e-9)

  /** Row count and order-insensitive hash of a result: the sum of one
    * 64-bit hash per row of its canonical text, doubles rounded to 9
    * significant digits so that summation order cannot flip it.
    */
  def fingerprint(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.iterator.map(r => hash64(canonical(r))).sum)

  def canonical(v: Any): String = v match {
    case null => "∅"
    case d: Double => canonicalDouble(d)
    case f: Float => canonicalDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canonical).mkString("(", "\u0001", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "\u0002" + canonical(x) }.sorted.mkString("{", "\u0001", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", "\u0001", "]")
    case x => x.toString
  }

  private def canonicalDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString

  /** FNV-1a over UTF-16 code units, then a murmur3 finalizer. */
  def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h = (h ^ s.charAt(i)) * 0x100000001b3L
      i += 1
    }
    h ^= h >>> 33
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }
}
