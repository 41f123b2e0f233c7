package perfbench

import scala.collection.mutable

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that was open when this one started (-1 for a root); every span of a
  * run carries the run's id. Times are `System.nanoTime` values; `jobs`
  * counts the Spark jobs that started inside the span.
  */
final case class Span(
    id: Int,
    name: String,
    parent: Int,
    startNs: Long,
    endNs: Long,
    runId: String,
    pass: Int,
    jobs: Long
) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** The layer a span belongs to: its name up to the first '.'. */
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder for the traced run. When disabled, `span` only
  * runs its body, so untraced passes pay nothing for it. `jobs` reads how many Spark
  * jobs have started so far.
  */
final class Tracer(val enabled: Boolean, val runId: String, jobs: () => Long) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var pass: Int = -1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val j0 = jobs()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, name, parent, t0, t1, runId, pass, jobs() - j0)
        stack = stack.tail
      }
    }

  /** Total duration of the spans with this exact name, per pass traced. */
  def secondsPerPass(name: String, passes: Int): Double =
    spans.iterator.filter(_.name == name).map(_.seconds).sum / math.max(1, passes)

  /** Jobs started inside the spans with this exact name, per pass traced. */
  def jobsPerPass(name: String, passes: Int): Double =
    spans.iterator.filter(_.name == name).map(_.jobs).sum.toDouble / math.max(1, passes)

  /** Total duration of the direct children of the spans with this exact
    * name, per pass traced.
    */
  def childSecondsPerPass(parentName: String, passes: Int): Double = {
    val parents = spans.iterator.filter(_.name == parentName).map(_.id).toSet
    spans.iterator.filter(s => parents(s.parent)).map(_.seconds).sum / math.max(1, passes)
  }

  /** Self time per layer inside the passes: each span's duration minus the
    * part its direct children cover (children of one span never overlap
    * here: the harness is a single closed-loop client), summed by layer.
    * Layer calls made outside a pass span are left out.
    */
  def selfSecondsByLayer: Map[String, Double] = {
    val inPass = mutable.Set.empty[Int]
    // A parent starts before its children, so it has the smaller id.
    spans.sortBy(_.id).foreach(s => if (s.name == "pass" || inPass(s.parent)) inPass += s.id)
    val within = spans.filter(s => inPass(s.id))
    val childSum = within.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    within.groupBy(_.layer).view
      .mapValues(_.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum)
      .toMap
  }

  /** Writes the spans as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      Json.obj(
        "run" -> Json.str(s.runId), "id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "pass" -> s.pass.toString, "jobs" -> s.jobs.toString,
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString
      )
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Minimal JSON text helpers (values are passed pre-rendered). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
}
