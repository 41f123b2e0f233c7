package perfbench

import java.nio.file.{Files, Path}

/** Writes `catalog.tsv`: every catalogue query run twice over the shipped
  * tables, with its row count, result hash and the faster of the two
  * times. A query whose two results differ is marked `nondeterministic`,
  * one that throws `failed`, one slower than [[SlowS]] `slow`; only `ok`
  * rows enter the sampled population.
  */
object Calibrate {
  /** Cap on a sampled query's time, so that a pass fits a run. */
  val SlowS = 2.0

  def run(data: Path, work: Path, out: Path): Int = {
    Files.createDirectories(work)
    val spark = Main.session(work)
    val dir = data.resolve("sf0.01").toString
    val queries = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    val lines =
      try queries.map { case (name, fn) =>
        val runs = (1 to 2).map { _ =>
          Catalog.reset(spark)
          val t0 = System.nanoTime()
          val r = scala.util.Try(Checks.fingerprint(fn(spark, dir).collect()))
          (r, (System.nanoTime() - t0) / 1e9)
        }
        val time = runs.map(_._2).min
        val status = runs.map(_._1) match {
          case Seq(scala.util.Success(a), scala.util.Success(b)) =>
            if (a != b) "nondeterministic" else if (time > SlowS) "slow" else "ok"
          case rs =>
            rs.collectFirst { case scala.util.Failure(e) => e }
              .foreach(e => System.err.println(s"[calibrate] $name failed: $e"))
            "failed"
        }
        val (rows, hash) = runs.head._1.getOrElse((-1L, 0L))
        System.err.println(f"[calibrate] $name%-40s $status%-16s $time%8.3f s")
        s"$name\t$status\t$rows\t$hash\t${f"$time%.4f"}"
      } finally {
        Catalog.reset(spark)
        spark.stop()
      }
    val header = Seq(
      "# name\tstatus\trows\thash\tcalib_s",
      "# Written by `perfbench.Main calibrate`: each query run twice over data/sf0.01;",
      "# rows and hash are Checks.fingerprint of the collected result.")
    Files.writeString(out, (header ++ lines).mkString("", "\n", "\n"))
    0
  }
}
