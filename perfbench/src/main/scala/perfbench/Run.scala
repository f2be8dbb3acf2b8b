package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one workload run produced: the output-check tally, the metrics
  * and the human-readable report lines.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  /** Wall seconds of the untimed warm-up unit. */
  var warmupS = 0.0
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  val report = mutable.ArrayBuffer.empty[String]

  /** Count one checked result; a wrong or missing one counts as failed. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failed <= 20) report += s"CHECK FAILED: $what"
    }
  }
}

/** Everything a workload run needs. `smoke` shrinks the inputs for the
  * benchmark's own tests.
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
    seconds: Double, work: Path, smoke: Boolean, out: Outcome) {
  def traced: Boolean = tracer.traced
}

/** Closed-loop call timer: latency and Spark job count of every call
  * the benchmark's one client makes. Calls group into units (a pass or a
  * round: the same work every time); the end-to-end metrics are medians
  * over units, so one slow unit does not move them.
  */
final class Calls(tracer: Tracer) {
  final case class Call(unit: Int, kind: String, seconds: Double, jobs: Long)
  val calls = mutable.ArrayBuffer.empty[Call]
  private val unitItems = mutable.ArrayBuffer.empty[Double]

  /** Start the next unit, which completes `items` items of work. */
  def unit(items: Double): Unit = unitItems += items

  def apply[A](kind: String)(body: => A): A = {
    val j0 = tracer.jobCount
    val t0 = System.nanoTime()
    val r = body
    val dt = (System.nanoTime() - t0) / 1e9
    calls += Call(unitItems.length - 1, kind, dt, tracer.jobCount - j0)
    r
  }

  def units: Int = unitItems.length
  def of(kind: String): Seq[Double] = calls.filter(_.kind == kind).map(_.seconds).toSeq
  def all: Seq[Double] = calls.map(_.seconds).toSeq
  def jobs: Long = calls.map(_.jobs).sum

  /** Wall seconds of each unit's calls. */
  def unitSeconds: Seq[Double] =
    unitItems.indices.map(u => calls.filter(_.unit == u).map(_.seconds).sum)

  /** The end-to-end metrics every workload reports. */
  def endToEnd(out: Outcome): Unit = {
    out.endToEnd("items_per_s") =
      Stats.median(unitItems.zip(unitSeconds).map { case (i, s) => i / s })
    out.endToEnd("call_geomean_ms") = Stats.median(unitItems.indices.map(u =>
      Stats.geomean(calls.filter(_.unit == u).map(_.seconds)))) * 1e3
    out.endToEnd("jobs_per_call") = jobs.toDouble / calls.length
  }
}

object Fs {
  def rm(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** Regular files under `p` with their sizes. */
  def files(p: Path): Map[Path, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f -> Files.size(f)).toMap
      finally s.close()
    }

  def bytes(p: Path): Long = files(p).values.sum
}
