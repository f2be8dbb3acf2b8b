package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each layer, plus one
  * listener that attributes Spark jobs, stages, tasks, executor time
  * and shuffle bytes to them.
  *
  * Untraced runs only count job starts (for `jobs_per_call`); spans,
  * job groups and the task listener exist only when `traced` is set,
  * so the end-to-end numbers are measured with tracing off.
  *
  * Attribution: before each call the span sets the job group
  * `perfbench-<span id>`, so every job the call submits from this
  * thread names its span. Micro-batches of a streaming query run on
  * the query's own thread under the query's job group; they attribute
  * through the `sql.streaming.queryId` job property instead, bound
  * with [[bindStream]].
  */
final class Tracer(spark: SparkSession, val runId: String, val traced: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L

  private val jobStarts = new AtomicLong()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val streamSpan = new ConcurrentHashMap[String, java.lang.Long]()
  private val planEvents =
    new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStarts.incrementAndGet()
      if (traced) {
        val props = Option(e.properties)
        val group = props.flatMap(p => Option(p.getProperty(GroupKey)))
        val stream = props.flatMap(p => Option(p.getProperty(StreamKey)))
        val span = group.filter(_.startsWith(GroupPrefix))
          .map(_.stripPrefix(GroupPrefix).toLong).getOrElse(0L)
        jobs.put(e.jobId, new Job(e.jobId, span, stream.orNull, e.time))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (traced) Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (traced) job(e.stageInfo.stageId).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (traced) job(e.stageId).foreach { j =>
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.busyMs += m.executorRunTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.bytesRead += m.inputMetrics.bytesRead
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      planEvents.add(qe.tracker.phases.map { case (k, v) => k -> v.durationMs })
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  if (traced) spark.listenerManager.register(planListener)

  private def job(stage: Int): Option[Job] =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))

  /** Spark jobs started so far in this session. */
  def jobCount: Long = { BusDrain(sc); jobStarts.get() }

  /** Run `body` as one call into the layer `name`. */
  def span[A](name: String)(body: => A): A =
    if (!traced) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(0L)
      val s = new Span(nextId, name, parent, System.nanoTime(),
        System.currentTimeMillis())
      nextId += 1
      spans += s
      stack = s :: stack
      val prevGroup = sc.getLocalProperty(GroupKey)
      val prevDesc = sc.getLocalProperty(DescKey)
      sc.setJobGroup(GroupPrefix + s.id, s"$runId $name")
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevDesc)
        BusDrain(sc)
        var ev = planEvents.poll()
        while (ev != null) {
          ev.foreach { case (k, v) => s.attrs(s"plan_$k") =
            s.attrs.getOrElse(s"plan_$k", 0.0) + v }
          ev = planEvents.poll()
        }
      }
    }

  /** Forget every span and job so far (the warm-up's). */
  def reset(): Unit = {
    BusDrain(sc)
    spans.clear()
    jobs.clear()
    stageJob.clear()
    streamSpan.clear()
    planEvents.clear()
  }

  /** Add `v` to a counter of the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (traced) stack.headOption.foreach(s =>
      s.attrs(key) = s.attrs.getOrElse(key, 0.0) + v)

  /** Attribute the jobs of streaming query `id` to the innermost span. */
  def bindStream(id: String): Unit =
    if (traced) stack.headOption.foreach(s => streamSpan.put(id, s.id))

  /** Per-name totals over every span instance of this run. */
  def summary(): Map[String, Totals] = {
    BusDrain(sc)
    val byId = spans.map(s => s.id -> s).toMap
    val subtreeJobs = mutable.Map.empty[Long, mutable.ArrayBuffer[Job]]
    jobs.values.asScala.foreach { j =>
      var id = j.span(streamSpan)
      while (id != 0L && byId.contains(id)) {
        subtreeJobs.getOrElseUpdate(id, mutable.ArrayBuffer.empty) += j
        id = byId(id).parent
      }
    }
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      val t = new Totals
      ss.foreach { s =>
        val js = subtreeJobs.getOrElse(s.id, mutable.ArrayBuffer.empty)
        val wallMs = math.max(0L, s.endMs - s.startMs)
        t.calls += 1
        t.wallS += (s.endNs - s.startNs) / 1e9
        t.selfS += selfNs(s, children.getOrElse(s.id, Nil).toSeq) / 1e9
        t.jobs += js.size
        t.stages += js.map(_.stages).sum
        t.tasks += js.map(_.tasks).sum
        t.busyS += js.map(_.busyMs).sum / 1e3
        t.shuffleWrite += js.map(_.shuffleWrite).sum
        t.bytesRead += js.map(_.bytesRead).sum
        t.gapS += (wallMs - covered(
          js.map(j => (j.startMs, if (j.endMs > 0) j.endMs else s.endMs)).toSeq,
          s.startMs, s.endMs)) / 1e3
        s.attrs.foreach { case (k, v) => t.attrs(k) = t.attrs.getOrElse(k, 0.0) + v }
      }
      name -> t
    }
  }

  /** One line per span name: calls, wall, self time, jobs, driver gap. */
  def table(): Seq[String] =
    f"${"span"}%-44s ${"calls"}%5s ${"wall_s"}%9s ${"self_s"}%9s ${"jobs"}%6s ${"gap_s"}%8s" +:
      summary().toSeq.sortBy(_._1).map { case (n, t) =>
        f"$n%-44s ${t.calls}%5d ${t.wallS}%9.3f ${t.selfS}%9.3f ${t.jobs}%6d ${t.gapS}%8.3f"
      }

  /** Per-instance wall times (seconds) of the spans named `name`. */
  def walls(name: String): Seq[Double] =
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).toSeq

  /** The span tree as JSON lines, one span per line. */
  def spanLines(): Seq[String] = {
    BusDrain(sc)
    val jobsBySpan = jobs.values.asScala.groupBy(_.span(streamSpan))
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val js = jobsBySpan.getOrElse(s.id, Nil)
      val self = selfNs(s, children.getOrElse(s.id, Nil).toSeq) / 1e9
      val attrs = s.attrs.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""wall_s":${(s.endNs - s.startNs) / 1e9},"self_s":$self,"own_jobs":${js.size},""" +
        s""""attrs":{$attrs}}"""
    }.toSeq
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    if (traced) spark.listenerManager.unregister(planListener)
  }
}

object Tracer {
  private val GroupKey = "spark.jobGroup.id"
  private val DescKey = "spark.job.description"
  private val StreamKey = "sql.streaming.queryId"
  private val GroupPrefix = "perfbench-"

  final class Span(val id: Long, val name: String, val parent: Long,
      val startNs: Long, val startMs: Long) {
    var endNs = 0L
    var endMs = 0L
    val attrs = mutable.Map.empty[String, Double]
  }

  /** `span` is 0 for jobs outside any span; a streaming micro-batch's
    * job records its query id and resolves to a span on read, since
    * the query's first batch may start before [[bindStream]] runs.
    */
  final class Job(val id: Int, groupSpan: Long, val stream: String,
      val startMs: Long) {
    def span(streams: java.util.Map[String, java.lang.Long]): Long =
      if (groupSpan != 0L || stream == null) groupSpan
      else Option(streams.get(stream)).map(_.longValue).getOrElse(0L)
    @volatile var endMs = 0L
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var busyMs = 0L
    @volatile var shuffleWrite = 0L
    @volatile var bytesRead = 0L
  }

  /** Sums over every instance of one span name. */
  final class Totals {
    var calls = 0
    var wallS = 0.0
    var selfS = 0.0
    var jobs = 0
    var stages = 0
    var tasks = 0
    var busyS = 0.0
    var shuffleWrite = 0L
    var bytesRead = 0L
    var gapS = 0.0
    val attrs = mutable.Map.empty[String, Double]
    def attr(k: String): Double = attrs.getOrElse(k, 0.0)
  }

  /** Milliseconds of [lo, hi] covered by the union of `intervals`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's duration minus the part of it its children cover. */
  private def selfNs(s: Span, kids: Seq[Span]): Long =
    (s.endNs - s.startNs) -
      covered(kids.map(k => (k.startNs, k.endNs)), s.startNs, s.endNs)
}
