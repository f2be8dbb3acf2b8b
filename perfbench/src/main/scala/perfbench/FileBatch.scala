package perfbench

import java.nio.file.{Files, Path}
import java.util.Arrays

import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.operators.{BatchPipeline, PipeTransform}
import graft.sinks.NamedSink
import graft.sources.FileIngest
import graft.streaming.JobStream

/** `file_batch`: the paper's own model, `output(f) = COMMAND(f)` for
  * every file, bound by process spawns and the filesystem.
  *
  * Each pass has two legs over the same files. The dir leg lists one
  * directory (`BatchPipeline.run`, then `retryQuarantine`); the queue
  * leg drains an envelope queue through `JobStream.runWorker` with
  * `Trigger.AvailableNow`, which stats each named file and scans
  * explicit paths. Both share `PipeTransform` and `NamedSink`, so an
  * ingest change shows on one leg only.
  */
object FileBatch {

  /** Sized to the run length: at 4 cores the seed commit spends a fixed
    * few seconds of Spark jobs per leg plus about 12 ms per file, so a
    * pass of 100 files takes about 5.5 s once warm.
    */
  val FullFiles = 100
  val SmokeFiles = 40
  val MinPasses = 1
  /** At most this many queue files (20 for 107 jobs); `JobStream` takes
    * 10 per micro-batch, so a pass drains the queue in 2 micro-batches.
    */
  val QueueFiles = 20

  def run(ctx: Ctx): Unit = {
    import ctx._
    val n = if (smoke) SmokeFiles else FullFiles
    val in = work.resolve("in")
    val queue = work.resolve("queue")
    val set = Inputs.writeFileBatch(seed, n, in, queue, QueueFiles)
    val jobCount = set.queueJobs
    val inDir = in.toString
    val outDir = work.resolve("out_dir")
    val outQueue = work.resolve("out_queue")
    val ckpt = work.resolve("ckpt")
    val layersDir = work.resolve("out_layers")
    val dirS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val queueS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val batchMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val addBatchMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var published = 0L
    var publishedBytes = 0L
    var queueQuarantined = 0L
    var poisonQuarantined = 0L

    // One pass of both legs; every pass is checked, the warm-up too.
    def pass(calls: Calls, timed: Boolean): Unit = {
      Seq(outDir, outQueue, ckpt,
        work.resolve("out_dir_quarantine"), work.resolve("out_queue_quarantine"))
        .foreach(Fs.rm)
      calls.unit(n + jobCount)
      val t0 = System.nanoTime()
      calls("dir.run") {
        tracer.span("operators.BatchPipeline.run") {
          BatchPipeline.run(spark, inDir, outDir.toString, Inputs.Command)
        }
      }
      calls("dir.retryQuarantine") {
        tracer.span("operators.BatchPipeline.retryQuarantine") {
          val r = BatchPipeline.retryQuarantine(spark, inDir, outDir.toString,
            Inputs.Command)
          tracer.count("quarantined", r.failed.toDouble)
        }
      }
      val t1 = System.nanoTime()
      val q: StreamingQuery = calls("queue.runWorker") {
        tracer.span("streaming.JobStream.runWorker") {
          val q = JobStream.runWorker(spark, queue.toString, inDir,
            outQueue.toString, ckpt.toString, Inputs.Command,
            trigger = Trigger.AvailableNow())
          tracer.bindStream(q.id.toString)
          q.awaitTermination()
          q
        }
      }
      val t2 = System.nanoTime()
      if (traced) {
        Fs.rm(layersDir)
        tracer.span("bench.dir_layers")(dirLayers(ctx, inDir, layersDir.toString))
      }
      val (qq, pq) = check(ctx, set, outDir, outQueue, if (traced) Some(layersDir) else None)
      if (timed) {
        dirS += (t1 - t0) / 1e9
        queueS += (t2 - t1) / 1e9
        q.recentProgress.filter(_.durationMs.containsKey("addBatch")).foreach { p =>
          batchMs += p.durationMs.get("triggerExecution").doubleValue
          addBatchMs += p.durationMs.get("addBatch").doubleValue
        }
        val outs = Fs.files(outDir)
        published += outs.size
        publishedBytes += outs.values.sum
        queueQuarantined += qq
        poisonQuarantined += pq
      }
    }

    // The first pass in a fresh JVM runs at about half the steady rate
    // (class loading, codegen, JIT), so it warms up untimed.
    val w0 = System.nanoTime()
    pass(new Calls(tracer), timed = false)
    out.warmupS = (System.nanoTime() - w0) / 1e9
    tracer.reset()
    val calls = new Calls(tracer)
    while (calls.units < MinPasses || calls.all.sum < seconds) pass(calls, timed = true)

    val passes = dirS.length
    calls.endToEnd(out)
    val dirRate = dirS.map(n / _)
    val queueRate = queueS.map(jobCount / _)
    out.report += f"file_batch: $n files (${set.bytes / 1e6}%.1f MB, " +
      f"${set.marked.size} marked), $jobCount queue jobs, $passes passes"
    out.report += Stats.describe("dir_files_per_s", dirRate, "files/s")
    out.report += Stats.describe("queue_files_per_s", queueRate, "jobs/s")

    if (traced) {
      val s = tracer.summary()
      def t(name: String) = s.getOrElse(name, new Tracer.Totals)
      val readDir = t("sources.FileIngest.readDir")
      val pipe = t("operators.PipeTransform.transform")
      val sink = t("sinks.NamedSink.write")
      val run = t("operators.BatchPipeline.run")
      val retry = t("operators.BatchPipeline.retryQuarantine")
      val stream = t("streaming.JobStream.runWorker")
      val l = out.perLayer
      l("sources.FileIngest.readDir.wall_s") = readDir.wallS
      l("sources.FileIngest.readDir.files") = readDir.attr("files")
      l("operators.PipeTransform.transform.wall_s") = pipe.wallS
      l("operators.PipeTransform.transform.task_busy_s") = pipe.busyS
      l("operators.PipeTransform.transform.processes") = pipe.attr("processes")
      l("sinks.NamedSink.write.wall_s") = sink.wallS
      l("sinks.NamedSink.write.objects") = published.toDouble
      l("sinks.NamedSink.write.bytes") = publishedBytes.toDouble
      l("operators.BatchPipeline.run.spark_jobs") = run.jobs
      l("operators.BatchPipeline.run.driver_gap_s") = run.gapS
      l("operators.BatchPipeline.retryQuarantine.wall_s") = retry.wallS
      l("operators.BatchPipeline.retryQuarantine.quarantined") = retry.attr("quarantined")
      l("streaming.JobStream.micro_batches") = batchMs.length
      l("streaming.JobStream.batch_ms_p50") = Stats.median(batchMs.toSeq)
      l("streaming.JobStream.addBatch_ms_p50") = Stats.median(addBatchMs.toSeq)
      l("streaming.JobStream.spark_jobs_per_batch") =
        stream.jobs.toDouble / math.max(1, batchMs.length)
      l("streaming.JobStream.quarantined") = queueQuarantined
      l("model.JobSpec.poison_quarantined") = poisonQuarantined
    }
  }

  /** Traced runs only, after the timed calls of each pass: the dir leg
    * as `BatchPipeline.run` composes it, with each layer's call a
    * separate action so each gets its own span and time. It writes a
    * third output directory, checked like the others; the spans of
    * `BatchPipeline.run` itself come from the real call above.
    */
  private def dirLayers(ctx: Ctx, inDir: String, outDir: String): Unit = {
    import ctx._
    val files = tracer.span("sources.FileIngest.readDir") {
      val df = FileIngest.readDir(spark, inDir).persist(StorageLevel.MEMORY_AND_DISK)
      tracer.count("files", df.count().toDouble)
      df
    }
    val keyed = FileIngest.keyed(files, baseDir = Some(inDir))
    val results = tracer.span("operators.PipeTransform.transform") {
      val r = PipeTransform.transform(keyed, Inputs.Command)
        .persist(StorageLevel.MEMORY_AND_DISK)
      tracer.count("processes", r.count().toDouble)
      r
    }
    try {
      val (ok, bad) = PipeTransform.split(results)
      tracer.span("sinks.NamedSink.write") { NamedSink.write(ok, outDir, ".out") }
      bad.select("key", "exitCode", "error")
        .write.mode("overwrite").parquet(BatchPipeline.quarantineDir(outDir))
    } finally {
      results.unpersist()
      files.unpersist()
    }
  }

  /** Check one pass, outside the timed window. Returns the queue leg's
    * quarantine size and how many poison envelopes it holds correctly.
    */
  private def check(ctx: Ctx, set: Inputs.FileSet, outDir: Path,
      outQueue: Path, layersDir: Option[Path]): (Long, Long) = {
    import ctx._
    val inDir = work.resolve("in")
    def outputs(leg: String, dir: Path): Unit = {
      set.names.foreach { name =>
        val f = dir.resolve(name + ".out")
        if (set.marked(name))
          out.check(!Files.exists(f), s"$leg: marked $name was published")
        else
          out.check(Files.exists(f) && Arrays.equals(
            Files.readAllBytes(f), Files.readAllBytes(inDir.resolve(name))),
            s"$leg: $name.out is missing or differs from its input")
      }
      val tmp = Fs.files(dir).keys.filter(_.getFileName.toString.endsWith(".tmp"))
      out.check(tmp.isEmpty, s"$leg: ${tmp.size} .tmp files left behind")
    }
    outputs("dir leg", outDir)
    outputs("queue leg", outQueue)
    layersDir.foreach(outputs("dir layers", _))

    val dirQ = spark.read.parquet(BatchPipeline.quarantineDir(outDir.toString))
      .select("key", "exitCode").collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    set.marked.foreach { k =>
      out.check(dirQ.get(k).contains(Inputs.FailExit),
        s"dir leg: marked $k quarantined as ${dirQ.get(k)}")
    }
    out.check(dirQ.size == set.marked.size,
      s"dir leg: quarantine holds ${dirQ.size} keys, expected ${set.marked.size}")

    val queueQ = spark.read.parquet(outQueue.toString + "_quarantine")
      .select("key", "exitCode").collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    set.marked.foreach { k =>
      out.check(queueQ.get(k).contains(Inputs.FailExit),
        s"queue leg: marked $k quarantined as ${queueQ.get(k)}")
    }
    val poisonOk = set.poison.count { case (k, code) =>
      val ok = queueQ.get(k).contains(code)
      out.check(ok, s"queue leg: poison '$k' quarantined as ${queueQ.get(k)}, expected $code")
      ok
    }
    val expected = set.marked.size + set.poison.size
    out.check(queueQ.size == expected,
      s"queue leg: quarantine holds ${queueQ.size} keys, expected $expected")
    (queueQ.size.toLong, poisonOk.toLong)
  }
}
