package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.Engine

/** One benchmark run of one workload in one JVM at `local[nproc]`.
  *
  * {{{
  * perfbench.Main --workload <file_batch|sync_ingest|query_mix> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --result <file>
  *   [--fixture <dir>] [--spans <file>] [--queries a,b,..] [--smoke]
  * }}}
  *
  * Writes one JSON result file; `perfbench/run.py` builds this program,
  * adds the query oracle check and prints the contract line.
  */
object Main {

  val Workloads: Seq[String] = Seq("file_batch", "sync_ingest", "query_mix")

  /** Session start-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Double,
      traced: Boolean, work: Path, result: Path, fixture: Option[Path],
      spans: Option[Path], queries: Seq[String], smoke: Boolean)

  def parse(args: Array[String]): Opts = {
    val flags = Set("--smoke")
    def go(rest: List[String], acc: Map[String, String]): Map[String, String] = rest match {
      case f :: tail if flags(f) => go(tail, acc + (f -> "1"))
      case k :: v :: tail if k.startsWith("--") => go(tail, acc + (k -> v))
      case Nil => acc
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }
    val m = go(args.toList, Map.empty)
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    val w = need("--workload")
    require(Workloads.contains(w), s"unknown workload $w (known: ${Workloads.mkString(", ")})")
    val trace = need("--trace")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    Opts(w, need("--seed").toLong, need("--seconds").toDouble, trace == "1",
      Paths.get(need("--work")), Paths.get(need("--result")),
      m.get("--fixture").map(Paths.get(_)), m.get("--spans").map(Paths.get(_)),
      m.get("--queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      m.contains("--smoke"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val result = run(o)
    Files.writeString(o.result, result)
  }

  /** Runs one workload and returns its result as JSON. */
  def run(o: Opts): String = {
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(o.work)
    val setup = (1 to SetupReps).map { _ =>
      SparkSession.getActiveSession.foreach(_.stop())
      val t0 = System.nanoTime()
      val s = Engine.session(master = s"local[$cores]", shufflePartitions = cores,
        appName = "perfbench")
      s.range(1).count()
      (System.nanoTime() - t0) / 1e9
    }
    val startupS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val spark = SparkSession.getActiveSession.get
    try {
      val fixture = o.fixture.filter(_ => o.workload == "query_mix").map { f =>
        if (!Files.exists(f.resolve("oracle_sql.json"))) {
          Fs.rm(f)
          QueryMix.makeFixture(spark, f)
        }
        f
      }
      val tracer = new Tracer(spark, s"${o.workload}-seed${o.seed}-trace${if (o.traced) 1 else 0}",
        o.traced)
      val out = new Outcome
      val ctx = Ctx(spark, tracer, o.seed, o.seconds, o.work, o.smoke, out)
      probe(spark) // the busy loop's own JIT warm-up
      val probeBefore = probe(spark)
      val t0 = System.nanoTime()
      o.workload match {
        case "file_batch" => FileBatch.run(ctx)
        case "sync_ingest" => SyncIngest.run(ctx)
        case "query_mix" =>
          QueryMix.run(ctx, fixture.getOrElse(sys.error("query_mix needs --fixture")).toString,
            o.work.resolve("dumps"), o.queries)
      }
      val workloadS = (System.nanoTime() - t0) / 1e9
      val probeAfter = probe(spark)
      out.endToEnd("setup_s") = Stats.median(setup)
      out.report += Stats.describe("setup_s", setup, "s")
      out.report += f"run wall time: ${startupS}%.1f s from JVM start to the last session, " +
        f"${workloadS}%.1f s in the workload (${out.warmupS}%.1f s of it untimed warm-up)"
      out.report += f"probe (fixed parallel busy loop, idle about 0.1 s): before $probeBefore%.4f s, " +
        f"after $probeAfter%.4f s; $cores cores, driver heap " +
        f"${Runtime.getRuntime.maxMemory / (1 << 20)} MiB"
      if (o.traced) {
        out.perLayer("bench.probe_before_s") = probeBefore
        out.perLayer("bench.probe_after_s") = probeAfter
        Seq("items_per_s", "call_geomean_ms", "jobs_per_call").foreach { k =>
          out.perLayer(s"bench.traced_$k") = out.endToEnd(k)
        }
        out.report += "spans (summed over the timed units):"
        out.report ++= tracer.table()
        o.spans.foreach(p => Files.write(p, java.util.Arrays.asList(tracer.spanLines(): _*)))
      }
      tracer.close()
      def nums(m: collection.Map[String, Double]) =
        Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) })
      Json.obj(Seq(
        "workload" -> Json.str(o.workload),
        "seed" -> o.seed.toString,
        "attempted" -> out.attempted.toString,
        "failed" -> out.failed.toString,
        "end_to_end" -> nums(out.endToEnd),
        "per_layer" -> nums(out.perLayer),
        "report" -> out.report.map(Json.str).mkString("[", ",", "]")))
    } finally spark.stop()
  }

  /** A fixed parallel busy loop, one task per core, timed: constant
    * work, so its wall time reads machine load (the idea of
    * `graft.Bench`'s probe).
    */
  def probe(spark: SparkSession): Double = {
    val n = spark.sparkContext.defaultParallelism
    val t0 = System.nanoTime()
    spark.sparkContext.parallelize(1 to n, n).foreach { _ =>
      var x = 0L
      var i = 0
      while (i < 40000000) { x ^= (x + i) * 0x9E3779B97F4A7C15L; i += 1 }
      if (x == 42L) System.err.println("")
    }
    (System.nanoTime() - t0) / 1e9
  }
}
