package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.streaming.{DedupSync, TableSync, VecDedupSync}

/** `sync_ingest`: stateful micro-batch writes beside reads, where the
  * per-job floor lives. Each round commits one batch to each of the
  * three sync sinks, then reads: a point lookup on the table and a scan
  * of both pairs stores. The stores grow during the run, so commit
  * latency, bytes written and read cost trade against each other here.
  */
object SyncIngest {

  final case class Sizes(tableRows: Int, docs: Int, maxBucketBytes: Long)

  /** Every round holds the same work: `tableRows` table rows, `docs`
    * docs and `docs` vectors, far below `VecDedupSync.DefaultSmallBatchRows`
    * (4096), so every vector commit takes the driver-local arm. A batch
    * above it costs about 30 s per vector commit at 4 cores, more than a
    * whole run may take. Round 0 bootstraps the stores untimed; then a
    * run holds at least [[MinRounds]] timed rounds, and more while
    * `--seconds` is not used up.
    */
  val Full = Sizes(tableRows = 500, docs = 200, maxBucketBytes = 16L << 10)
  val Smoke = Sizes(tableRows = 200, docs = 60, maxBucketBytes = 8L << 10)

  val MinRounds = 1

  /** Pairs compaction folds every 2 generations, so the first timed
    * round, the second generation, compacts both pairs stores.
    */
  val CompactEvery = 2
  /** Index buckets of both dedup sinks. Their default, 256, is sized for
    * larger corpora; on indexes of a few MB, 16 buckets cut a commit
    * from about 10 s to about 6 s at 4 cores.
    */
  val IndexBuckets = 16
  val TextThreshold = 0.5
  val VecThreshold = 0.95
  val Dim = 64

  private val tableSchema = StructType(Seq(StructField("k", LongType),
    StructField("ver", LongType), StructField("v", StringType)))
  private val docSchema = StructType(Seq(StructField("id", LongType),
    StructField("text", StringType)))
  private val vecSchema = StructType(Seq(StructField("id", LongType),
    StructField("vec", ArrayType(FloatType, containsNull = false))))

  def run(ctx: Ctx): Unit = {
    import ctx._
    val sz = if (smoke) Smoke else Full
    val table = work.resolve("table").toString
    val tidx = work.resolve("text_index")
    val tpairs = work.resolve("text_pairs")
    val vidx = work.resolve("vec_index")
    val vpairs = work.resolve("vec_pairs")
    val stream = new Inputs.SyncStream(seed, sz.tableRows, sz.docs, Dim)
    var calls = new Calls(tracer)
    val latest = mutable.Map.empty[Long, String]
    val texts = mutable.Map.empty[Long, String]
    val vectors = mutable.Map.empty[Long, Array[Float]]
    val exactDups = mutable.ArrayBuffer.empty[(Long, Long)]
    val arms = mutable.Map.empty[String, Int].withDefaultValue(0)
    val written = mutable.Map.empty[String, (Long, Long, Long)]
      .withDefaultValue((0L, 0L, 0L)) // bytes, files, input bytes
    var inputBytes = 0L
    var round = 0

    def df(rows: Seq[Row], schema: StructType): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

    /** One timed call; in traced runs also the files it left under the
      * stores, listed before and after (outside the timed interval). The
      * work directory holds nothing but the stores and their sidecars.
      */
    def write(name: String, inBytes: Long)(body: => Unit): Unit = {
      val before = if (traced) Fs.files(work) else Map.empty[Path, Long]
      calls(name)(tracer.span(s"streaming.$name")(body))
      if (traced) {
        val added = Fs.files(work).filter { case (p, n) =>
          !before.get(p).contains(n) }
        val (b, f, i) = written(name)
        written(name) = (b + added.map(_._2).sum, f + added.size, i + inBytes)
      }
    }

    def read[A](name: String)(body: => A): A =
      calls(name)(tracer.span(s"streaming.$name")(body))

    // Round 0 bootstraps the stores and warms the JVM, untimed.
    val w0 = System.nanoTime()
    while (round <= MinRounds || calls.all.sum < seconds) {
      val r = stream.next(round)
      val tRows = r.table.map(t => Row(t.k, t.ver, t.v))
      val dRows = r.docs.map(d => Row(d.id, d.text))
      val vRows = r.vecs.map(v => Row(v.id, v.v.toSeq))
      val tBytes = r.table.map(t => 16L + t.v.length).sum
      val dBytes = r.docs.map(d => 8L + d.text.length).sum
      val vBytes = r.vecs.length * (8L + 4L * Dim)
      inputBytes += tBytes + dBytes + vBytes
      calls.unit(r.table.length + r.docs.length + r.vecs.length)
      // which arm each commit takes, inferred from its input
      val textIndexBytes = Fs.bytes(tidx)
      arms(if (r.docs.length <= VecDedupSync.DefaultSmallBatchRows &&
          (round == 0 || textIndexBytes >= DedupSync.DefaultDriverProbeMinIndexBytes))
        "text_driver" else "text_distributed") += 1
      arms(if (r.vecs.length <= VecDedupSync.DefaultSmallBatchRows)
        "vec_driver" else "vec_distributed") += 1

      val tDf = df(tRows, tableSchema)
      val dDf = df(dRows, docSchema)
      val vDf = df(vRows, vecSchema)
      write("TableSync.applyBatch", tBytes) {
        TableSync.applyBatch(tDf, table, "k", "ver", round.toLong,
          maxBucketBytes = sz.maxBucketBytes)
      }
      write("DedupSync.applyDocs", dBytes) {
        DedupSync.applyDocs(dDf, tidx.toString, tpairs.toString, "text", "id",
          round.toLong, threshold = TextThreshold, numBuckets = IndexBuckets,
          compactEvery = CompactEvery)
      }
      write("VecDedupSync.applyVecs", vBytes) {
        VecDedupSync.applyVecs(vDf, vidx.toString, vpairs.toString, "vec", "id",
          round.toLong, threshold = VecThreshold, dim = Dim, numBuckets = IndexBuckets,
          compactEvery = CompactEvery)
      }
      r.table.foreach(t => latest(t.k) = t.v)
      r.docs.foreach(d => texts(d.id) = d.text)
      r.vecs.foreach(v => vectors(v.id) = v.v)
      exactDups ++= r.exactDupDocs

      val keySet = r.lookupKeys.toSet
      val got = read("TableSync.readCurrentForKeys") {
        TableSync.readCurrentForKeys(spark, table,
          df(r.lookupKeys.map(Row(_)), StructType(Seq(StructField("k", LongType)))), "k")
          .select("k", "ver", "v").collect()
      }.filter(row => keySet(row.getLong(0)))
      checkRows(ctx, got, r.lookupKeys, latest, s"round $round lookup")
      read("DedupSync.readPairs") { DedupSync.readPairs(spark, tpairs.toString).collect() }
      read("VecDedupSync.readPairs") { VecDedupSync.readPairs(spark, vpairs.toString).collect() }
      if (round == 0) {
        out.warmupS = (System.nanoTime() - w0) / 1e9
        tracer.reset()
        calls = new Calls(tracer)
        written.clear()
      }
      round += 1
    }

    // final state checks, outside the timed window
    val current = TableSync.readCurrent(spark, table).select("k", "ver", "v").collect()
    checkRows(ctx, current, latest.keys.toSeq, latest, "final readCurrent")
    out.check(current.length == latest.size,
      s"final readCurrent: ${current.length} rows, expected ${latest.size}")
    val textPairs = DedupSync.readPairs(spark, tpairs.toString).collect()
      .map(p => (p.getLong(0), p.getLong(1)) -> p.getDouble(2)).toMap
    // A group of identical texts is linked as a star on its earliest
    // member, not as a clique (keep decisions are connected components),
    // so a planted duplicate must share a component with its source.
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    textPairs.keys.foreach { case (a, b) => parent(find(a)) = find(b) }
    exactDups.foreach { case (a, b) =>
      if (a != b) out.check(find(a) == find(b),
        s"planted exact duplicate ($a, $b) is not linked in the text pairs")
    }
    textPairs.keys.foreach { case (a, b) =>
      val j = jaccard(texts(a), texts(b))
      out.check(j >= TextThreshold - 1e-9, f"text pair ($a, $b) has Jaccard $j%.4f")
    }
    val vecPairs = VecDedupSync.readPairs(spark, vpairs.toString).collect()
    vecPairs.foreach { p =>
      val (a, b) = (p.getLong(0), p.getLong(1))
      val c = cosine(vectors(a), vectors(b))
      out.check(c >= VecThreshold - 1e-5, f"vec pair ($a, $b) has cosine $c%.5f")
    }

    calls.endToEnd(out)
    val storeBytes = Fs.bytes(work)
    def ms(xs: Seq[Double]) = xs.map(_ * 1e3)
    out.report += s"sync_ingest: $round rounds, ${latest.size} keys, " +
      s"${texts.size} docs, ${vectors.size} vectors; commit arms ${arms.toSeq.sorted.mkString(", ")}"
    out.report += f"text index ${Fs.bytes(tidx) / 1e6}%.2f MB against the " +
      f"driver-probe floor ${DedupSync.DefaultDriverProbeMinIndexBytes / 1e6}%.1f MB"
    out.report += Stats.describe("table_commit_p50_s", calls.of("TableSync.applyBatch"), "s")
    out.report += Stats.describe("text_commit_p50_s", calls.of("DedupSync.applyDocs"), "s")
    out.report += Stats.describe("vec_commit_p50_s", calls.of("VecDedupSync.applyVecs"), "s")
    out.report += Stats.describe("lookup_p50_ms", ms(calls.of("TableSync.readCurrentForKeys")), "ms")
    out.report += Stats.describe("pairs_scan_p50_ms",
      ms(calls.of("DedupSync.readPairs") ++ calls.of("VecDedupSync.readPairs")), "ms")
    out.report += f"store_bytes_per_input_byte: ${storeBytes.toDouble / inputBytes}%.4f ratio " +
      f"($storeBytes bytes stored for $inputBytes input bytes)"

    if (traced) {
      val s = tracer.summary()
      val l = out.perLayer
      Seq("TableSync.applyBatch", "DedupSync.applyDocs", "VecDedupSync.applyVecs").foreach { n =>
        val t = s.getOrElse(s"streaming.$n", new Tracer.Totals)
        val (b, f, i) = written(n)
        l(s"streaming.$n.wall_s_p50") = Stats.median(tracer.walls(s"streaming.$n"))
        l(s"streaming.$n.spark_jobs") = t.jobs
        l(s"streaming.$n.stages") = t.stages
        l(s"streaming.$n.tasks") = t.tasks
        l(s"streaming.$n.driver_gap_s") = t.gapS
        l(s"streaming.$n.shuffle_write_bytes") = t.shuffleWrite.toDouble
        l(s"streaming.$n.bytes_written") = b
        l(s"streaming.$n.files_written") = f
        l(s"streaming.$n.write_amp") = b.toDouble / math.max(1L, i)
      }
      val lookup = s.getOrElse("streaming.TableSync.readCurrentForKeys", new Tracer.Totals)
      l("streaming.TableSync.readCurrentForKeys.wall_ms_p50") =
        Stats.median(tracer.walls("streaming.TableSync.readCurrentForKeys")) * 1e3
      l("streaming.TableSync.readCurrentForKeys.spark_jobs") = lookup.jobs
      l("streaming.TableSync.readCurrentForKeys.bytes_read") = lookup.bytesRead.toDouble
      Seq("DedupSync.readPairs", "VecDedupSync.readPairs").foreach { n =>
        l(s"streaming.$n.wall_ms_p50") = Stats.median(tracer.walls(s"streaming.$n")) * 1e3
        l(s"streaming.$n.bytes_read") =
          s.get(s"streaming.$n").map(_.bytesRead.toDouble).getOrElse(0.0)
      }
      l("streaming.store_bytes") = storeBytes
      l("streaming.TableSync.buckets") = {
        val (nb, split) = TableSync.bucketScheme(spark, table)
        (nb + split).toDouble
      }
      l("streaming.DedupSync.pairs_generations") = {
        val gens = java.nio.file.Files.list(tpairs)
        try gens.iterator().asScala.count(_.getFileName.toString.startsWith("batch="))
        finally gens.close()
      }
    }
  }

  private def checkRows(ctx: Ctx, rows: Seq[Row], keys: Seq[Long],
      latest: collection.Map[Long, String], what: String): Unit = {
    val got = rows.map(r => r.getLong(0) -> r.getString(2)).toMap
    keys.distinct.foreach { k =>
      ctx.out.check(got.get(k) == latest.get(k),
        s"$what: key $k reads ${got.get(k)}, expected ${latest.get(k)}")
    }
  }

  /** Jaccard of the word 3-shingle sets, recomputed independently. */
  def jaccard(a: String, b: String): Double = {
    def sh(t: String) = t.split(" ").filter(_.nonEmpty).sliding(3)
      .filter(_.length == 3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    if (x.isEmpty && y.isEmpty) 0.0
    else (x intersect y).size.toDouble / (x union y).size
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / math.sqrt(na * nb)
  }
}
