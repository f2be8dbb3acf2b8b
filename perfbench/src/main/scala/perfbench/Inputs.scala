package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.util.Random

/** Seeded input generators. Every input is a function of the workload
  * seed alone: each stream draws from its own `Random` seeded from
  * (seed, stream), so sizing one stream never shifts another.
  */
object Inputs {

  def rng(seed: Long, stream: Int): Random =
    new Random(seed * 1000003L + stream * 7919L)

  // ---------------------------------------------------------------- file_batch

  /** A line that makes the benchmark command exit 3. */
  val FailMarker = "PERFBENCH-FAIL"
  val FailExit = 3

  /** `command <in> <out>`: a byte-exact copy (one `sed` process, like
    * the reference's `cp`) that exits [[FailExit]] when the input holds
    * the marker line.
    */
  val Command: Seq[String] = Seq("sh", "-c",
    "LC_ALL=C exec sed -n -e '/^" + FailMarker + "$/q" + FailExit +
      "' -e \"w $2\" \"$1\"", "sh")

  final case class FileSet(
      names: IndexedSeq[String],
      marked: Set[String],
      bytes: Long,
      queueJobs: Int,
      /** envelope key -> expected quarantine exit code */
      poison: Map[String, Int])

  val MaxFileBytes: Int = 1 << 20

  /** Log-normal sizes (median 4 KiB, capped at 1 MiB); exactly 1% of
    * the files (at least one) are empty and another 2% carry the fail
    * marker, so every seed plants the same number of failures. Content
    * is printable lines so a mismatch is readable; the last line of a
    * file may lack its newline.
    */
  def fileSizes(seed: Long, n: Int): (IndexedSeq[Int], Set[Int]) = {
    val r = rng(seed, 1)
    val picks = r.shuffle((0 until n).toIndexedSeq)
    val empty = picks.take(math.max(1, n / 100)).toSet
    val marked = picks.slice(empty.size, empty.size + math.max(1, n / 50)).toSet
    val sizes = (0 until n).map { i =>
      val s = math.min(MaxFileBytes,
        math.max(1, math.round(4096.0 * math.exp(1.5 * r.nextGaussian())).toInt))
      if (empty(i)) 0 else s
    }
    (sizes, marked)
  }

  /** Write the flat input directory and the envelope queue. */
  def writeFileBatch(seed: Long, n: Int, inDir: Path, queueDir: Path,
      queueFiles: Int): FileSet = {
    Files.createDirectories(inDir)
    Files.createDirectories(queueDir)
    val (sizes, markedIdx) = fileSizes(seed, n)
    val r = rng(seed, 2)
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 ".getBytes(UTF_8)
    val names = (0 until n).map(i => f"f$i%05d.txt")
    val marked = Set.newBuilder[String]
    var total = 0L
    names.zip(sizes).zipWithIndex.foreach { case ((name, size), idx) =>
      val buf = new Array[Byte](size)
      var i = 0
      while (i < size) {
        buf(i) = if (r.nextInt(64) == 0) '\n'.toByte else alphabet(r.nextInt(alphabet.length))
        i += 1
      }
      val mark = markedIdx(idx)
      val content =
        if (!mark) buf
        else (FailMarker + "\n").getBytes(UTF_8) ++ buf
      if (mark) marked += name
      total += content.length
      Files.write(inDir.resolve(name), content)
    }
    // queue: every file once, plus planted poison envelopes
    def env(action: String, file: String): String =
      s"""["$action","bench","in","out","$file"]"""
    // (envelope line, quarantine key, expected exit code)
    val poison = Seq(
      ("not a json envelope", "not a json envelope", -3),
      ("""["process","bench","in"""", """["process","bench","in"""", -3),
      (env("delete", "unknown-action.txt"), "unknown-action.txt", -3),
      (env("process", "../outside.txt"), "../outside.txt", -4),
      (env("process", "sub/../../escape.txt"), "sub/../../escape.txt", -4),
      (env("process", "missing-object-1.txt"), "missing-object-1.txt", -2),
      (env("process", "missing-object-2.txt"), "missing-object-2.txt", -2))
    val poisonLines = poison.map(_._1)
    val lines = r.shuffle(names.map(env("process", _)) ++ poisonLines)
    lines.grouped((lines.length + queueFiles - 1) / queueFiles).zipWithIndex.foreach { case (g, i) =>
      Files.write(queueDir.resolve(f"q$i%04d.json"),
        g.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    FileSet(names, marked.result(), total, lines.length,
      poison.map(p => p._2 -> p._3).toMap)
  }

  // --------------------------------------------------------------- sync_ingest

  final case class TableRow(k: Long, ver: Long, v: String)
  final case class Doc(id: Long, text: String)
  final case class Vec(id: Long, v: Array[Float])

  final case class Round(
      round: Int, table: Seq[TableRow], docs: Seq[Doc], vecs: Seq[Vec],
      lookupKeys: Seq[Long],
      /** (earlier id, id) pairs with identical text planted this round */
      exactDupDocs: Seq[(Long, Long)])

  val Vocab: IndexedSeq[String] = {
    val r = new Random(7L)
    (0 until 600).map(_ => Seq.fill(3 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString)
  }

  /** The seeded round stream. Table keys are Zipf-skewed, about 70%
    * updates and 30% inserts (one row per key per round, version =
    * round). Docs carry planted near-duplicates (one word edited),
    * exact duplicates under fresh ids, and re-deliveries of earlier
    * ids. Vectors are unit-norm around 16 centres with planted near
    * duplicates. Every round holds `docs` docs and `docs` vectors.
    */
  final class SyncStream(seed: Long, tableRows: Int, docs: Int, dim: Int) {
    private val rt = rng(seed, 11)
    private val rd = rng(seed, 12)
    private val rv = rng(seed, 13)
    private val rk = rng(seed, 14)
    private var nextKey = 0L
    private var nextDoc = 0L
    private var nextVec = 0L
    private val texts = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    private val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    private val centres = Array.fill(16)(unit(Array.fill(dim)(rv.nextGaussian())))

    private def unit(a: Array[Double]): Array[Double] = {
      val n = math.sqrt(a.map(x => x * x).sum)
      a.map(_ / n)
    }

    /** Zipf(1.1)-like rank over the live key range via inverse power. */
    private def zipfKey(): Long = {
      val u = rt.nextDouble()
      val rank = math.min(nextKey - 1, (math.pow(nextKey.toDouble, u) - 1).toLong)
      nextKey - 1 - rank
    }

    def next(round: Int): Round = {
      val table = {
        val keys = scala.collection.mutable.LinkedHashSet.empty[Long]
        while (keys.size < tableRows) {
          if (nextKey < 16 || rt.nextDouble() < 0.3) { keys += nextKey; nextKey += 1 }
          else keys += zipfKey()
        }
        keys.toSeq.map(k => TableRow(k, round.toLong,
          s"v$round-" + Seq.fill(8)(Vocab(rt.nextInt(Vocab.size))).mkString("-")))
      }
      val exact = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val batch = (0 until docs).map { _ =>
        val roll = rd.nextDouble()
        if (roll < 0.02 && texts.nonEmpty) { // re-delivery of an earlier id
          val (id, t) = texts(rd.nextInt(texts.length))
          Doc(id, t)
        } else {
          val id = nextDoc; nextDoc += 1
          val text =
            if (roll < 0.05 && texts.nonEmpty) {
              val (src, t) = texts(rd.nextInt(texts.length))
              exact += ((src, id))
              t
            } else if (roll < 0.12 && texts.nonEmpty) {
              val w = texts(rd.nextInt(texts.length))._2.split(" ")
              w(rd.nextInt(w.length)) = Vocab(rd.nextInt(Vocab.size))
              w.mkString(" ")
            } else Seq.fill(20 + rd.nextInt(60))(Vocab(rd.nextInt(Vocab.size))).mkString(" ")
          texts += ((id, text))
          Doc(id, text)
        }
      }
      // the same batch never carries one id twice
      val dedupedDocs = batch.groupBy(_.id).values.map(_.head).toSeq.sortBy(_.id)
      val vs = (0 until docs).map { _ =>
        val id = nextVec; nextVec += 1
        val v =
          if (rv.nextDouble() < 0.08 && vecs.nonEmpty) {
            val src = vecs(rv.nextInt(vecs.length))
            unit(src.map(x => x + 0.01 * rv.nextGaussian()))
          } else {
            val c = centres(rv.nextInt(centres.length))
            unit(c.map(x => x + 0.35 * rv.nextGaussian()))
          }
        val f = v.map(_.toFloat)
        vecs += f
        Vec(id, f)
      }
      val lookups = Seq.fill(100)(if (nextKey == 0) 0L else (rk.nextDouble() * nextKey).toLong)
      Round(round, table, dedupedDocs, vs, lookups.distinct, exact.toSeq)
    }
  }

  // ----------------------------------------------------------------- query_mix

  /** The query mix in a seed-shuffled order. */
  def queryOrder(seed: Long, names: Seq[String]): Seq[String] =
    rng(seed, 21).shuffle(names.sorted)
}
