package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  private def fileBatch(seed: Long): Map[String, Seq[Byte]] = {
    val dir = Files.createTempDirectory("perfbench-inputs-")
    try {
      Inputs.writeFileBatch(seed, 60, dir.resolve("in"), dir.resolve("queue"), 7)
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
      finally s.close()
    } finally Fs.rm(dir)
  }

  private def rounds(seed: Long): Seq[String] = {
    val s = new Inputs.SyncStream(seed, 50, 20, 8)
    (0 until 4).map { i =>
      val r = s.next(i)
      (r.table.map(_.toString) ++ r.docs.map(_.toString) ++
        r.vecs.map(v => s"${v.id}:${v.v.mkString(",")}") ++
        r.lookupKeys.map(_.toString) ++ r.exactDupDocs.map(_.toString)).mkString("\n")
    }
  }

  test("file_batch: the same seed gives byte-identical inputs, another seed different ones") {
    val a = fileBatch(7)
    assert(a.size == 60 + 7, "60 input files and 7 queue files")
    assert(a == fileBatch(7))
    assert(a != fileBatch(8))
  }

  test("file_batch: planted failures, empties and poison envelopes are present") {
    val dir = Files.createTempDirectory("perfbench-inputs-")
    try {
      val set = Inputs.writeFileBatch(3, 400, dir.resolve("in"), dir.resolve("queue"), 8)
      assert(set.marked.nonEmpty)
      assert(set.names.exists(n => Files.size(dir.resolve("in").resolve(n)) == 0))
      assert(set.poison.values.toSet == Set(-2, -3, -4))
      assert(set.queueJobs == 400 + set.poison.size)
    } finally Fs.rm(dir)
  }

  test("sync_ingest: the same seed gives identical rounds, another seed different ones") {
    assert(rounds(5) == rounds(5))
    assert(rounds(5) != rounds(6))
  }

  test("sync_ingest: one row per key per round, planted duplicates share text") {
    val s = new Inputs.SyncStream(1, 300, 200, 16)
    val texts = scala.collection.mutable.Map.empty[Long, String]
    (0 until 3).foreach { i =>
      val r = s.next(i)
      assert(r.table.map(_.k).distinct.size == r.table.size)
      assert(r.table.forall(_.ver == i))
      assert(r.docs.map(_.id).distinct.size == r.docs.size)
      r.docs.foreach(d => texts(d.id) = d.text)
      r.exactDupDocs.foreach { case (a, b) => assert(texts(a) == texts(b)) }
      r.vecs.foreach(v => assert(math.abs(v.v.map(x => x * x).sum - 1.0) < 1e-4))
    }
  }

  test("query_mix: the seed sets only the order of a fixed set") {
    val names = QueryMix.Subset
    assert(Inputs.queryOrder(1, names) == Inputs.queryOrder(1, names))
    assert(Inputs.queryOrder(1, names) != Inputs.queryOrder(2, names))
    assert(Inputs.queryOrder(2, names).sorted == names.sorted)
    assert(names.map(QueryMix.family).distinct.size == QueryMix.Families.size,
      "every family is in the mix")
  }

  test("jaccard and cosine recomputation") {
    assert(SyncIngest.jaccard("a b c d", "a b c d") == 1.0)
    assert(SyncIngest.jaccard("a b c d", "a b c e") == 1.0 / 3)
    assert(math.abs(SyncIngest.cosine(Array(1f, 0f), Array(1f, 1f)) - math.sqrt(0.5)) < 1e-9)
  }

  test("covered time is the union of intervals clipped to the span") {
    assert(Tracer.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 2, 25) == 13 + 5)
    assert(Tracer.covered(Nil, 0, 10) == 0)
  }
}
