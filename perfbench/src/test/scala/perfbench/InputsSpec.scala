package perfbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {
  private val digests: Seq[(String, Long => String)] = Seq(
    "ingest" -> IngestInputs.digest, "search" -> SearchInputs.digest, "curate" -> CurateInputs.digest)

  digests.foreach { case (name, digest) =>
    test(s"$name: the same seed gives the same inputs, another seed other inputs") {
      assert(digest(7L) == digest(7L))
      assert(digest(7L) != digest(8L))
    }
  }

  test("search: every block of requests holds exactly one text query") {
    val g = new SearchInputs.Generator(3L)
    (-2 until 4).foreach { b =>
      val kinds = (b * SearchInputs.Block until (b + 1) * SearchInputs.Block).map(g.request(_).text.isDefined)
      assert(kinds.count(identity) == 1, s"block $b")
    }
  }

  test("curate: planted groups put the true Jaccard on both sides of the threshold") {
    val g = new CurateInputs.Generator(5L)
    val docs = (0 until CurateInputs.Shards).flatMap(g.shard)
    val text = docs.map(d => d.id -> d.text).toMap
    val js = CurateInputs.plantedPairs(docs).map { case (a, b) =>
      Truth.jaccard(Truth.shingles(text(a), 5), Truth.shingles(text(b), 5))
    }
    assert(js.exists(_ >= CurateInputs.Threshold) && js.exists(_ < CurateInputs.Threshold))
  }

  test("ingest: batches mix blank documents with documents of many chunks") {
    val g = new IngestInputs.Generator(11L)
    val docs = (0 until 20).flatMap(g.batch)
    assert(docs.exists(_.text.trim.isEmpty))
    assert(docs.exists(_.text.length > 3 * IngestInputs.ChunkSize))
  }
}
