package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Each checker passes a correct answer and catches a planted wrong one. */
class TruthSpec extends AnyFunSuite {
  private val r = Gen.rng(1L, "truth-spec")
  private val ids = Array.tabulate(50)(i => f"v$i%03d")
  private val vecs = Array.fill(50)(Gen.unit(Gen.gaussian(r, 8)))
  private val q = Gen.unit(Gen.gaussian(r, 8))
  private val vecOf = ids.zip(vecs).toMap

  private def exactIvf(k: Int) = Truth.topK(ids.indices, k)(i => -Truth.cosine(q, vecs(i)), ids(_))
    .zipWithIndex.map { case ((i, s), rank) => Truth.IvfHit(ids(i), -s, rank + 1) }

  test("ivf: exact answer passes; wrong cosine, rank order or count is caught") {
    val good = exactIvf(5)
    assert(Truth.checkIvf(q, good, vecOf.get, 5).isEmpty)
    assert(Truth.checkIvf(q, good.updated(2, good(2).copy(cosine = good(2).cosine + 0.01)), vecOf.get, 5).nonEmpty)
    val swapped = good.updated(0, good(0).copy(rank = 2)).updated(1, good(1).copy(rank = 1))
    assert(Truth.checkIvf(q, swapped, vecOf.get, 5).nonEmpty)
    assert(Truth.checkIvf(q, good.take(4), vecOf.get, 5).nonEmpty)
  }

  test("knn: exact filtered answer passes; a non-nearest or unfiltered hit is caught") {
    val rows = ids.indices.map(i => (ids(i), if (i % 2 == 0) "a" else "b", vecs(i)))
    val exact = Truth.topK(rows.filter(_._2 == "a"), 3)(x => Truth.l2sq(q, x._3), _._1)
      .map { case (x, d) => Truth.KnnHit(x._1, d, "a") }
    assert(Truth.checkKnn(q, "a", exact, rows, 3).isEmpty)
    val far = rows.filter(_._2 == "a").maxBy(x => Truth.l2sq(q, x._3))
    assert(Truth.checkKnn(q, "a", exact.init :+ Truth.KnnHit(far._1, Truth.l2sq(q, far._3), "a"), rows, 3).nonEmpty)
    val other = rows.find(_._2 == "b").get
    assert(Truth.checkKnn(q, "a", exact.init :+ Truth.KnnHit(other._1, exact.last.distance, "b"), rows, 3).nonEmpty)
  }

  test("ingest: invariants hold on a correct store and each planted fault is caught") {
    val docs = Seq(1 -> IngestInputs.Doc("d1", "alpha beta", "s"), 1 -> IngestInputs.Doc("d2", "  ", "s"),
      2 -> IngestInputs.Doc("d3", "gamma", "s"))
    val e = Gen.unit(Array(1.0, 2.0, 2.0))
    val good = Seq(Truth.ChunkRow("i1", "d1", 0, 2, "alpha", e), Truth.ChunkRow("i2", "d1", 1, 2, "beta", e),
      Truth.ChunkRow("i3", "d3", 0, 1, "gamma", e))
    assert(Truth.checkIngest(docs, good, 600, 3).isEmpty)
    assert(Truth.checkIngest(docs, good.tail, 600, 3).keySet == Set(1)) // chunk 0 of d1 lost
    assert(Truth.checkIngest(docs, good.init, 600, 3).keySet == Set(2)) // d3 missing
    assert(Truth.checkIngest(docs, good :+ good(2).copy(docId = "d2", id = "i4"), 600, 3).nonEmpty) // blank stored
    assert(Truth.checkIngest(docs, good.updated(2, good(2).copy(chunk = "x" * 601)), 600, 3).nonEmpty)
    assert(Truth.checkIngest(docs, good.updated(2, good(2).copy(id = "i1")), 600, 3).nonEmpty)
    assert(Truth.checkIngest(docs, good.updated(2, good(2).copy(embedding = Array(1f, 1f, 0f))), 600, 3).nonEmpty)
    assert(Truth.checkIngest(docs, good.updated(2, good(2).copy(embedding = Array(1f, 0f))), 600, 3).nonEmpty)
  }

  test("shingles and Jaccard follow the program's definition") {
    assert(Truth.shingles("abc", 5) == Set("abc"))
    assert(Truth.shingles("abcdef", 5) == Set("abcde", "bcdef"))
    assert(Truth.jaccard(Set("a", "b"), Set("b", "c")) == 1.0 / 3)
  }

  test("pairs: exact pairs pass; a wrong Jaccard, a duplicate or a sub-threshold pair is caught") {
    val exact = Map((1L, 2L) -> 0.85, (3L, 4L) -> 0.7)
    val j = (a: Long, b: Long) => exact((a, b))
    assert(Truth.checkPairs(Seq((1L, 2L, 0.85)), j, 0.8).isEmpty)
    assert(Truth.checkPairs(Seq((1L, 2L, 0.9)), j, 0.8).nonEmpty)
    assert(Truth.checkPairs(Seq((1L, 2L, 0.85), (1L, 2L, 0.85)), j, 0.8).nonEmpty)
    assert(Truth.checkPairs(Seq((3L, 4L, 0.7)), j, 0.8).nonEmpty)
  }

  test("components: the connected components pass; a merge or a split is caught") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L))
    val good = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L)
    assert(Truth.checkComponents(pairs, good).isEmpty)
    assert(Truth.checkComponents(pairs, good.map { case (n, _) => n -> 1L }).nonEmpty)
    assert(Truth.checkComponents(pairs, good.updated(2, 3L -> 3L)).nonEmpty)
    assert(Truth.checkComponents(pairs, good.init).nonEmpty)
  }

  test("keep_best: the best-scoring member (smallest id on ties) passes; another is caught") {
    val score = Map(1L -> 0.5, 2L -> 0.9, 3L -> 0.9, 7L -> 0.1, 8L -> 0.2)
    val clusters = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L)
    val good = clusters.map { case (id, c) => (id, c, score(id), id == 2L || id == 8L) }
    assert(Truth.checkKeepBest(good, clusters, score).isEmpty)
    val tieWrong = good.map { case (id, c, s, _) => (id, c, s, id == 3L || id == 8L) }
    assert(Truth.checkKeepBest(tieWrong, clusters, score).nonEmpty)
    assert(Truth.checkKeepBest(good.map(r => r.copy(_4 = false)), clusters, score).nonEmpty)
  }
}
