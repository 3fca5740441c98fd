package perfbench

/** Ground truth computed by plain loops over the generated inputs, and
  * the checkers that compare the program's outputs with it. Every
  * checker returns the list of problems it found; empty means correct. */
object Truth {

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i); i += 1 }
    acc
  }

  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); acc += d * d; i += 1 }
    acc
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val na = dot(a, a); val nb = dot(b, b)
    if (na == 0.0 || nb == 0.0) 0.0 else dot(a, b) / math.sqrt(na * nb)
  }

  /** Exact top-k of `items` ordered by `score` ascending, ties by id. */
  def topK[I](items: Iterable[I], k: Int)(score: I => Double, id: I => String): Seq[(I, Double)] =
    items.iterator.map(i => (i, score(i))).toSeq
      .sortBy { case (i, s) => (s, id(i)) }.take(k)

  // ------------------------------------------------------------- search

  /** One IVF result row: (id, cosine, rank). */
  final case class IvfHit(id: String, cosine: Double, rank: Int)

  /** IVF top-k is approximate, so the check is on what must hold of any
    * answer: k rows ranked 1..k, each cosine equal to the exact cosine of
    * the query with that id, in non-increasing order. */
  def checkIvf(q: Array[Float], hits: Seq[IvfHit], vecOf: String => Option[Array[Float]],
               k: Int): Seq[String] = {
    val probs = Seq.newBuilder[String]
    if (hits.size != k) probs += s"ivf: ${hits.size} hits, want $k"
    if (hits.map(_.rank).sorted != (1 to hits.size)) probs += "ivf: ranks are not 1..n"
    if (hits.map(_.id).distinct.size != hits.size) probs += "ivf: duplicate ids"
    val byRank = hits.sortBy(_.rank)
    byRank.zip(byRank.drop(1)).foreach { case (a, b) =>
      if (b.cosine > a.cosine + 1e-9) probs += s"ivf: rank ${b.rank} scores above rank ${a.rank}"
    }
    hits.foreach { h =>
      vecOf(h.id) match {
        case None => probs += s"ivf: unknown id ${h.id}"
        case Some(v) =>
          val want = cosine(q, v)
          if (math.abs(want - h.cosine) > 1e-5) probs += f"ivf: ${h.id} cosine ${h.cosine}%.6f, exact $want%.6f"
      }
    }
    probs.result()
  }

  /** One exact-kNN hit: (id, distance, category). */
  final case class KnnHit(id: String, distance: Double, category: String)

  /** Filtered exact kNN by squared L2 must return exactly the exact
    * top-k distances among rows passing the filter. Ids are compared
    * through distances so that ties cannot fail a correct answer. */
  def checkKnn(q: Array[Float], category: String, hits: Seq[KnnHit],
               rows: Iterable[(String, String, Array[Float])], k: Int): Seq[String] = {
    val probs = Seq.newBuilder[String]
    val pass = rows.filter(_._2 == category)
    val exact = topK(pass, k)(r => l2sq(q, r._3), _._1).map(_._2)
    if (hits.size != exact.size) probs += s"knn: ${hits.size} hits, want ${exact.size}"
    val vec = pass.iterator.map(r => r._1 -> r._3).toMap
    hits.foreach { h =>
      if (h.category != category) probs += s"knn: ${h.id} has category ${h.category}, filter $category"
      vec.get(h.id).foreach { v =>
        if (math.abs(l2sq(q, v) - h.distance) > 1e-4) probs += s"knn: ${h.id} distance ${h.distance} is not its exact distance"
      }
    }
    val got = hits.map(_.distance)
    if (got != got.sorted) probs += "knn: distances not ascending"
    got.zip(exact).foreach { case (g, e) =>
      if (math.abs(g - e) > 1e-4) probs += f"knn: distance $g%.6f where the exact top-k has $e%.6f"
    }
    probs.result()
  }

  // ------------------------------------------------------------- ingest

  /** One stored chunk row. */
  final case class ChunkRow(id: String, docId: String, chunkIndex: Int, totalChunks: Int,
                            chunk: String, embedding: Array[Float])

  /** Ingest invariants: every non-blank document is present with chunks
    * 0..n-1, no blank one is, every chunk fits the chunk size, every
    * embedding has dimension `dim` and unit norm, and ids are unique.
    * Problems are keyed by the document's batch. */
  def checkIngest(docs: Seq[(Int, IngestInputs.Doc)], rows: Seq[ChunkRow], chunkSize: Int,
                  dim: Int): Map[Int, Seq[String]] = {
    val probs = scala.collection.mutable.Map.empty[Int, Vector[String]].withDefaultValue(Vector.empty)
    val batchOf = docs.map { case (b, d) => d.id -> b }.toMap
    def add(b: Int, p: String): Unit = probs(b) = probs(b) :+ p
    val byDoc = rows.groupBy(_.docId)
    docs.foreach { case (b, d) =>
      val got = byDoc.getOrElse(d.id, Nil)
      if (d.text.trim.isEmpty) {
        if (got.nonEmpty) add(b, s"ingest: blank doc ${d.id} was stored")
      } else if (got.isEmpty) add(b, s"ingest: doc ${d.id} missing")
      else {
        val n = got.head.totalChunks
        if (got.map(_.chunkIndex).sorted != (0 until n) || got.exists(_.totalChunks != n))
          add(b, s"ingest: doc ${d.id} chunks are not 0..${n - 1}")
      }
    }
    val Unsent = Int.MinValue
    rows.foreach { r =>
      val b = batchOf.getOrElse(r.docId, Unsent)
      if (b == Unsent) add(b, s"ingest: stored doc ${r.docId} was never sent")
      if (r.chunk.length > chunkSize) add(b, s"ingest: chunk ${r.id} has ${r.chunk.length} chars")
      if (r.embedding.length != dim) add(b, s"ingest: chunk ${r.id} has dim ${r.embedding.length}")
      else if (math.abs(math.sqrt(dot(r.embedding, r.embedding)) - 1.0) > 1e-4)
        add(b, s"ingest: chunk ${r.id} embedding is not unit norm")
    }
    rows.groupBy(_.id).foreach { case (id, rs) =>
      if (rs.size > 1) add(batchOf.getOrElse(rs.head.docId, Unsent), s"ingest: id $id stored ${rs.size} times")
    }
    probs.toMap
  }

  // ------------------------------------------------------------- curate

  /** Distinct character n-grams: positions 1..max(len-n+1, 1), so a text
    * shorter than n is one shingle of itself. */
  def shingles(text: String, n: Int): Set[String] =
    (0 until math.max(text.length - (n - 1), 1)).map(i => text.substring(i, math.min(i + n, text.length))).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = if (a.size < b.size) a.count(b) else b.count(a)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** Six-decimal half-up rounding, the program's reporting precision. */
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Reported near-duplicate pairs: each exactly once, smaller id first,
    * with its exact Jaccard, at or above the threshold. */
  def checkPairs(pairs: Seq[(Long, Long, Double)], exactJ: (Long, Long) => Double,
                 threshold: Double): Seq[String] = {
    val probs = Seq.newBuilder[String]
    if (pairs.map(p => (p._1, p._2)).distinct.size != pairs.size) probs += "pairs: duplicate pair"
    pairs.foreach { case (a, b, j) =>
      if (a >= b) probs += s"pairs: ($a, $b) not ordered"
      val want = round6(exactJ(a, b))
      if (math.abs(want - j) > 1e-6) probs += s"pairs: ($a, $b) jaccard $j, exact $want"
      if (j < threshold) probs += s"pairs: ($a, $b) jaccard $j below $threshold"
    }
    probs.result()
  }

  /** Components must be exactly the connected components of the pairs:
    * same node set, and two nodes share a label iff a path joins them. */
  def checkComponents(pairs: Seq[(Long, Long)], labels: Seq[(Long, Long)]): Seq[String] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val probs = Seq.newBuilder[String]
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    if (labels.map(_._1).toSet != nodes || labels.size != nodes.size)
      probs += s"components: ${labels.size} labelled nodes, pairs hold ${nodes.size}"
    val byLabel = labels.groupBy(_._2).values.map(_.map(l => find(l._1)).toSet)
    if (byLabel.exists(_.size != 1)) probs += "components: one label spans two components"
    if (byLabel.toSeq.flatten.distinct.size != byLabel.size) probs += "components: one component has two labels"
    probs.result()
  }

  /** keepBest: each cluster keeps exactly its highest-scoring member,
    * the smallest id on ties. Rows are (id, cluster, score, kept). */
  def checkKeepBest(rows: Seq[(Long, Long, Double, Boolean)], clusters: Seq[(Long, Long)],
                    scoreOf: Long => Double): Seq[String] = {
    val probs = Seq.newBuilder[String]
    if (rows.map(r => (r._1, r._2)).toSet != clusters.toSet || rows.size != clusters.size)
      probs += "keep_best: rows do not match the clusters"
    rows.foreach { r => if (r._3 != scoreOf(r._1)) probs += s"keep_best: ${r._1} carries score ${r._3}" }
    rows.groupBy(_._2).foreach { case (c, rs) =>
      val want = rs.minBy(r => (-scoreOf(r._1), r._1))._1
      val kept = rs.filter(_._4).map(_._1)
      if (kept != Seq(want)) probs += s"keep_best: cluster $c kept ${kept.mkString(",")}, want $want"
    }
    probs.result()
  }
}
