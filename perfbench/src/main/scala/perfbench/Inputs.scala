package perfbench

import Gen.{Digest, Zipf, rng}

/** `ingest` inputs: documents over a Zipf vocabulary, from blank up to
  * many chunks long, in fixed-size append batches. */
object IngestInputs {
  final case class Doc(id: String, text: String, source: String)
  val ChunkSize = 600
  val Overlap = 50
  val DocsPerBatch = 24
  val Sources = 6
  /** Batches the BPE merges are trained on, apart from those ingested. */
  val BpeCorpusBatches: Seq[Int] = 1000000 until 1000004

  final class Generator(seed: Long) {
    val vocab: Array[String] = Gen.vocabulary(seed, 3000)
    private val zipf = new Zipf(vocab.length, 1.07)
    private val sourceZipf = new Zipf(Sources, 1.0)

    def batch(b: Int): Seq[Doc] = {
      val r = rng(seed, "ingest.batch", b)
      (0 until DocsPerBatch).map { i =>
        val text =
          if (r.nextInt(16) == 0) " " * r.nextInt(3) // blank: dropped by the pipeline
          else Gen.prose(r, vocab, zipf, math.exp(r.nextDouble() * math.log(700.0 / 3)).toInt * 3)
        Doc(s"b$b-d$i", text, s"src${sourceZipf.sample(r)}")
      }
    }
  }

  def digest(seed: Long): String = {
    val g = new Generator(seed)
    val d = new Digest
    (BpeCorpusBatches ++ (-2 until 4)).flatMap(g.batch)
      .foreach(x => d.str(x.id).str(x.text).str(x.source))
    d.hex
  }
}

/** `search` inputs: unit-norm vectors from a Gaussian mixture with
  * skewed cluster sizes and a skewed category, and a seeded request mix
  * whose query vectors repeat Zipf-wise from a perturbed pool. */
object SearchInputs {
  val Dim = 64
  val Rows = 10000
  val Categories = 8
  val Pool = 256
  val BatchQueries = 8
  val K = 10
  val Cells = 16
  val NProbe = 4

  final case class Data(ids: Array[String], cats: Array[String], texts: Array[String],
                        vecs: Array[Array[Float]])
  /** Requests come in blocks of this many, one of them a text query at
    * a seeded position, so every window of 2·Block requests holds both kinds. */
  val Block = 7
  /** An IVF batch of (query id, pool index), or a text query with a
    * category filter. */
  final case class Request(batch: Seq[(String, Int)], text: Option[(String, String)])

  final class Generator(seed: Long) {
    private val vocab = Gen.vocabulary(seed, 2000)
    private val wordZipf = new Zipf(vocab.length, 1.07)
    private val catZipf = new Zipf(Categories, 1.2)

    val data: Data = {
      val r = rng(seed, "search.data")
      val mix = new Gen.Mixture(seed, "search", Dim, 24, 0.1)
      val ids = Array.tabulate(Rows)(i => f"v$i%06d")
      val cats = Array.fill(Rows)(s"c${catZipf.sample(r)}")
      val texts = Array.fill(Rows)(Gen.prose(r, vocab, wordZipf, 4 + r.nextInt(8)))
      Data(ids, cats, texts, Array.fill(Rows)(mix.draw(r)))
    }

    val pool: Array[Array[Float]] = {
      val r = rng(seed, "search.pool")
      Array.fill(Pool) {
        val v = data.vecs(r.nextInt(Rows))
        Gen.unit(v.map(_ + 0.03 * r.nextGaussian()))
      }
    }
    private val poolZipf = new Zipf(Pool, 1.1)

    def request(i: Int): Request = {
      val textAt = rng(seed, "search.block", Math.floorDiv(i, Block)).nextInt(Block)
      val r = rng(seed, "search.request", i)
      if (Math.floorMod(i, Block) == textAt)
        Request(Nil, Some((Gen.prose(r, vocab, wordZipf, 6 + r.nextInt(7)), s"c${catZipf.sample(r)}")))
      else Request((0 until BatchQueries).map(j => (s"q$i-$j", poolZipf.sample(r))), None)
    }
  }

  def digest(seed: Long): String = {
    val g = new Generator(seed)
    val d = new Digest
    (0 until Rows by 97).foreach(i => d.str(g.data.ids(i)).str(g.data.cats(i)).str(g.data.texts(i)).floats(g.data.vecs(i)))
    (0 until 16).map(g.request).foreach { q =>
      q.batch.foreach { case (id, p) => d.str(id).floats(g.pool(p)) }
      q.text.foreach { case (t, c) => d.str(t).str(c) }
    }
    d.hex
  }
}

/** `curate` inputs: corpus shards of background documents plus planted
  * near-duplicate groups whose token edits put the true Jaccard on both
  * sides of the threshold, and a seeded quality score per document. */
object CurateInputs {
  val Shards = 6
  val BackgroundPerShard = 120
  val GroupsPerShard = 10
  val ShingleSize = 5
  val Threshold = 0.8

  final case class Doc(id: Long, shard: Int, text: String, score: Double, group: Int)

  final class Generator(seed: Long) {
    private val vocab = Gen.vocabulary(seed, 4000)
    private val zipf = new Zipf(vocab.length, 1.0)

    private def edit(r: java.util.SplittableRandom, words: Array[String], rate: Double): String =
      words.iterator.flatMap { w =>
        if (r.nextDouble() >= rate) Iterator(w)
        else r.nextInt(3) match {
          case 0 => Iterator.empty // delete
          case 1 => Iterator(vocab(zipf.sample(r))) // replace
          case _ => Iterator(w, vocab(zipf.sample(r))) // insert
        }
      }.mkString(" ")

    def shard(s: Int): Seq[Doc] = {
      val r = rng(seed, "curate.shard", s)
      val base = s.toLong * 100000L
      def words(n: Int) = Array.fill(n)(vocab(zipf.sample(r)))
      def score() = math.floor(r.nextDouble() * 1000) / 1000 // coarse, so ties occur
      val background = (0 until BackgroundPerShard).map { i =>
        Doc(base + i, s, words(60 + r.nextInt(100)).mkString(" "), score(), -1)
      }
      val planted = (0 until GroupsPerShard).flatMap { g =>
        val orig = words(60 + r.nextInt(100))
        (0 until 2 + g % 3).map { m =>
          val text = if (m == 0) orig.mkString(" ") else edit(r, orig, r.nextDouble() * 0.15)
          Doc(base + 1000 + g * 10 + m, s, text, score(), g)
        }
      }
      background ++ planted
    }
  }

  /** Every pair of documents planted in the same group, smaller id first. */
  def plantedPairs(docs: Seq[Doc]): Seq[(Long, Long)] =
    docs.filter(_.group >= 0).groupBy(_.group).values.toSeq.flatMap { g =>
      val ids = g.map(_.id).sorted
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    }

  def digest(seed: Long): String = {
    val g = new Generator(seed)
    val d = new Digest
    (0 until Shards).flatMap(g.shard).foreach(x => d.long(x.id).long(x.shard).str(x.text).double(x.score).long(x.group))
    d.hex
  }
}
