package perfbench

import graft.embed.{Embedders, TransformerEmbedder}
import graft.ingest.IngestPipeline
import graft.operators.{Dedup, Similarity}
import graft.query.RagSearch
import graft.store.{CollectionManifest, VectorStore}
import graft.text.Bpe
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one operation produced: work units, and the problems its checks found. */
final case class Outcome(items: Long, problems: Seq[String]) {
  def +(o: Outcome): Outcome = Outcome(items + o.items, problems ++ o.problems)
}

/** A built fixture: the store and inputs one workload runs against. */
trait Fixture {
  /** Runs operation `i` (timed by the caller) and returns the check of
    * its output, which the caller runs untimed. */
  def op(i: Int, t: Tracer): () => Outcome
  /** Outcomes known only once the run is over, by operation index. */
  def settle(): Map[Int, Outcome] = Map.empty
  /** Recall over the run so far; see the benchmark's README. */
  def recall: Double
  /** Bytes on disk under the fixture's store over the user payload bytes. */
  def spaceAmp: Double
}

trait Workload {
  def name: String
  /** Generates the inputs and builds the fixture under `dir`. */
  def setup(spark: SparkSession, dir: String, seed: Long): Fixture
  /** Spans the traced run reports for this workload. */
  def spans: Seq[String]
  /** Operations run after set-up, before anything is timed: operation
    * times fall through the first few seconds of a JVM as the JIT
    * compiles, and these absorb that. Indexes -1, -2, ... */
  def warmupOps: Int
}

object Workloads {
  lazy val all: Seq[Workload] = Seq(Ingest, Search, Curate)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def frame(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  val vec: DataType = ArrayType(FloatType, containsNull = false)

  /** All bytes under `path`, sidecars and checksum files included. */
  def bytesUnder(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else java.nio.file.Files.walk(root).iterator.asScala
      .filter(p => java.nio.file.Files.isRegularFile(p)).map(p => java.nio.file.Files.size(p)).sum
  }

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}

import Workloads._

// ---------------------------------------------------------------- ingest

/** Documents → chunks (600/50) → toy transformer with trained BPE merges
  * → one append per batch into an embedder-bound collection. */
object Ingest extends Workload {
  import IngestInputs._
  val name = "ingest"
  val spans = Seq("ingest.chunk", "embed.encode", "store.append")
  val warmupOps = 8
  val Coll = "chunks"
  private val docSchema = StructType(Seq(StructField("doc_id", StringType),
    StructField("text", StringType), StructField("source", StringType)))

  def setup(spark: SparkSession, dir: String, seed: Long): Fixture = new Fixture {
    private val gen = new Generator(seed)
    private val store = VectorStore(s"$dir/store")
    private def docs(ds: Seq[Doc]) = frame(spark, docSchema, ds.map(d => Row(d.id, d.text, d.source)))
    private val merges = Bpe.train(docs(BpeCorpusBatches.flatMap(gen.batch)), "text", numMerges = 50)
    private val (passages, queries) =
      Embedders.asymmetric(p => TransformerEmbedder(prefix = p, bpeMerges = merges))
    private val manifest = Some(CollectionManifest.of(passages, queries))
    passages.encodeOne("checkpoint load") // loads the weights into this JVM
    private val sent = mutable.ArrayBuffer.empty[(Int, Doc)]
    private var recalled = 1.0
    private var amp = 0.0

    def op(i: Int, t: Tracer): () => Outcome = {
      val batch = gen.batch(i)
      sent ++= batch.map(i -> _)
      val in = docs(batch)
      val out =
        if (t eq NoTrace) IngestPipeline.ingestDocuments(in, passages, deterministicIds = true, ChunkSize, Overlap)
        else {
          // the same steps as ingestDocuments, one span each (IngestMirrorSpec
          // pins that both produce the same rows)
          val chunks = t.layer("ingest.chunk") {
            IngestPipeline.chunk(in.filter(length(trim(col("text"))) > 0), "text", "doc_id", ChunkSize, Overlap)
              .withColumn("id", sha2(col("chunk_id").cast("binary"), 256))
          }
          t.layer("embed.encode")(Embedders.embed(chunks, "chunk", "embedding", passages))
        }
      t.span("store.append")(store.append(Coll, out, manifest = manifest))
      () => Outcome(0, Nil) // checked in settle, from what the store holds
    }

    override def settle(): Map[Int, Outcome] = {
      val rows = store.read(spark, Coll)
        .select("id", "doc_id", "chunk_index", "total_chunks", "chunk", "embedding", "source", "chunk_id")
        .collect()
      val chunks = rows.map(r => Truth.ChunkRow(r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getString(4), r.getSeq[Float](5).toArray))
      val probs = Truth.checkIngest(sent.toSeq, chunks.toSeq, ChunkSize, passages.dim)
      val batchOf = sent.map { case (b, d) => d.id -> b }.toMap
      val items = chunks.flatMap(c => batchOf.get(c.docId)).groupBy(identity).map { case (b, bs) => b -> bs.length.toLong }
      val nonBlank = sent.filter(_._2.text.trim.nonEmpty).map(_._2.id)
      val present = chunks.map(_.docId).toSet
      recalled = ratio(nonBlank.count(present), nonBlank.size)
      val payload = rows.map { r =>
        Seq(0, 1, 4, 6, 7).map(c => Gen.utf8(r.getString(c))).sum + 4L * r.getSeq[Float](5).size + 8L
      }.sum
      amp = ratio(bytesUnder(s"$dir/store/$Coll").toDouble, payload.toDouble)
      (sent.map(_._1).distinct ++ probs.keys).distinct.map { b =>
        b -> Outcome(items.getOrElse(b, 0L), probs.getOrElse(b, Nil))
      }.toMap
    }

    def recall: Double = recalled
    def spaceAmp: Double = amp
  }
}

// ---------------------------------------------------------------- search

/** IVF batches over the stored IVF layout, plus filtered RAG text queries
  * over the same collection read through readCurrent. */
object Search extends Workload {
  import SearchInputs._
  val name = "search"
  val spans = Seq("embed.encode_query", "store.read", "operators.ivf_search", "query.knn")
  val warmupOps = SearchInputs.Block
  val Ivf = "vecs_ivf"
  private val schema = StructType(Seq(StructField("id", StringType), StructField("chunk", StringType),
    StructField("category", StringType), StructField("embedding", vec)))
  private val qSchema = StructType(Seq(StructField("qid", StringType), StructField("qvec", vec)))

  def setup(spark: SparkSession, dir: String, seed: Long): Fixture = new Fixture {
    private val gen = new Generator(seed)
    private val d = gen.data
    private val store = VectorStore(s"$dir/store")
    private val cents = Similarity.buildIvfIndex(store, Ivf,
      frame(spark, schema, d.ids.indices.map(i => Row(d.ids(i), d.texts(i), d.cats(i), d.vecs(i).toSeq))),
      "embedding", "id", ncells = Cells)
    private val qEmb = TransformerEmbedder()
    qEmb.encodeOne("checkpoint load")
    private val index = d.ids.indices.map(i => d.ids(i) -> i).toMap
    private lazy val rows = d.ids.indices.map(i => (d.ids(i), d.cats(i), d.vecs(i)))
    private var recallSum = 0.0
    private var recallN = 0L
    private val exactCache = mutable.Map.empty[Int, Seq[String]] // pool index -> exact top-k

    def op(i: Int, t: Tracer): () => Outcome = {
      val req = gen.request(i)
      req.text match {
        case None =>
          val stored = t.span("store.read")(store.read(spark, Ivf))
          val qs = frame(spark, qSchema, req.batch.map { case (q, p) => Row(q, gen.pool(p).toSeq) })
          val res = t.span("operators.ivf_search") {
            Similarity.ivfSearchStoredMany(stored, "embedding", "id", cents, qs, "qid", "qvec", K, NProbe).collect()
          }
          t.count("ivf.results", res.length)
          () => {
            val byQ = res.groupBy(_.getAs[String]("qid"))
            val probs = req.batch.flatMap { case (q, p) =>
              val hits = byQ.getOrElse(q, Array.empty[Row]).toSeq.map(r =>
                Truth.IvfHit(r.getAs[String]("id"), r.getAs[Double]("cosine"), r.getAs[Int]("rank")))
              val exact = exactCache.getOrElseUpdate(p, Truth.topK(d.ids.indices, K)(
                j => -Truth.cosine(gen.pool(p), d.vecs(j)), j => d.ids(j)).map(x => d.ids(x._1)))
              recallSum += exact.count(hits.map(_.id).toSet).toDouble / exact.size
              recallN += 1
              Truth.checkIvf(gen.pool(p), hits, id => index.get(id).map(d.vecs), K)
            }
            Outcome(req.batch.size, probs)
          }
        case Some((text, cat)) =>
          val coll = t.span("store.read")(store.readCurrent(spark, Ivf))
          var qv: Array[Float] = null
          val res = t.span("query.knn") {
            RagSearch.searchForRag(coll, text, q => { qv = t.span("embed.encode_query")(qEmb.encodeOne(q)); qv },
              nResults = K, whereJson = Some(s"""{"category": "$cat"}"""), contentCol = "chunk",
              idCol = "id", vecCol = "embedding", metadataCols = Seq("category"))
          }
          () => {
            val hits = res.results.map(h => Truth.KnnHit(h.id, h.distance, h.metadata.getOrElse("category", "")))
            val probs = res.error.map("knn: " + _).toSeq ++
              (if (qv == null || qv.length != Dim) Seq("knn: query embedding missing or wrong dim")
               else Truth.checkKnn(qv, cat, hits, rows, K))
            Outcome(1, probs)
          }
      }
    }

    def recall: Double = ratio(recallSum, recallN.toDouble)
    def spaceAmp: Double = {
      val payload = d.ids.indices.map(i => Gen.utf8(d.ids(i)) + Gen.utf8(d.texts(i)) + Gen.utf8(d.cats(i)) + 4L * Dim).sum
      ratio(bytesUnder(s"$dir/store").toDouble, payload.toDouble)
    }
  }
}

// ---------------------------------------------------------------- curate

/** MinHash-LSH near-duplicate pairs → connected components → keep the
  * best-scoring member, one corpus shard per operation. */
object Curate extends Workload {
  import CurateInputs._
  val name = "curate"
  val spans = Seq("operators.minhash_pairs", "operators.components", "operators.keep_best")
  val warmupOps = 4
  val Corpus = "corpus"
  private val schema = StructType(Seq(StructField("id", LongType), StructField("shard", IntegerType),
    StructField("text", StringType), StructField("score", DoubleType)))
  private val pairSchema = StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType),
    StructField("jaccard", DoubleType)))
  private val clusterSchema = StructType(Seq(StructField("id", LongType), StructField("cluster_id", LongType)))

  def setup(spark: SparkSession, dir: String, seed: Long): Fixture = new Fixture {
    private val gen = new Generator(seed)
    private val shards = (0 until Shards).map(gen.shard)
    private val docs = shards.flatten.map(x => x.id -> x).toMap
    private val store = VectorStore(s"$dir/store")
    store.create(Corpus, frame(spark, schema, shards.flatten.map(x => Row(x.id, x.shard, x.text, x.score))),
      partitionBy = Seq("shard"))
    private val corpus = store.read(spark, Corpus)
    private val sh = mutable.Map.empty[Long, Set[String]]
    private def exactJ(a: Long, b: Long): Double = {
      def s(x: Long) = sh.getOrElseUpdate(x, Truth.shingles(docs(x).text, ShingleSize))
      Truth.jaccard(s(a), s(b))
    }
    private var found = 0L
    private var expected = 0L

    def op(i: Int, t: Tracer): () => Outcome = {
      val s = Math.floorMod(i, Shards)
      val part = corpus.filter(col("shard") === s)
      val pairs = t.span("operators.minhash_pairs") {
        Dedup.minhashLsh(part.select("id", "text"), "text", "id", ShingleSize, 32, 4, Threshold).collect()
      }.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      t.count("minhash.pairs", pairs.size)
      val labels = t.span("operators.components") {
        Dedup.connectedComponents(frame(spark, pairSchema, pairs.map(p => Row(p._1, p._2, p._3))), "id_a", "id_b").collect()
      }.map(r => (r.getLong(0), r.getLong(1))).toSeq
      val kept = t.span("operators.keep_best") {
        Dedup.keepBest(frame(spark, clusterSchema, labels.map(l => Row(l._1, l._2))),
          part.select("id", "score"), "id", "score").collect()
      }.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSeq
      () => {
        val probs = Truth.checkPairs(pairs, exactJ, Threshold) ++
          Truth.checkComponents(pairs.map(p => (p._1, p._2)), labels) ++
          Truth.checkKeepBest(kept, labels, docs(_).score)
        val reported = pairs.map(p => (p._1, p._2)).toSet
        plantedPairs(shards(s)).filter { case (a, b) => Truth.round6(exactJ(a, b)) >= Threshold }.foreach { p =>
          expected += 1
          if (reported(p)) found += 1
        }
        Outcome(shards(s).size, probs)
      }
    }

    def recall: Double = ratio(found.toDouble, expected.toDouble)
    def spaceAmp: Double = {
      val payload = shards.flatten.map(x => Gen.utf8(x.text) + 8L + 4L + 8L).sum
      ratio(bytesUnder(s"$dir/store/$Corpus").toDouble, payload.toDouble)
    }
  }
}
