package graft.operators

import graft.store.{StoreFs, VectorStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ search over a LIVE mutable collection — the byte-budget
  * member of the live-mutable index matrix: every row VERSION stores
  * m bytes of residual PQ code (+ cell, metadata, seq), candidates
  * score from codes through per-query ADC tables, and the bounded
  * exact rerank fetches CURRENT vectors from the collection's
  * point-in-time live view (the mutable layout is CODES-ONLY — the
  * raw-vector column the immutable PQ store carries for rerank lives
  * in the collection here, so the index is ~32× smaller than the
  * vectors it serves).
  *
  * Consistency and crash handling are the [[LiveIndex]] protocol; the
  * frozen params are the coarse router + codebooks, persisted in one
  * sidecar (codebook drift heals by re-[[attach]], the family policy).
  *
  * Every arithmetic step (deterministic coarse training, sequential
  * codebook k-means, residual encode, ADC, rounded ranks) is the
  * immutable chain's — SQL-reproducible — so the live search sits
  * under a FULL gate hash via the geometry-parameterized PQ oracle
  * restated over the mutated corpus. */
object MutablePq {

  private val QuantFile = "_pq_quantizer.properties"

  private type Quantizer =
    (Array[(Int, Array[Float])], Similarity.PqCodebook, String, String)

  /** Encode projection for index rows: every collection column except
    * the raw vector, plus (cell_id, pq_code). */
  private val Live = LiveIndex.Family[Quantizer]("pq", cellPartitioned = true, {
    case (rows, (cents, cb, vecCol, _)) =>
      rows
        .withColumn("_enc", Similarity.pqEncodeExpr(col(vecCol), cents, cb))
        .withColumn("cell_id", col("_enc._1"))
        .withColumn("pq_code", col("_enc._2"))
        .drop("_enc").drop(vecCol)
  })

  /** Train the quantizer on the collection's LIVE state and build the
    * cell-partitioned code layout; persist quantizer + watermark.
    * Returns (coarse centroids, codebook). */
  def attach(spark: SparkSession, store: VectorStore, collection: String,
             vecCol: String, index: String, ncells: Int = 16, m: Int = 8,
             ksub: Int = 256, trainIters: Int = 3, sampleCap: Int = 20000)
      : (Array[(Int, Array[Float])], Similarity.PqCodebook) = {
    val (cents, cb, _, _) =
      LiveIndex.attach(spark, store, collection, index, Live) { (raw, idCol) =>
        val (cents, cb) = Similarity.trainIvfPq(raw, vecCol, idCol,
          ncells, m, ksub, trainIters, sampleCap)
        (cents, cb, vecCol, idCol)
      }(writeQuantizer(store, index, _))
    (cents, cb)
  }

  /** Index the rows written since the last refresh — O(delta), frozen
    * quantizer. Returns the new watermark. */
  def refresh(spark: SparkSession, store: VectorStore,
              collection: String, index: String): Long =
    LiveIndex.refresh(spark, store, collection, index, Live)(readQuantizer(store, index))

  /** Top-k over the live collection as of the index watermark: probe
    * `nprobe` cells with the frozen router (the PQ family's raw-double
    * (dist, cid) rule), ADC-score LIVE code versions (tombstone filter
    * + dedup BEFORE the shortlist cut), exact-rerank the rerank·k
    * shortlist against the watermark live view's vectors. Returns
    * (idCol, score, rank) — the immutable chain's rounded orderings. */
  def search(spark: SparkSession, store: VectorStore, collection: String,
             index: String, qv: Array[Float], k: Int, nprobe: Int = 4,
             rerank: Int = 4): DataFrame = {
    val mc = store.mutable(collection)
    val (cents, cb, vecCol, idCol) = readQuantizer(store, index)
    val w = LiveIndex.readWatermark(store, index)
    val centById = cents.toMap
    val probed = Similarity.probeCells(qv, cents, nprobe)
    // per probed cell: ADC table over the query's cell residual
    val tables: Map[Int, Array[Array[Double]]] =
      probed.map(cell => cell -> Similarity.pqAdcTable(qv, centById(cell), cb)).toMap
    val adc = udf((cell: Int, code: Array[Byte]) => {
      val tab = tables(cell)
      var s = 0.0
      var j = 0
      while (j < code.length) { s += tab(j)(code(j) & 0xFF); j += 1 }
      s
    })
    val shortlist = LiveIndex.liveCandidates(spark, store, mc, index, idCol, w,
        Some(probed))
      .withColumn("adc", round(adc(col("cell_id"), col("pq_code")), 6))
      .orderBy(col("adc"), col(idCol))
      .limit(rerank * k)
      .select(col(idCol))
    // exact rerank against the WATERMARK live view's vectors
    val qd = qv.map(_.toDouble)
    val exactD = udf((v: Seq[Float]) => {
      var acc = 0.0
      var i = 0
      val n = math.min(qd.length, v.length)
      while (i < n) { val d = qd(i) - v(i); acc += d * d; i += 1 }
      acc
    })
    val wExact = org.apache.spark.sql.expressions.Window
      .orderBy(col("score"), col(idCol))
    mc.readLiveAt(spark, w).select(col(idCol), col(vecCol))
      .join(broadcast(shortlist), Seq(idCol))
      .withColumn("score", round(exactD(col(vecCol)), 6))
      .orderBy(col("score"), col(idCol))
      .limit(k)
      .withColumn("rank", row_number().over(wExact).cast("long"))
      .select(col(idCol), col("score"), col("rank"))
  }

  private def writeQuantizer(store: VectorStore, index: String,
                             q: Quantizer): Unit = {
    val (cents, cb, vecCol, idCol) = q
    val props = new java.util.Properties()
    props.setProperty("vecCol", vecCol)
    props.setProperty("idCol", idCol)
    props.setProperty("m", cb.m.toString)
    props.setProperty("dsub", cb.dsub.toString)
    props.setProperty("ksub", cb.ksub.toString)
    Similarity.putCells(props, cents)
    cb.cents.zipWithIndex.foreach { case (cjs, j) =>
      cjs.zipWithIndex.foreach { case (c, ci) =>
        props.setProperty(s"cb.$j.$ci", c.map(_.toString).mkString(","))
      }
    }
    StoreFs.forPath(store.root).writePropsAtomic(
      s"${store.root}/$index/$QuantFile", props, "graft mutable-pq quantizer")
  }

  private def readQuantizer(store: VectorStore, index: String): Quantizer = {
    val props = StoreFs.forPath(store.root)
      .readProps(s"${store.root}/$index/$QuantFile")
      .getOrElse(throw new IllegalArgumentException(
        s"'$index' carries no quantizer — build it with MutablePq.attach"))
    import scala.jdk.CollectionConverters._
    val names = props.stringPropertyNames().asScala.toSeq
    val m = props.getProperty("m").toInt
    val dsub = props.getProperty("dsub").toInt
    val ksub = props.getProperty("ksub").toInt
    val cb = Similarity.PqCodebook(m, dsub, ksub,
      Array.tabulate(m) { j =>
        val rows = names.filter(_.startsWith(s"cb.$j."))
          .map(key => (key.stripPrefix(s"cb.$j.").toInt,
            props.getProperty(key).split(",").map(_.toFloat)))
          .sortBy(_._1)
        Array.tabulate(rows.length)(i => rows(i)._2)
      })
    (Similarity.readCells(props), cb, props.getProperty("vecCol"),
      props.getProperty("idCol"))
  }
}
