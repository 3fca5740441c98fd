package graft.operators

import graft.store.{MutableCollection, StoreFs, VectorStore}
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
  * Same merge-on-read discipline as [[MutableIvf]]/[[MutableSq]]/
  * [[MutableBq]]: versions + the shared tombstone filter resolve the
  * live state at search, upserts reach the index through an O(delta)
  * seq-pruned [[refresh]] with the FROZEN quantizer (coarse router +
  * codebooks are attach-time artifacts persisted in one sidecar;
  * codebook drift heals by re-[[attach]], the family policy), deletes
  * need no maintenance, consistency is point-in-time at the indexed
  * watermark.
  *
  * Every arithmetic step (deterministic coarse training, sequential
  * codebook k-means, residual encode, ADC, rounded ranks) is the
  * immutable chain's — SQL-reproducible — so the live search sits
  * under a FULL gate hash via the geometry-parameterized PQ oracle
  * restated over the mutated corpus. */
object MutablePq {

  private val QuantFile = "_pq_quantizer.properties"
  private val WatermarkFile = "_indexed.properties"

  /** Encode projection for index rows: every collection column except
    * the raw vector, plus (cell_id, pq_code). One seam for attach and
    * refresh. */
  private def encodeRows(rows: DataFrame, vecCol: String,
      cents: Array[(Int, Array[Float])],
      cb: Similarity.PqCodebook): DataFrame =
    rows
      .withColumn("_enc", Similarity.pqEncodeExpr(col(vecCol), cents, cb))
      .withColumn("cell_id", col("_enc._1"))
      .withColumn("pq_code", col("_enc._2"))
      .drop("_enc").drop(vecCol)

  /** Train the quantizer on the collection's LIVE state and build the
    * cell-partitioned code layout; persist quantizer + watermark.
    * Returns (coarse centroids, codebook). */
  def attach(spark: SparkSession, store: VectorStore, collection: String,
             vecCol: String, index: String, ncells: Int = 16, m: Int = 8,
             ksub: Int = 256, trainIters: Int = 3, sampleCap: Int = 20000)
      : (Array[(Int, Array[Float])], Similarity.PqCodebook) = {
    val mc = store.mutable(collection)
    val watermark = mc.currentSeq // BEFORE reading — the family rule
    val raw = store.read(spark, collection)
    val (cents, cb) = Similarity.trainIvfPq(raw, vecCol, mc.idCol,
      ncells, m, ksub, trainIters, sampleCap)
    store.create(index,
      Similarity.clusterByCell(encodeRows(raw, vecCol, cents, cb)),
      partitionBy = Seq("cell_id"))
    writeQuantizer(store, index, cents, cb, vecCol, mc.idCol)
    writeWatermark(store, index, watermark, collection)
    (cents, cb)
  }

  /** Index the rows written since the last refresh — O(delta), frozen
    * quantizer. Returns the new watermark. */
  def refresh(spark: SparkSession, store: VectorStore,
              collection: String, index: String): Long = {
    val mc = store.mutable(collection)
    val from = readWatermark(store, index)
    val to = mc.currentSeq
    if (to == from) return to
    val (cents, cb, vecCol, _) = readQuantizer(store, index)
    val delta = store.read(spark, collection)
      .filter(col(MutableCollection.SeqCol) > from &&
        col(MutableCollection.SeqCol) <= to)
    store.append(index,
      Similarity.clusterByCell(encodeRows(delta, vecCol, cents, cb)),
      partitionBy = Seq("cell_id"))
    writeWatermark(store, index, to, collection) // AFTER the append — crash model
    to
  }

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
    val w = readWatermark(store, index)
    val centById = cents.toMap
    val probed = Similarity.probeCells(qv, cents, nprobe)
    // per probed cell: ADC table over the query's cell residual
    val tables: Map[Int, Array[Array[Double]]] = probed.map { cell =>
      val cc = centById(cell)
      cell -> Array.tabulate(cb.m) { j =>
        val cjs = cb.cents(j)
        Array.tabulate(cjs.length) { c =>
          var acc = 0.0
          var i = 0
          while (i < cb.dsub) {
            val off = j * cb.dsub + i
            val d = (qv(off).toDouble - cc(off)) - cjs(c)(i)
            acc += d * d
            i += 1
          }
          acc
        }
      }
    }.toMap
    val adc = udf((cell: Int, code: Array[Byte]) => {
      val tab = tables(cell)
      var s = 0.0
      var j = 0
      while (j < code.length) { s += tab(j)(code(j) & 0xFF); j += 1 }
      s
    })
    val cand = store.read(spark, index)
      .filter(col("cell_id").isin(probed.map(Int.box): _*)) // PartitionFilters
      .filter(col(MutableCollection.SeqCol) <= w) // point-in-time bound
    val live = mc.applyTombstoneFilter(spark, cand, asOf = Some(w))
      .dropDuplicates(idCol) // crash-duplicate guard
    val shortlist = live
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
      cents: Array[(Int, Array[Float])], cb: Similarity.PqCodebook,
      vecCol: String, idCol: String): Unit = {
    val props = new java.util.Properties()
    props.setProperty("vecCol", vecCol)
    props.setProperty("idCol", idCol)
    props.setProperty("m", cb.m.toString)
    props.setProperty("dsub", cb.dsub.toString)
    props.setProperty("ksub", cb.ksub.toString)
    cents.foreach { case (cid, c) =>
      props.setProperty(s"cell.$cid", c.map(_.toString).mkString(","))
    }
    cb.cents.zipWithIndex.foreach { case (cjs, j) =>
      cjs.zipWithIndex.foreach { case (c, ci) =>
        props.setProperty(s"cb.$j.$ci", c.map(_.toString).mkString(","))
      }
    }
    StoreFs.forPath(store.root).writePropsAtomic(
      s"${store.root}/$index/$QuantFile", props, "graft mutable-pq quantizer")
  }

  private def readQuantizer(store: VectorStore, index: String)
      : (Array[(Int, Array[Float])], Similarity.PqCodebook, String, String) = {
    val props = StoreFs.forPath(store.root)
      .readProps(s"${store.root}/$index/$QuantFile")
      .getOrElse(throw new IllegalArgumentException(
        s"'$index' carries no quantizer — build it with MutablePq.attach"))
    import scala.jdk.CollectionConverters._
    val names = props.stringPropertyNames().asScala.toSeq
    val cents = names.filter(_.startsWith("cell."))
      .map(key => (key.stripPrefix("cell.").toInt,
        props.getProperty(key).split(",").map(_.toFloat)))
      .sortBy(_._1).toArray
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
    (cents, cb, props.getProperty("vecCol"), props.getProperty("idCol"))
  }

  private def writeWatermark(store: VectorStore, index: String, seq: Long,
      collection: String): Unit =
    MutableVacuum.writeWatermark(store, index, seq, collection, "pq")

  private def readWatermark(store: VectorStore, index: String): Long =
    StoreFs.forPath(store.root)
      .readProps(s"${store.root}/$index/$WatermarkFile")
      .fold(0L)(_.getProperty("seq", "0").toLong)
}
