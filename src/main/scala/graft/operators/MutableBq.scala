package graft.operators

import graft.store.{StoreFs, VectorStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BINARY-QUANTIZED search over a LIVE mutable collection — the
  * [[LiveIndex]] protocol for the cheapest index family: every row
  * VERSION stores dim/8 bytes of sign signatures (+ the collection's
  * metadata and seq).
  *
  * BQ is the simplest member of the matrix because its quantizer is
  * TRAIN-FREE (sign bits at zero): attach persists no learned artifact,
  * refresh cannot drift, and there is no router — the pre-rank is a
  * map-only Hamming scan of the live signatures into a TakeOrdered
  * (16 bytes/version at 100 TB), not a partition-pruned probe. The
  * exact-cosine rerank fetches the rerank·k shortlist's CURRENT vectors
  * from the collection's live view by id (broadcast semi-join — the
  * bounded [[Similarity.bqSearchStored]] shape over the mutable tier).
  *
  * Everything is deterministic (sign tests, integer XOR/popcount,
  * (hamming, id) / (cosine desc, id) orders), so the live search sits
  * under a FULL gate hash like its immutable siblings. */
object MutableBq {

  private val MetaFile = "_bq_meta.properties"

  private type Meta = (String, String, Int)

  /** Signature projection for index rows — every collection column
    * except the raw vector, plus (bq_lo, bq_hi), in ONE map-only
    * select. */
  private val Live = LiveIndex.Family[Meta]("bq", cellPartitioned = false, {
    case (rows, (vecCol, _, dim)) =>
      val (lo, hi) = Similarity.bqEncodeExprs(col(vecCol), dim)
      rows.withColumn("bq_lo", lo).withColumn("bq_hi", hi).drop(vecCol)
  })

  /** Build the signature index over the collection's current rows (all
    * versions) and record the indexed watermark. */
  def attach(spark: SparkSession, store: VectorStore, collection: String,
             vecCol: String, index: String, dim: Int = 64): Unit =
    LiveIndex.attach(spark, store, collection, index, Live)(
      (_, idCol) => (vecCol, idCol, dim))(writeMeta(store, index, _)): Unit

  /** Index the rows written since the last refresh — O(delta). */
  def refresh(spark: SparkSession, store: VectorStore,
              collection: String, index: String): Long =
    LiveIndex.refresh(spark, store, collection, index, Live)(readMeta(store, index))

  /** Top-k over the live collection as of the index watermark: Hamming
    * pre-rank over live signature versions (tombstone filter + where +
    * crash-duplicate dedup BEFORE the shortlist cut, so the rerank·k
    * candidates are all live), exact-cosine rerank against the
    * collection's live vectors. Returns (idCol, hamming, cosine). */
  def search(spark: SparkSession, store: VectorStore, collection: String,
             index: String, qv: Array[Float], k: Int, rerank: Int = 4,
             where: Option[String] = None): DataFrame = {
    import graft.functions.VectorFunctions.{cosine, vecLit}
    val mc = store.mutable(collection)
    val (vecCol, idCol, dim) = readMeta(store, index)
    val w = LiveIndex.readWatermark(store, index)
    val (qlo, qhi) = Similarity.bqPackLocal(qv, dim)
    val shortlist = LiveIndex.liveCandidates(spark, store, mc, index, idCol, w,
        where = where)
      .select(col(idCol),
        (bit_count(col("bq_lo").bitwiseXOR(lit(qlo))) +
          bit_count(col("bq_hi").bitwiseXOR(lit(qhi))))
          .cast("int").as("hamming"))
      .orderBy(col("hamming"), col(idCol))
      .limit(k * rerank)
    // rerank fetch: the live vectors AS OF THE WATERMARK (point-in-time
    // discipline — a mutation landing between refresh and search must
    // not tear the snapshot), bounded id join
    mc.readLiveAt(spark, w).select(col(idCol), col(vecCol))
      .join(broadcast(shortlist), Seq(idCol))
      .withColumn("cosine", round(cosine(col(vecCol), vecLit(qv)), 6))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("hamming"), col("cosine"))
  }

  private def writeMeta(store: VectorStore, index: String, meta: Meta): Unit = {
    val props = new java.util.Properties()
    props.setProperty("vecCol", meta._1)
    props.setProperty("idCol", meta._2)
    props.setProperty("dim", meta._3.toString)
    StoreFs.forPath(store.root).writePropsAtomic(
      s"${store.root}/$index/$MetaFile", props, "graft mutable-bq meta")
  }

  private def readMeta(store: VectorStore, index: String): Meta = {
    val props = StoreFs.forPath(store.root)
      .readProps(s"${store.root}/$index/$MetaFile")
      .getOrElse(throw new IllegalArgumentException(
        s"'$index' carries no BQ meta — build it with MutableBq.attach"))
    (props.getProperty("vecCol"), props.getProperty("idCol"),
      props.getProperty("dim").toInt)
  }
}
