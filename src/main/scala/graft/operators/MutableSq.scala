package graft.operators

import graft.store.{StoreFs, VectorStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** COMPRESSED ANN over a LIVE mutable collection — the [[LiveIndex]]
  * protocol over the int8-SQ encode family, so a mutable collection can
  * carry a compressed index: same cell layout as [[MutableIvf]], CODES
  * instead of vectors (1 byte/dim — at 100 TB the live index is ~4×
  * smaller than the mutable-IVF one and the probe scan reads code
  * bytes, never floats). The protocol carries over unchanged because
  * none of it touches the payload representation.
  *
  * What is NEW is the frozen artifact set: the router (centroids) AND
  * the scalar quantizer (per-dim min/max) freeze at [[attach]] and
  * persist in one sidecar — refresh encodes arrivals with the frozen
  * ranges (pure arithmetic, codes may leave [0,255] when drift pushes a
  * dim outside its fitted range — deterministic, same trade as
  * [[Similarity.insertIntoStoredSq]]), and quantizer drift is healed by
  * a periodic re-[[attach]], the family policy.
  *
  * Search semantics: candidates score by the fused dequantize+l2 ADC
  * kernel ([[graft.functions.VectorFunctions.sqAdc]]) — the int8
  * approximation of the mutable-IVF exact distance; the where-DSL
  * filter tests CURRENT metadata versions exactly as the IVF variant
  * (the index carries every collection column except the raw vector).
  * Everything is SQL-reproducible (deterministic Lloyd, comparisons,
  * fixed-point encode), so the gate checks the live search by FULL
  * hash — the property the SQ family was chosen for. */
object MutableSq {

  private val QuantFile = "_sq_quantizer.properties"

  private type Quantizer =
    (Array[Array[Float]], Array[Double], Array[Double], String, String)

  /** The encode projection: every collection column except the raw
    * vector, plus (cell_id, sq_code). */
  private val Live = LiveIndex.Family[Quantizer]("sq", cellPartitioned = true, {
    case (rows, (cents, mins, maxs, vecCol, _)) =>
      import graft.functions.VectorFunctions.sqEncode
      rows
        .withColumn("cell_id",
          Clustering.assignStruct(col(vecCol), cents).getField("cid"))
        .withColumn("sq_code", sqEncode(col(vecCol), mins, maxs))
        .drop(vecCol)
  })

  /** Build the SQ index over the collection's CURRENT rows (all
    * versions — dead ones filter at read): train the deterministic
    * Lloyd router and fit per-dim min/max on the collection content,
    * write the cell-partitioned code layout, persist the frozen
    * quantizer, record the indexed watermark. */
  def attach(spark: SparkSession, store: VectorStore, collection: String,
             vecCol: String, index: String, ncells: Int = 8,
             iters: Int = 2): (Array[Array[Float]], Array[Double], Array[Double]) = {
    val (cents, mins, maxs, _, _) =
      LiveIndex.attach(spark, store, collection, index, Live) { (raw, idCol) =>
        val cents = Clustering.trainCentroids(raw, ncells, iters, idCol, vecCol)
        val (mins, maxs) = Similarity.sqMinMax(raw, vecCol)
        (cents, mins, maxs, vecCol, idCol)
      }(writeQuantizer(store, index, _))
    (cents, mins, maxs)
  }

  /** Index the rows written since the last refresh — O(delta), frozen
    * quantizer (see class doc). Returns the new watermark. */
  def refresh(spark: SparkSession, store: VectorStore,
              collection: String, index: String): Long =
    LiveIndex.refresh(spark, store, collection, index, Live)(readQuantizer(store, index))

  /** Top-k over the live collection as of the index watermark:
    * partition-pruned probe (same floor-rounded lowest-cid probe rule
    * as every SQ search), shared tombstone filter, optional where-DSL
    * over current metadata, crash-duplicate dedup, fused ADC distance.
    * Returns (idCol, cell_id, dist) with the repo's 6-decimal floor
    * rounding (selection on the unrounded double). */
  def search(spark: SparkSession, store: VectorStore, collection: String,
             index: String, qv: Array[Double], k: Int, nprobe: Int,
             where: Option[String] = None): DataFrame = {
    import graft.functions.VectorFunctions.sqAdc
    val mc = store.mutable(collection)
    val (cents, mins, maxs, _, idCol) = readQuantizer(store, index)
    val scales = Array.tabulate(mins.length)(i => (maxs(i) - mins(i)) / 255)
    LiveIndex.liveCandidates(spark, store, mc, index, idCol,
        LiveIndex.readWatermark(store, index),
        Some(Similarity.sqProbeCells(cents, qv, nprobe).toIndexedSeq), where)
      // rank on the ROUNDED distance — the SQ-family discipline
      // (sqSearchStored does the same): the floor-rounded micro-units
      // are what the gate oracle reproduces, so the top-k cut must
      // happen on them, not on a raw-double knife edge
      .withColumn("dist", floor(sqAdc(col("sq_code"), mins, scales, qv)
        * 1e6 + 0.5) / 1e6)
      .orderBy(col("dist"), col(idCol))
      .limit(k)
      .select(col(idCol), col("cell_id").cast("int").as("cell_id"), col("dist"))
  }

  private def writeQuantizer(store: VectorStore, index: String,
                             q: Quantizer): Unit = {
    val (cents, mins, maxs, vecCol, idCol) = q
    val props = new java.util.Properties()
    props.setProperty("vecCol", vecCol)
    props.setProperty("idCol", idCol)
    props.setProperty("dim", mins.length.toString)
    Similarity.putCells(props, cents.zipWithIndex.map(_.swap))
    // Double.toString round-trips exactly — the persisted quantizer
    // reproduces attach-time encode bit for bit
    mins.indices.foreach { i =>
      props.setProperty(s"min.$i", mins(i).toString)
      props.setProperty(s"max.$i", maxs(i).toString)
    }
    StoreFs.forPath(store.root).writePropsAtomic(
      s"${store.root}/$index/$QuantFile", props, "graft mutable-sq quantizer")
  }

  private def readQuantizer(store: VectorStore, index: String): Quantizer = {
    val props = StoreFs.forPath(store.root)
      .readProps(s"${store.root}/$index/$QuantFile")
      .getOrElse(throw new IllegalArgumentException(
        s"'$index' carries no quantizer — build it with MutableSq.attach"))
    val dim = props.getProperty("dim").toInt
    (Similarity.readCells(props).map(_._2),
      Array.tabulate(dim)(i => props.getProperty(s"min.$i").toDouble),
      Array.tabulate(dim)(i => props.getProperty(s"max.$i").toDouble),
      props.getProperty("vecCol"), props.getProperty("idCol"))
  }
}
