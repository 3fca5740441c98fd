package graft.operators

import graft.store.{MutableCollection, StoreFs, VectorStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN search over a LIVE mutable collection — the Chroma semantic
  * (`collection.add/upsert/delete` + `collection.query`) at the storage
  * layer: a cell-partitioned IVF index that stays consistent with a
  * [[MutableCollection]] under upsert/update/delete WITHOUT index
  * rewrites. The consistency and crash protocol (versions + the shared
  * tombstone filter, O(delta) refresh, point-in-time at the watermark,
  * crash-duplicate dedup) is [[LiveIndex]]'s; this is its exact-distance
  * member — the index carries every collection column, raw vector
  * included, and search ranks probed live versions by exact l2².
  *
  * The ROUTER (centroids) is frozen at [[attach]] and persisted next to
  * the index, so refresh assigns arrivals deterministically; quantizer
  * drift is handled the same way as the immutable tier — a periodic
  * re-[[attach]]. */
object MutableIvf {

  private val RouterFile = "_router.properties"

  private type Router = (Array[(Int, Array[Float])], String, String)

  private val Live = LiveIndex.Family[Router]("ivf", cellPartitioned = true,
    { case (rows, (cents, vecCol, _)) => Similarity.withCellId(rows, vecCol, cents) })

  /** Build the IVF index over the collection's CURRENT rows (all
    * versions — dead ones are filtered at read; run
    * [[MutableCollection.compact]] first after heavy churn for a lean
    * index). Trains the router on the collection content, persists it
    * with the index, and records the indexed watermark. */
  def attach(spark: SparkSession, store: VectorStore, collection: String,
             vecCol: String, index: String, ncells: Int = 16,
             trainIters: Int = 3): Array[(Int, Array[Float])] =
    LiveIndex.attach(spark, store, collection, index, Live) { (raw, idCol) =>
      (Similarity.trainCentroidArrays(raw, vecCol, idCol, ncells, trainIters),
        vecCol, idCol)
    }(writeRouter(store, index, _))._1

  /** Index the rows written since the last refresh — O(delta). Returns
    * the new watermark. */
  def refresh(spark: SparkSession, store: VectorStore,
              collection: String, index: String): Long =
    LiveIndex.refresh(spark, store, collection, index, Live)(readRouter(store, index))

  /** Top-k over the live collection as of the index watermark:
    * partition-pruned probe, shared tombstone filter, crash-duplicate
    * dedup, exact distance. Returns (idCol, cell_id, dist) with the
    * repo's 6-decimal floor rounding (selection happens on the
    * unrounded double).
    *
    * `where` is the Chroma `query(where={...})` filter — a where-DSL
    * predicate over the collection's metadata columns (the index
    * carries EVERY collection column, so filtered search needs no join
    * back). It applies AFTER version resolution, so it tests the
    * CURRENT values — an id whose latest version stopped matching is
    * excluded even though a stale indexed version would have matched
    * (the same current-versions rule as `deleteWhere`/`getWhere`) —
    * and BEFORE top-k, so the k results all match (filtered-ANN
    * semantics, not post-filtered). */
  def search(spark: SparkSession, store: VectorStore, collection: String,
             index: String, qv: Array[Float], k: Int, nprobe: Int,
             where: Option[String] = None): DataFrame = {
    import graft.functions.VectorFunctions.{l2Sq, vecLit}
    val mc = store.mutable(collection)
    val (cents, vecCol, idCol) = readRouter(store, index)
    // probe cells: nearest nprobe by (double l2², cid) — same tie rule
    // as assignment
    LiveIndex.liveCandidates(spark, store, mc, index, idCol,
        LiveIndex.readWatermark(store, index),
        Some(Similarity.probeCells(qv, cents, nprobe)), where)
      .withColumn("_d", l2Sq(col(vecCol), vecLit(qv)))
      .orderBy(col("_d"), col(idCol))
      .limit(k)
      .select(col(idCol), col("cell_id"),
        (floor(col("_d") * 1e6 + 0.5) / 1e6).as("dist"))
  }

  private def writeRouter(store: VectorStore, index: String, r: Router): Unit = {
    val props = new java.util.Properties()
    props.setProperty("vecCol", r._2)
    props.setProperty("idCol", r._3)
    Similarity.putCells(props, r._1)
    StoreFs.forPath(store.root).writePropsAtomic(
      s"${store.root}/$index/$RouterFile", props, "graft mutable-ivf router")
  }

  private def readRouter(store: VectorStore, index: String): Router = {
    val props = StoreFs.forPath(store.root)
      .readProps(s"${store.root}/$index/$RouterFile")
      .getOrElse(throw new IllegalArgumentException(
        s"'$index' carries no router — build it with MutableIvf.attach"))
    (Similarity.readCells(props), props.getProperty("vecCol"), props.getProperty("idCol"))
  }
}
