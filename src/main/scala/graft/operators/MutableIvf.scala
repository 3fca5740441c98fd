package graft.operators

import graft.store.{MutableCollection, StoreFs, VectorStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN search over a LIVE mutable collection — the Chroma semantic
  * (`collection.add/upsert/delete` + `collection.query`) at the storage
  * layer: a cell-partitioned IVF index that stays consistent with a
  * [[MutableCollection]] under upsert/update/delete WITHOUT index
  * rewrites, by inheriting the collection's merge-on-read rule.
  *
  * The key observation: the index stores every row VERSION (id, vec,
  * seq, cell_id), and the collection's tombstone filter — keep versions
  * whose seq is at or above the id's max tombstone seq — already
  * resolves versions to exactly the live one (every upsert writes a
  * tombstone that kills its predecessors; a delete kills them all). So
  * search = partition-pruned probe of nprobe cells, then the SAME
  * tombstone filter the collection's own reads use
  * ([[MutableCollection.applyTombstoneFilter]] — shared code, not a
  * copy), then exact top-k. The index needs NO deletion maintenance
  * ever; upserts reach it through an O(delta) [[refresh]] (a seq-pruned
  * scan of only the rows written since the last refresh — parquet
  * min/max on the constant-seq batch files prunes everything older).
  *
  * Consistency model: point-in-time at the index WATERMARK — search
  * answers exactly over the collection state as of the last refresh
  * (both the candidate versions and the tombstones are bounded at the
  * watermark), never a torn mixture of old vectors and new deletes.
  * Run [[refresh]] at the cadence your staleness budget allows; it is
  * O(rows written since last refresh).
  *
  * The ROUTER (centroids) is frozen at [[attach]] and persisted next to
  * the index (Float.toString round-trips exactly), so refresh assigns
  * arrivals deterministically; quantizer drift is handled the same way
  * as the immutable tier — a periodic re-[[attach]].
  *
  * Crash model: refresh appends THEN advances the watermark. A crash in
  * between leaves appended rows above the watermark — invisible to
  * search (seq bound) — and the re-run appends them again; the
  * resulting exact duplicates are collapsed by a per-id dedup on the
  * bounded post-filter candidate set (live resolution leaves one
  * version per id, so the dedup only ever removes crash duplicates).
  */
object MutableIvf {

  private val RouterFile = "_router.properties"
  private val WatermarkFile = "_indexed.properties"

  /** Build the IVF index over the collection's CURRENT rows (all
    * versions — dead ones are filtered at read; run
    * [[MutableCollection.compact]] first after heavy churn for a lean
    * index). Trains the router on the collection content, persists it
    * with the index, and records the indexed watermark. */
  def attach(spark: SparkSession, store: VectorStore, collection: String,
             vecCol: String, index: String, ncells: Int = 16,
             trainIters: Int = 3): Array[(Int, Array[Float])] = {
    val mc = store.mutable(collection)
    val watermark = mc.currentSeq // capture BEFORE reading: rows that
    // land mid-build get re-indexed by the next refresh, and the
    // crash-duplicate dedup absorbs the overlap
    val raw = store.read(spark, collection)
    val cents = Similarity.trainCentroidArrays(raw, vecCol, mc.idCol,
      ncells, trainIters)
    store.create(index,
      Similarity.clusterByCell(Similarity.withCellId(raw, vecCol, cents)),
      partitionBy = Seq("cell_id"))
    writeRouter(store, index, cents, vecCol, mc.idCol)
    writeWatermark(store, index, watermark, collection)
    cents
  }

  /** Index the rows written since the last refresh — O(delta): the
    * scan carries a pushed-down seq range predicate, and each write
    * batch's files hold a constant seq, so parquet min/max prunes every
    * already-indexed file. Returns the new watermark. */
  def refresh(spark: SparkSession, store: VectorStore,
              collection: String, index: String): Long = {
    val mc = store.mutable(collection)
    val from = readWatermark(store, index)
    val to = mc.currentSeq
    if (to == from) return to
    val (cents, vecCol, _) = readRouter(store, index)
    val delta = store.read(spark, collection)
      .filter(col(MutableCollection.SeqCol) > from &&
        col(MutableCollection.SeqCol) <= to)
    store.append(index,
      Similarity.clusterByCell(Similarity.withCellId(delta, vecCol, cents)),
      partitionBy = Seq("cell_id"))
    writeWatermark(store, index, to, collection) // AFTER the append — see crash model
    to
  }

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
    val w = readWatermark(store, index)
    // probe cells: nearest nprobe by (double l2², cid) — same tie rule
    // as assignment
    val probed = Similarity.probeCells(qv, cents, nprobe)
    val cand = store.read(spark, index)
      .filter(col("cell_id").isin(probed.map(Int.box): _*)) // PartitionFilters
      .filter(col(MutableCollection.SeqCol) <= w) // point-in-time bound
    val live = mc.applyTombstoneFilter(spark, cand, asOf = Some(w))
    where.fold(live)(j => live.filter(graft.query.WhereDsl.parse(j)))
      .dropDuplicates(idCol) // crash-duplicate guard (see scaladoc)
      .withColumn("_d", l2Sq(col(vecCol), vecLit(qv)))
      .orderBy(col("_d"), col(idCol))
      .limit(k)
      .select(col(idCol), col("cell_id"),
        (floor(col("_d") * 1e6 + 0.5) / 1e6).as("dist"))
  }

  private def writeRouter(store: VectorStore, index: String,
                          cents: Array[(Int, Array[Float])],
                          vecCol: String, idCol: String): Unit = {
    val props = new java.util.Properties()
    props.setProperty("vecCol", vecCol)
    props.setProperty("idCol", idCol)
    cents.foreach { case (cid, c) =>
      // Float.toString round-trips exactly — the persisted router
      // reproduces attach-time assignment bit for bit
      props.setProperty(s"cell.$cid", c.map(_.toString).mkString(","))
    }
    StoreFs.forPath(store.root).writePropsAtomic(
      s"${store.root}/$index/$RouterFile", props, "graft mutable-ivf router")
  }

  private def readRouter(store: VectorStore,
                         index: String): (Array[(Int, Array[Float])], String, String) = {
    val props = StoreFs.forPath(store.root)
      .readProps(s"${store.root}/$index/$RouterFile")
      .getOrElse(throw new IllegalArgumentException(
        s"'$index' carries no router — build it with MutableIvf.attach"))
    import scala.jdk.CollectionConverters._
    val cents = props.stringPropertyNames().asScala.toSeq
      .filter(_.startsWith("cell."))
      .map { key =>
        (key.stripPrefix("cell.").toInt,
          props.getProperty(key).split(",").map(_.toFloat))
      }.sortBy(_._1).toArray
    (cents, props.getProperty("vecCol"), props.getProperty("idCol"))
  }

  private def writeWatermark(store: VectorStore, index: String, seq: Long,
      collection: String): Unit =
    MutableVacuum.writeWatermark(store, index, seq, collection, "ivf")

  private def readWatermark(store: VectorStore, index: String): Long =
    StoreFs.forPath(store.root)
      .readProps(s"${store.root}/$index/$WatermarkFile")
      .fold(0L)(_.getProperty("seq", "0").toLong)
}
