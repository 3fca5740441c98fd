package graft.operators

import graft.store.{MutableCollection, StoreFs, VectorStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** THE live-index protocol — the one definition of how an index over a
  * [[MutableCollection]] stays consistent with it under
  * upsert/update/delete without index rewrites (the Chroma
  * `collection.add/upsert/delete` + `collection.query` loop at the
  * storage layer). The merge-on-read families ([[MutableIvf]],
  * [[MutableSq]], [[MutablePq]], [[MutableBq]]) run their attach,
  * refresh and the front of their search through it and keep only
  * their own parts: fit, encode projection, probe rule, scoring,
  * rerank. [[MutableGraph]] rebuilds cells instead of appending, so it
  * shares only the watermark and the centroid codec.
  *
  * The index stores every row VERSION (the collection's columns and
  * seq, encoded by the family), and the collection's tombstone filter
  * — keep versions at or above the id's max tombstone seq — resolves
  * versions to exactly the live one. Deletes therefore need no index
  * maintenance; upserts reach the index through an O(delta) refresh.
  *
  * Order rules:
  *  - [[attach]] captures `currentSeq` BEFORE it reads the collection:
  *    rows that land mid-build are above the recorded watermark, so the
  *    next refresh indexes them again and the dedup below absorbs the
  *    overlap;
  *  - [[refresh]] reads the watermark and returns before any sidecar
  *    read when nothing was written; otherwise it reads only the
  *    `(watermark, currentSeq]` seq slice (each write batch's files hold
  *    a constant seq, so parquet min/max prunes every indexed file),
  *    encodes it with the params frozen at attach, appends, and advances
  *    the watermark AFTER the append;
  *  - [[liveCandidates]] bounds BOTH the candidate versions and the
  *    tombstones at the watermark: search is point-in-time at the last
  *    refresh, never a torn mixture of old vectors and new deletes.
  *
  * Crash model: a refresh that dies between its append and its
  * watermark advance leaves appended rows above the watermark —
  * invisible to search (seq bound) — and its re-run appends them again.
  * Live resolution leaves one version per id, so the per-id dedup on the
  * bounded candidate set only ever removes such crash duplicates.
  * Quantizer drift is not a crash: the frozen params are healed by a
  * periodic re-attach, the family policy. */
private[operators] object LiveIndex {

  /** A family's part of the protocol: its watermark label, whether its
    * layout is cell-partitioned, and its encode projection (collection
    * rows + frozen params → index rows) — one seam, so attach and
    * refresh can never disagree on the encode arithmetic. */
  final case class Family[P](name: String, cellPartitioned: Boolean,
                             encode: (DataFrame, P) => DataFrame)

  private val WatermarkFile = "_indexed.properties"

  private def watermarkProps(store: VectorStore, index: String) =
    StoreFs.forPath(store.root).readProps(s"${store.root}/$index/$WatermarkFile")

  /** The indexed seq; 0 for an index with no watermark yet. */
  def readWatermark(store: VectorStore, index: String): Long =
    watermarkProps(store, index).fold(0L)(_.getProperty("seq", "0").toLong)

  /** The collection the watermark sidecar binds the index to — what
    * lets [[graft.store.VectorStore.indexCatalog]] find an index's
    * garbage columns without being handed an index list. */
  def boundCollection(store: VectorStore, index: String): Option[String] =
    watermarkProps(store, index).flatMap(p => Option(p.getProperty("collection")))

  def writeWatermark(store: VectorStore, index: String, seq: Long,
                     collection: String, family: String): Unit = {
    val props = new java.util.Properties()
    props.setProperty("seq", seq.toString)
    props.setProperty("collection", collection)
    StoreFs.forPath(store.root).writePropsAtomic(
      s"${store.root}/$index/$WatermarkFile", props,
      s"graft mutable-$family indexed watermark")
  }

  /** Build the index over the collection's current rows (all versions —
    * dead ones filter at read): `fit` freezes the family params from the
    * rows and the collection's id column, `persist` writes them as the
    * family sidecar after the layout, then the watermark is recorded. */
  def attach[P](spark: SparkSession, store: VectorStore, collection: String,
                index: String, family: Family[P])(
                fit: (DataFrame, String) => P)(persist: P => Unit): P = {
    val mc = store.mutable(collection)
    val watermark = mc.currentSeq // BEFORE reading — see the order rules
    val raw = store.read(spark, collection)
    val params = fit(raw, mc.idCol)
    if (family.cellPartitioned)
      store.create(index, Similarity.clusterByCell(family.encode(raw, params)),
        partitionBy = Seq("cell_id"))
    else store.create(index, family.encode(raw, params))
    persist(params)
    writeWatermark(store, index, watermark, collection, family.name)
    params
  }

  /** Index the rows written since the last refresh with the params
    * `load` reads back from the family sidecar. Returns the new
    * watermark. */
  def refresh[P](spark: SparkSession, store: VectorStore, collection: String,
                 index: String, family: Family[P])(load: => P): Long = {
    val mc = store.mutable(collection)
    val from = readWatermark(store, index)
    val to = mc.currentSeq
    if (to == from) return to
    val delta = family.encode(mc.writtenIn(spark, from, to), load)
    if (family.cellPartitioned)
      store.append(index, Similarity.clusterByCell(delta), partitionBy = Seq("cell_id"))
    else store.append(index, delta)
    writeWatermark(store, index, to, collection, family.name) // AFTER the append
    to
  }

  /** The live candidate versions as of watermark `w`: an optional
    * literal `cell_id IN (...)` probe (a PartitionFilter on the
    * cell-partitioned layout), the point-in-time seq bound, the
    * collection's own tombstone filter at `w`, the optional where-DSL
    * filter — over CURRENT values, after version resolution — and the
    * crash-duplicate dedup. */
  def liveCandidates(spark: SparkSession, store: VectorStore,
                     mc: MutableCollection, index: String, idCol: String,
                     w: Long, cells: Option[Seq[Int]] = None,
                     where: Option[String] = None): DataFrame = {
    val scan = store.read(spark, index)
    val probed = cells.fold(scan)(cs => scan.filter(col("cell_id").isin(cs.map(Int.box): _*)))
    val live = mc.applyTombstoneFilter(spark,
      probed.filter(col(MutableCollection.SeqCol) <= w), asOf = Some(w))
    where.fold(live)(j => live.filter(graft.query.WhereDsl.parse(j)))
      .dropDuplicates(idCol)
  }
}
