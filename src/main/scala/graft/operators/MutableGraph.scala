package graft.operators

import graft.store.{MutableCollection, StoreFs, VectorStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GRAPH (NSW) search over a LIVE mutable collection — the last member
  * of the live-mutable index matrix (IVF exact, SQ compressed, BQ
  * signatures, and now the walk family), shaped by how graphs actually
  * tolerate mutation:
  *
  *  - '''cells hold LIVE-resolved nodes, one per id''' — unlike the
  *    relational families, a cell's NSW graph cannot hold two versions
  *    of one id (adjacency is id-keyed), so [[attach]] and [[refresh]]
  *    build cells from the tombstone-MERGED view, and every node carries
  *    the seq of the version it was built from;
  *  - '''deletes need no maintenance''' (the published
  *    HNSW-with-deletions posture — FAISS IDSelector / Qdrant payload
  *    filters): a deleted id's node stays in the graph as a ROUTING
  *    WAYPOINT (removing it would tear the navigable structure) and the
  *    collection's own tombstone filter drops it from the EMITTED
  *    candidates; the beam's `ef` overfetch absorbs the filtered slots;
  *  - '''upserts reach the index through an O(touched cells)
  *    [[refresh]]''': the arrival versions' cells (assigned with the
  *    FROZEN router) rebuild from the live-as-of-now members — the
  *    [[GraphAnn.insertIntoStored]] rebuild discipline, applied to
  *    versions. A moved vector's OLD node lingers in its old cell as a
  *    waypoint until that cell is next rebuilt; the search-time seq
  *    filter keeps it out of results (spec-pinned). A cell that stops
  *    receiving upserts is never rebuilt by refresh — under sustained
  *    churn its waypoint fraction grows without bound, which is what
  *    the threshold-gated [[vacuum]] verb exists to cut;
  *  - '''consistency is point-in-time at the indexed watermark''', same
  *    as the whole family: search bounds emitted candidates with an
  *    explicit `seq <= watermark` filter (the sibling families' rule),
  *    so nodes indexed PAST the watermark — rows racing [[attach]]'s
  *    corpus scan, or cells rebuilt by a [[refresh]] that crashed before
  *    its watermark advance — never surface as future versions. The one
  *    DOCUMENTED residual after a crashed refresh: rebuilt cells were
  *    rewritten from the live-as-of-`to` view, so a pre-mutation version
  *    that was live at the old watermark no longer has a node in a
  *    REBUILT cell — reads between the crash and the (idempotent) re-run
  *    may MISS such rows, though they never show anything that was not
  *    live at the watermark. Re-running `refresh` restores the
  *    point-in-time contract (deterministic cell graphs). The append
  *    families (IVF/SQ/PQ/BQ) do not share this window — their crash
  *    residue is extra rows, removed by seq bound + dedup.
  *
  * Search = partition-pruned probe (frozen router, the family's
  * floor-rounded lowest-cid rule), per-cell beam walk over ALL nodes
  * (live and waypoint), then the shared tombstone filter + per-id dedup
  * + exact top-k over the emitted `nprobe·ef` candidates. Approximate
  * by construction (walk + waypoint recall) ⇒ rows-only gate; the
  * exhaustive configuration equals exact kNN over the live state
  * (spec-pinned), and recall is pinned beside the immutable graph's. */
object MutableGraph {

  private val RouterFile = "_router.properties"

  /** The collection's live view as of `asOf`
    * ([[MutableCollection.liveWithSeq]]) in the walk kernel's
    * (id, vec, seq) node shape. */
  private def liveNodes(spark: SparkSession, mc: MutableCollection,
                        vecCol: String, asOf: Option[Long]): DataFrame =
    mc.liveWithSeq(spark, asOf)
      .select(col(mc.idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("vec"),
        col(MutableCollection.SeqCol).as("seq"))

  /** Cell-partitioned NSW build over (id, vec, seq, cell_id) rows: the
    * node rows plus the version seq they were built from. */
  private def buildCells(assigned: DataFrame, m: Int, efC: Int): DataFrame = {
    val sp = assigned.sparkSession
    import sp.implicits._
    assigned
      .select(col("id"), col("vec"), col("seq"), col("cell_id"))
      .repartition(col("cell_id"))
      .as[(Long, Array[Float], Long, Int)]
      .mapPartitions { it =>
        val rows = it.toArray
        rows.groupBy(_._4).iterator.flatMap { case (cell, members) =>
          val seqOf = members.map(r => r._1 -> r._3).toMap
          GraphAnn.buildCell(cell, members.map(r => (r._1, r._2)), m, efC)
            .map(n => (n.cell_id, n.id, n.vec, n.neighbors, seqOf(n.id)))
        }
      }
      .toDF("cell_id", "id", "vec", "neighbors", "seq")
  }

  /** Build the graph over the collection's LIVE state: train the router
    * on the live vectors, build each cell's NSW from live-resolved
    * members, persist router + watermark. Returns the frozen router. */
  def attach(spark: SparkSession, store: VectorStore, collection: String,
             vecCol: String, index: String, ncells: Int = 8,
             iters: Int = 2, m: Int = 8,
             efConstruction: Int = 32): Array[Array[Float]] = {
    val mc = store.mutable(collection)
    val watermark = mc.currentSeq // BEFORE reading — the family rule
    val live = liveNodes(spark, mc, vecCol, asOf = None)
    val cents = Clustering.trainCentroids(live, ncells, iters, "id", "vec")
    val assigned = live.withColumn("cell_id",
      Clustering.assignStruct(col("vec"), cents).getField("cid"))
    store.create(index, buildCells(assigned, m, efConstruction),
      partitionBy = Seq("cell_id"))
    writeRouter(store, index, cents, vecCol, mc.idCol, m, efConstruction)
    LiveIndex.writeWatermark(store, index, watermark, collection, "graph")
    cents
  }

  /** Rebuild the cells touched by versions written since the last
    * refresh, from the live-as-of-now members of those cells —
    * O(touched cells), never the collection. Returns the new
    * watermark. */
  def refresh(spark: SparkSession, store: VectorStore,
              collection: String, index: String): Long = {
    val mc = store.mutable(collection)
    val from = LiveIndex.readWatermark(store, index)
    val to = mc.currentSeq
    if (to == from) return to
    val (cents, vecCol, _, m, efC) = readRouter(store, index)
    // bounded collect: <= ncells touched cell ids
    val touched = mc.writtenIn(spark, from, to)
      .select(Clustering.assignStruct(col(vecCol).cast("array<float>"), cents)
        .getField("cid").as("cell_id"))
      .distinct().collect().map(_.getInt(0)).sorted
    if (touched.nonEmpty) {
      val members = liveNodes(spark, mc, vecCol, asOf = Some(to))
        .withColumn("cell_id",
          Clustering.assignStruct(col("vec"), cents).getField("cid"))
        .filter(col("cell_id").isin(touched.map(Int.box).toIndexedSeq: _*))
      // EAGER pin: the rebuilt rows read the same path the dynamic
      // overwrite below rewrites (the insertIntoStored discipline)
      val rebuilt = buildCells(members, m, efC).localCheckpoint(true)
      store.overwritePartitions(index, rebuilt, Seq("cell_id"))
    }
    LiveIndex.writeWatermark(store, index, to, collection, "graph") // AFTER the rewrite
    to
  }

  /** VACUUM the graph's routing-waypoint garbage — the verb [[refresh]]
    * deliberately is not: refresh rebuilds the cells upserts TOUCH, so a
    * cell that keeps receiving deletes but stops receiving upserts
    * accumulates waypoint nodes (deleted / superseded versions that
    * still route) without bound, and its walk cost grows with its
    * garbage fraction. Vacuum rebuilds every cell whose waypoint
    * fraction exceeds `maxGarbagePpm` (per [[MutableVacuum.report]] —
    * live/garbage/pending accounting at the index's own watermark) from
    * the live-at-watermark members assigned by the FROZEN router — a
    * node-level filter would tear adjacency, so the rewrite re-walks the
    * cell's NSW construction, exactly the refresh rebuild kernel. A cell
    * whose members were ALL garbage has its partition removed outright.
    *
    * Pure physical rewrite: the watermark does not move, search results
    * before and after are identical (vacuum removes only what search was
    * already filtering — spec-pinned), a crash mid-rewrite leaves every
    * in-between state read-correct, and re-running is idempotent. After
    * `vacuum(0)` the index holds exactly the live-at-watermark node set
    * (`n_garbage = 0` in the report). O(dirty cells), never the
    * collection. Returns the vacuumed cell ids.
    *
    * PENDING-NODE divergence from [[MutableVacuum.vacuumCells]], by
    * design: the relational families keep pending (seq > watermark)
    * rows byte-for-byte, but the graph rebuild DROPS a dirty cell's
    * pending nodes (a crashed refresh's residue) and the re-run refresh
    * re-creates them — deliberately. Pending node rows are walk
    * structure whose adjacency closes over the crashed refresh's
    * live-at-`to` node set, not the live-at-`w` set this rebuild emits:
    * carried across verbatim they would dangle edges into dropped
    * nodes (a walk-time lookup crash), and a re-upsert whose old and
    * new vectors share a cell would seat two rows under one node id —
    * a state no refresh ever produces and the per-cell walk maps don't
    * model. Reads lose nothing either way (search bounds at the
    * watermark, so pending nodes are invisible until the watermark
    * advances), and the re-run refresh — which owns pending rows under
    * the crash contract — rebuilds every cell its delta touches from
    * scratch. */
  def vacuum(spark: SparkSession, store: VectorStore, collection: String,
             index: String, maxGarbagePpm: Long = 200000L,
             precomputedReport: Option[DataFrame] = None): Array[Int] = {
    val mc = store.mutable(collection)
    val w = LiveIndex.readWatermark(store, index)
    val (cents, vecCol, _, m, efC) = readRouter(store, index)
    // bounded collect: the report is one row per cell; a caller that
    // already ran the report on the CURRENT state hands it in and the
    // verb's only pre-rewrite O(index) read is not paid twice
    // (MutableVacuum.vacuumCells' contract — caller owns freshness)
    val dirty = precomputedReport
      .getOrElse(MutableVacuum.report(spark, store, collection, index))
      .filter(col("n_garbage") > 0L && col("garbage_ppm") > maxGarbagePpm)
      .select("cell_id").collect().map(_.getInt(0)).sorted
    if (dirty.isEmpty) return dirty
    val members = liveNodes(spark, mc, vecCol, asOf = Some(w))
      .withColumn("cell_id",
        Clustering.assignStruct(col("vec"), cents).getField("cid"))
      .filter(col("cell_id").isin(dirty.map(Int.box).toIndexedSeq: _*))
    val schema = store.read(spark, index).schema
    // EAGER pin: the rebuild reads the files the overwrite rewrites
    val rebuilt = buildCells(members, m, efC).localCheckpoint(true)
    val nonEmpty = rebuilt.select(col("cell_id").cast("int"))
      .distinct().collect().map(_.getInt(0)).toSet
    store.overwritePartitions(index, rebuilt, Seq("cell_id"))
    // seat-then-delete ordered (see MutableVacuum.removeEmptiedCells):
    // the index keeps a schema-bearing file at every in-between state
    MutableVacuum.removeEmptiedCells(spark, store, index, schema,
      dirty.filterNot(nonEmpty).toIndexedSeq)
    dirty
  }

  /** Top-k over the live collection as of the index watermark: probe
    * `nprobe` cells (frozen router), beam-walk each cell's FULL node
    * set (waypoints included — they route), emit `ef` candidates per
    * cell with their node seq, then resolve liveness with the shared
    * tombstone filter, dedup per id, and cut the exact top-k by the
    * repo's (floor-rounded dist, id) order.
    *
    * `where` is the Chroma `query(where={...})` filter over CURRENT
    * metadata: graph nodes carry no metadata (they are walk structure),
    * so the predicate applies through a bounded join of the emitted
    * candidates against the watermark live view — the graph family's
    * published over-fetch shape (filter selectivity costs recall via
    * the fixed ef budget, never walk correctness). */
  def search(spark: SparkSession, store: VectorStore, collection: String,
             index: String, qv: Array[Double], k: Int, nprobe: Int,
             ef: Int, where: Option[String] = None): DataFrame = {
    import spark.implicits._
    val mc = store.mutable(collection)
    val (cents, _, idCol, _, _) = readRouter(store, index)
    val w = LiveIndex.readWatermark(store, index)
    val probed = Similarity.sqProbeCells(cents, qv, nprobe)
    val qf = qv.map(_.toFloat)
    val cand = store.read(spark, index)
      .filter(col("cell_id").isin(probed.map(Int.box).toIndexedSeq: _*)) // PartitionFilters
      .repartition(math.max(probed.length, 1), col("cell_id")) // re-colocate sliced cells
      .select(col("cell_id"), col("id"), col("vec"), col("neighbors"), col("seq"))
      .as[(Int, Long, Array[Float], Array[Long], Long)]
      .mapPartitions { it =>
        val rows = it.toArray
        rows.groupBy(_._1).iterator.flatMap { case (cell, ns) =>
          GraphAnn.counters.cellLoads.incrementAndGet()
          val vecs = scala.collection.mutable.LongMap[Array[Float]]()
          val nbs = scala.collection.mutable.LongMap[Array[Long]]()
          val seqs = scala.collection.mutable.LongMap[Long]()
          ns.foreach { n => vecs(n._2) = n._3; nbs(n._2) = n._4; seqs(n._2) = n._5 }
          val entry = ns.iterator.map(_._2).min
          GraphAnn.counters.beamWalks.incrementAndGet()
          val (top, _) = GraphAnn.beamSearch(vecs(_), nbs(_).toSeq, entry, qf, ef)
          top.iterator.map { case (d, id) => (cell, id, d, seqs(id)) }
        }
      }
      .toDF("cell_id", idCol, "_d", MutableCollection.SeqCol)
    // waypoints (deleted / superseded versions) drop here, on the SAME
    // rule the collection's own reads use; dedup guards the id that
    // surfaces from two probed cells (old-cell waypoint + new home).
    // The explicit seq bound (the sibling families' point-in-time rule)
    // drops nodes indexed PAST the watermark — rows that raced attach's
    // corpus scan, or cells rebuilt by a refresh that crashed before
    // its watermark advance — so emitted results never show the future.
    val live = mc.applyTombstoneFilter(
        spark, cand.filter(col(MutableCollection.SeqCol) <= w), asOf = Some(w))
      .dropDuplicates(idCol)
    // metadata filter: bounded join (<= nprobe·ef candidate rows)
    // against the watermark live view's CURRENT columns
    val filtered = where.fold(live) { j =>
      live.join(
        mc.readLiveAt(spark, w).filter(graft.query.WhereDsl.parse(j))
          .select(col(idCol)),
        Seq(idCol), "left_semi")
    }
    filtered
      .withColumn("dist", floor(col("_d") * 1e6 + 0.5) / 1e6)
      .orderBy(col("dist"), col(idCol))
      .limit(k)
      .select(col(idCol).as("vec_id"), col("cell_id"), col("dist"))
  }

  private def writeRouter(store: VectorStore, index: String,
      cents: Array[Array[Float]], vecCol: String, idCol: String,
      m: Int, efC: Int): Unit = {
    val props = new java.util.Properties()
    props.setProperty("vecCol", vecCol)
    props.setProperty("idCol", idCol)
    props.setProperty("m", m.toString)
    props.setProperty("efConstruction", efC.toString)
    Similarity.putCells(props, cents.zipWithIndex.map(_.swap))
    StoreFs.forPath(store.root).writePropsAtomic(
      s"${store.root}/$index/$RouterFile", props, "graft mutable-graph router")
  }

  private def readRouter(store: VectorStore, index: String)
      : (Array[Array[Float]], String, String, Int, Int) = {
    val props = StoreFs.forPath(store.root)
      .readProps(s"${store.root}/$index/$RouterFile")
      .getOrElse(throw new IllegalArgumentException(
        s"'$index' carries no router — build it with MutableGraph.attach"))
    (Similarity.readCells(props).map(_._2), props.getProperty("vecCol"),
      props.getProperty("idCol"), props.getProperty("m").toInt,
      props.getProperty("efConstruction").toInt)
  }
}
