package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, MapType}

/** Approximate-nearest-neighbor search over an `ARRAY<FLOAT>` embedding
  * column. Three tiers:
  *
  *  1. [[bruteForceTopK]] — exact; broadcast the (small) query set over the
  *     big collection, codegen'd cosine, per-query top-k via window rank.
  *     The baseline every approximate method is measured against.
  *  2. [[ivfTopK]] — IVF-flat: a coarse quantizer (centroids learned by a
  *     few Lloyd iterations over a sample, all in DataFrames) partitions
  *     the collection; queries probe only the `nprobe` nearest cells. At
  *     100 TB this is the difference between scanning everything and
  *     scanning nprobe/ncells of it, with the cell assignment stored as a
  *     partition column.
  *  3. [[cosineLshBuckets]] — random-hyperplane signatures; vectors sharing
  *     a signature land in one bucket, giving a shuffle-key for
  *     bucketed near-dup joins (used by Dedup.embeddingNearDup at scale).
  */
object Similarity {

  /** Default bound on the deterministic md5-of-id training sample shared
    * by EVERY trainer entry point (flat router, stored-index retrains,
    * the IVF-PQ coarse stage). One named constant so the coarse routers
    * trained via [[trainIvfPq]]'s shared sample stay bit-identical to
    * routers trained through the default paths ([[storeIvf]],
    * [[ivfTopK]]) — the retrain/oracle bit-replay equivalences depend on
    * the caps never drifting apart. */
  private[graft] val DefaultTrainSampleCap = 100000

  /** Exact top-k per query. Queries must be small enough to broadcast —
    * which is the realistic shape: thousands of probes against billions of
    * vectors.
    */
  def bruteForceTopK(collection: DataFrame, vecCol: String, idCol: String,
                     queries: DataFrame, qIdCol: String, qVecCol: String,
                     k: Int): DataFrame = {
    val scored = collection.crossJoin(broadcast(queries))
      .withColumn("cosine", round(cosine(col(vecCol), col(qVecCol)), 6))
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("cosine").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qIdCol), col(idCol), col("cosine"), col("rank"))
  }

  /** Vector PERCOLATE — inverted search for alerting/routing: a bounded
    * set of STANDING query vectors (subscriptions) is broadcast, and
    * every incoming document that scores cosine ≥ `threshold` against a
    * subscription emits a match row — the vector twin of the text
    * index's percolate verb, and the serving shape behind "notify me
    * when a document like THIS arrives".
    *
    * Scale shape: the standing set is the small side by construction
    * (alert subscriptions, not the corpus), so the plan is one map-only
    * broadcast nested-loop pass over the document stream — no shuffle at
    * all; cost is O(docs · |standing|) codegen'd cosines. When the
    * standing set outgrows broadcast, bucket BOTH sides through
    * [[cosineLshBuckets]] and percolate per bucket — this exact form is
    * the oracle baseline. Returns (doc idCol, qIdCol, cosine), one row
    * per (document, matched subscription). */
  def vectorPercolate(docs: DataFrame, vecCol: String, idCol: String,
                      standing: DataFrame, qIdCol: String, qVecCol: String,
                      threshold: Double): DataFrame =
    graft.Tables.spread(docs.select(col(idCol), col(vecCol)))
      .crossJoin(broadcast(standing.select(col(qIdCol), col(qVecCol))))
      // floor-form rounding — ONE rule across both percolate forms, so
      // the broadcast and LSH paths can never disagree at a boundary
      .withColumn("cosine", floor(cosine(col(vecCol), col(qVecCol)) * 1e6 + 0.5) / 1e6)
      .filter(col("cosine") >= threshold)
      .select(col(idCol), col(qIdCol), col("cosine"))

  /** LSH-bucketed vector percolate — the scale path [[vectorPercolate]]'s
    * scaladoc prescribes for a standing set too large to broadcast: both
    * sides signature through the SAME seeded hyperplane tables
    * ([[cosineLshBuckets]]), a (document, subscription) candidate emits
    * on any per-table bucket collision (a bucket-keyed equi-join — the
    * shuffle key replaces the broadcast), and exact cosine verifies
    * survivors at `threshold` with the repo's floor-form rounding. With
    * deterministic seeded planes the "approximate" form is exactly
    * computable (the dedup_embedding_lsh precedent), so it sits under a
    * FULL oracle; recall vs the broadcast form is the standard LSH
    * trade — a pair colliding in no table is dropped — spec-pinned on
    * the gate data. Shuffle shape at 100 TB: nTables slim signature
    * projections per side, one bucket-keyed join carrying only
    * colliding rows, and two id-keyed verification joins on the
    * candidate relation — never docs × subscriptions. */
  def vectorPercolateLsh(docs: DataFrame, vecCol: String, idCol: String,
                         standing: DataFrame, qIdCol: String, qVecCol: String,
                         threshold: Double, nBits: Int = 8, nTables: Int = 8,
                         dim: Int = 64): DataFrame = {
    val d = docs.select(col(idCol).as("_id"), col(vecCol).as("_v"))
    val q = standing.select(col(qIdCol).as("_qid"), col(qVecCol).as("_qv"))
    val dt = (0 until nTables).map(t =>
        cosineLshBuckets(d, "_v", nBits, seed = 42L + t, dim = dim)
          .select(col("_id"), lit(t).as("_t"), col("lsh_bucket")))
      .reduce(_ unionByName _)
    val qt = (0 until nTables).map(t =>
        cosineLshBuckets(q, "_qv", nBits, seed = 42L + t, dim = dim)
          .select(col("_qid"), lit(t).as("_t"), col("lsh_bucket")))
      .reduce(_ unionByName _)
    val cand = dt.join(qt, Seq("_t", "lsh_bucket"))
      .select(col("_id"), col("_qid")).dropDuplicates("_id", "_qid")
    cand.join(d, Seq("_id")).join(q, Seq("_qid"))
      .withColumn("cosine", floor(cosine(col("_v"), col("_qv")) * 1e6 + 0.5) / 1e6)
      .filter(col("cosine") >= threshold)
      .select(col("_id").as(idCol), col("_qid").as(qIdCol), col("cosine"))
  }

  /** Cost-based percolate — the crossover ADVISOR between the two
    * percolate forms, decided explicitly and deterministically (the
    * [[adaptiveFilteredKnn]] discipline): nothing should silently keep
    * broadcasting a standing set that has outgrown broadcast comfort,
    * and nothing should pay the LSH machinery's fixed cost (16 slim
    * signature scans + a bucket join) for twenty subscriptions.
    *
    *  - '''broadcast''' (small standing set): [[vectorPercolate]]'s
    *    map-only broadcast pass — exact, zero shuffle, O(docs · |standing|).
    *  - '''lsh''' (large standing set): [[vectorPercolateLsh]]'s
    *    bucket-keyed join — candidates on table collision, exact verify,
    *    never docs × subscriptions.
    *
    * The decision reads ONE slim aggregate over the standing side
    * (row count + max vector length). NOTE the honest cost (r15
    * VERDICT): this IS a scan of the standing RELATION — free when the
    * standing set is a genuine subscription table (small, or served by
    * catalog stats), but if a caller derives the standing set from the
    * corpus (a filter of it, as the gate does for demonstration), the
    * decision pass costs one pass over that derivation per call; such
    * callers should cache/checkpoint the standing relation first. The
    * estimate prices broadcast bytes as
    * rows · (4·dim + 24) (float payload + id/row overhead), comparing
    * against `limitBytes` ([[BroadcastGate.DefaultLimitBytes]] by
    * default — the repo-wide broadcast comfort cap). Integer counts and
    * one multiply, so a SQL oracle replays the CHOICE relationally —
    * the decision sits under the gate hash, not just the chosen
    * branch's rows. Output carries a `path` column pinning which form
    * ran; both branches emit identical (idCol, qIdCol, cosine) shapes
    * under the shared floor-form rounding, so the switch never changes
    * the schema, only the plan. */
  def vectorPercolateAuto(docs: DataFrame, vecCol: String, idCol: String,
                          standing: DataFrame, qIdCol: String, qVecCol: String,
                          threshold: Double,
                          limitBytes: Long = BroadcastGate.DefaultLimitBytes,
                          nBits: Int = 8, nTables: Int = 8,
                          dim: Int = 64): DataFrame = {
    val st = standing.agg(count(lit(1)), max(size(col(qVecCol)))).head()
    val rows = st.getLong(0)
    val vdim = if (st.isNullAt(1)) 0 else st.getInt(1)
    val estBytes = rows * (4L * vdim + 24L)
    val (out, path) =
      if (estBytes <= limitBytes)
        (vectorPercolate(docs, vecCol, idCol, standing, qIdCol, qVecCol,
          threshold), "broadcast")
      else
        (vectorPercolateLsh(docs, vecCol, idCol, standing, qIdCol, qVecCol,
          threshold, nBits, nTables, dim), "lsh")
    out.withColumn("path", lit(path))
  }

  /** kNN label propagation — the training-data label-transfer step
    * (quality/domain labels annotated on a small seed set, transferred to
    * the unlabeled corpus by majority vote of the k nearest labeled
    * neighbors). The probe set is the LABEL-SEEKING side and is bounded
    * (broadcast): the realistic 100-TB shape is millions of unlabeled
    * probes against a labeled corpus, scored in one scan of the labeled
    * side with per-probe top-k through WindowGroupLimit (partial top-k
    * before the shuffle, so the shuffle carries O(probes · k) rows, never
    * the corpus). When the probe side outgrows broadcast, route the
    * candidate generation through [[ivfTopK]]/[[hardNegativesLsh]]-style
    * bucketing first — this exact form is the oracle baseline.
    *
    * Vote determinism: neighbor rank breaks cosine ties by neighbor id;
    * the vote breaks count ties by label order. Both rules are mirrored
    * in the SQL twin, so predictions hash-match cross-engine. Returns one
    * row per probe: (probeIdCol, pred_label, n_votes). */
  def knnClassify(labeled: DataFrame, vecCol: String, idCol: String,
                  labelCol: String, probes: DataFrame, probeIdCol: String,
                  probeVecCol: String, k: Int): DataFrame = {
    // label rides the scored pass (bruteForceTopK's shape with one extra
    // carried column) — a join-back for the label would rescan `labeled`
    val scored = labeled.select(col(idCol), col(vecCol), col(labelCol))
      .crossJoin(broadcast(probes.select(col(probeIdCol), col(probeVecCol))))
      .withColumn("cosine", round(cosine(col(vecCol), col(probeVecCol)), 6))
    val w = Window.partitionBy(col(probeIdCol))
      .orderBy(col("cosine").desc, col(idCol))
    val top = scored.withColumn("_rank", row_number().over(w))
      .filter(col("_rank") <= k)
      .select(col(probeIdCol), col(labelCol))
    val vw = Window.partitionBy(col(probeIdCol))
      .orderBy(col("n_votes").desc, col(labelCol))
    top.groupBy(col(probeIdCol), col(labelCol))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("_vr", row_number().over(vw))
      .filter(col("_vr") === 1)
      .select(col(probeIdCol), col(labelCol).as("pred_label"), col("n_votes"))
  }

  /** Late-interaction (ColBERT-style) MaxSim retrieval: documents carry
    * MULTIPLE vectors (`multiVecCol`: ARRAY<ARRAY<FLOAT>> — per-token /
    * per-chunk sub-embeddings) and score against a multi-vector query as
    * `Σ_q max_d dot(q, d)` — each query vector claims its best-matching
    * document vector. The standard retrieval quality step between
    * single-vector ANN and full cross-encoder rerank.
    *
    * Scale shape: ONE corpus scan explodes doc sub-vectors; every query
    * sub-vector is a LITERAL (bounded query side — no join), so each
    * exploded row computes its |q| dots map-side; the per-doc max/sum
    * reduce is a partial-aggregated shuffle on the id — O(corpus ·
    * slots) work, O(docs) shuffle rows. Determinism: dots are the
    * codegen'd double kernel; per-query-slot maxes re-assemble in FIXED
    * slot order (max is order-safe, the final add is a literal
    * expression chain), floor-rounded at 1e-6. In production the corpus
    * side is an ANN shortlist (IVF/graph), not the full corpus — this
    * exact form is the oracle baseline. */
  def maxSimTopK(coll: DataFrame, multiVecCol: String, idCol: String,
                 queryVecs: Seq[Array[Float]], k: Int): DataFrame = {
    require(queryVecs.nonEmpty, "maxSimTopK: empty query vector set")
    val dsub = coll.select(col(idCol),
      explode(col(multiVecCol)).as("_dsub"))
    val maxCols = queryVecs.zipWithIndex.map { case (qv, qs) =>
      max(dot(col("_dsub"), vecLit(qv))).as(s"_m$qs")
    }
    val score = queryVecs.indices.map(i => col(s"_m$i")).reduce(_ + _)
    dsub.groupBy(col(idCol))
      .agg(maxCols.head, maxCols.tail: _*)
      .withColumn("maxsim", floor(score * 1e6 + 0.5) / 1e6)
      .orderBy(col("maxsim").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("maxsim"))
  }

  /** Diversified kNN — exact top-`kPerGroup` nearest rows PER GROUP for
    * one query vector (the "best hits per source/domain/class" serving
    * verb; plain top-k lets one dominant group fill the whole result).
    * One scan of the collection scores the codegen'd distance; the
    * per-group rank runs through WindowGroupLimit (per-partition partial
    * top-k before the shuffle), so the shuffle carries O(groups ·
    * kPerGroup) candidates, never the corpus. Distance is the collection
    * metric (l2², [[graft.functions.VectorFunctions.l2Sq]]), rounded
    * floor-free at 6 like every exact-kNN verb, id tiebreak. */
  def topKPerGroup(collection: DataFrame, vecCol: String, idCol: String,
                   groupCol: String, query: DataFrame, qVecCol: String,
                   kPerGroup: Int): DataFrame = {
    val scored = collection.crossJoin(broadcast(query))
      .withColumn("distance", round(l2Sq(col(vecCol), col(qVecCol)), 6))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("distance"), col(idCol))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= kPerGroup)
      .select(col(groupCol), col(idCol), col("distance"), col("rank"))
  }

  /** Deterministic k-means(ish) centroids, returned driver-side (ncells x
    * dim floats is bytes, not data): seed from the first `ncells` rows by
    * id order, then `iters` Lloyd rounds — each round is ONE aggregation
    * job over the collection with literal centroids; nothing in the plan
    * ever re-derives centroid lineage.
    *
    * Determinism: the per-cell mean is computed as a fixed-point LONG sum
    * (x * 2^24 truncated) + count — integer addition is associative, so
    * the result is bit-identical regardless of Spark's partial-agg merge
    * order (a float/double avg() is not: its merge order is
    * nondeterministic and near-tie cell assignments could flip between
    * runs). Cells that lose all members in a round RETAIN their previous
    * centroid, so the trained cell count always stays `ncells`.
    *
    * Default iters = 3: measured on the harness embeddings, recall@10 at
    * nprobe=4/16 is 1.00 at sf0.1 (pinned in AnnProbeSpec) and 1 -> 3
    * rounds lifts the small-corpus (sf0.01) recall 0.88 -> 0.92 at
    * nprobe=6; additional rounds showed no further gain.
    *
    * Training runs on a BOUNDED deterministic sample (`sampleCap` rows by
    * md5-of-id order — partitioning/cluster-size independent): a coarse
    * quantizer needs thousands of points per cell, not the corpus, so at
    * 100 TB each Lloyd round aggregates a ~100k-row cached sample instead
    * of rescanning everything. Corpora at/below the cap train on every
    * row, so harness results are unchanged.
    */
  def trainCentroidArrays(collection: DataFrame, vecCol: String, idCol: String,
                          ncells: Int, iters: Int = 3,
                          sampleCap: Int = DefaultTrainSampleCap): Array[(Int, Array[Float])] = {
    val sample = collection.select(col(idCol), col(vecCol))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
      .limit(sampleCap) // TakeOrdered: per-partition heaps, no global sort
      .cache()
    var cents: Array[(Int, Array[Float])] =
      sample.orderBy(col(idCol)).limit(ncells).select(col(vecCol)).collect()
        .zipWithIndex.map { case (r, i) => (i, r.getSeq[Float](0).toArray) }
    val Scale = 1L << 24 // |x| * 2^24 * rows << 2^63 for any realistic unit-ish embedding
    var it = 0
    while (it < iters) {
      val partials = withCellId(sample, vecCol, cents)
        .select(col("cell_id"), posexplode(col(vecCol)).as(Seq("_pos", "_x")))
        .groupBy("cell_id", "_pos")
        .agg(sum((col("_x").cast("double") * Scale).cast("long")).as("_s"),
          count(lit(1)).as("_n"))
        .collect() // ncells x dim rows — driver-side by design
      val byCell: Map[Int, Array[Float]] = partials.groupBy(_.getInt(0)).map {
        case (cid, rows) =>
          val dim = rows.iterator.map(_.getInt(1)).max + 1
          val arr = new Array[Float](dim)
          rows.foreach { r =>
            arr(r.getInt(1)) = ((r.getLong(2).toDouble / r.getLong(3)) / Scale).toFloat
          }
          cid -> arr
      }
      cents = cents.map { case (id, old) => (id, byCell.getOrElse(id, old)) }
      it += 1
    }
    sample.unpersist()
    cents
  }

  /** CLUSTER a cell-assigned frame by `cell_id` before a partitioned
    * write (guide §6 file sizing / §2.4): a partitioned write of an
    * UNCLUSTERED frame emits one file per (task × cell present in the
    * task) — a scan that splits into T tasks writes up to T·ncells tiny
    * files, and every later read of the layout pays the listing and the
    * per-file open cost (measured: the gate's 24-task retrain rewrite
    * produced a ~190-file layout whose every subsequent scan ran 30
    * tasks). The AQE REBALANCE hint clusters rows by cell AND
    * right-sizes the shuffle output to the advisory partition size —
    * small writes coalesce to one task, oversized cells split into
    * several target-size files — so the file count tracks data volume
    * at any scale instead of the writing cluster's parallelism. */
  private[graft] def clusterByCell(df: DataFrame): DataFrame =
    df.hint("rebalance", col("cell_id"))

  /** Nearest-centroid assignment as one argmin pass — no crossJoin, no
    * shuffle, no window. Centroids travel in the task closure and the
    * argmin is a tight JVM kernel: an expression formulation (array_min
    * over ncells literal-distance structs) generates ncells x dim of
    * source per plan and pays seconds of janino compilation for every
    * distinct plan that embeds it. Ties break to the lowest cell_id.
    *
    * CELL-COUNT GATE: at `twoLevelGate`+ cells the closure-literal +
    * linear-argmin shape stops scaling (10⁵–10⁶ cells ⇒ 100s of MB
    * serialized per task, O(ncells) per row) — assignment switches to
    * the broadcast two-level [[CentroidRouter]] (approximate in the
    * standard IVF sense, self-consistent with the gated probe path;
    * answers below the gate are unchanged by construction). */
  def withCellId(collection: DataFrame, vecCol: String,
                 cents: Array[(Int, Array[Float])],
                 twoLevelGate: Int = CentroidRouter.DefaultGate): DataFrame = {
    if (cents.length >= twoLevelGate) {
      // memo keyed on the CALLER's array identity (routerForAnyOrder
      // sorts internally): an index's frozen centroid array builds its
      // two-level router once per JVM even though this method used to
      // mint a fresh sorted copy per call
      val bc = collection.sparkSession.sparkContext
        .broadcast(CentroidRouter.routerForAnyOrder(cents))
      val assign = udf((v: Seq[Float]) => bc.value.assign(v.toArray))
      return collection.withColumn("cell_id", assign(col(vecCol)))
    }
    val sorted = cents.sortBy(_._1)
    val assign = udf((v: Seq[Float]) => {
      val arr = v.toArray
      var best = -1
      var bestD = Double.MaxValue
      var c = 0
      while (c < sorted.length) {
        val cent = sorted(c)._2
        var acc = 0.0
        var i = 0
        val n = math.min(arr.length, cent.length)
        while (i < n) { val d = arr(i).toDouble - cent(i); acc += d * d; i += 1 }
        if (acc < bestD) { bestD = acc; best = sorted(c)._1 }
        c += 1
      }
      best
    })
    collection.withColumn("cell_id", assign(col(vecCol)))
  }

  /** Build an IVF index as a STORED collection: train centroids, assign
    * cell_id, and write through [[graft.store.VectorStore]] partitioned BY
    * cell_id. This is what makes the probe a partition-pruning scan at
    * 100 TB: the injected `cell_id IN (...)` (AnnProbeRule) or an explicit
    * probe join lands in the scan's PartitionFilters, so non-probed cells'
    * files are never even LISTED — vs a data filter that still opens every
    * file. Returns the centroids for AnnCatalog registration / probing.
    * (SURVEY §10: "cell_id is a partition column in the stored layout".)
    */
  def buildIvfIndex(store: graft.store.VectorStore, name: String,
                    collection: DataFrame, vecCol: String, idCol: String,
                    ncells: Int = 16, trainIters: Int = 3,
                    sampleCap: Int = DefaultTrainSampleCap): Array[(Int, Array[Float])] = {
    val cents = trainCentroidArrays(collection, vecCol, idCol, ncells, trainIters, sampleCap)
    store.create(name, clusterByCell(withCellId(collection, vecCol, cents)),
      partitionBy = Seq("cell_id"))
    // the index is self-describing: the frozen router travels with it,
    // and so does its build-time quality snapshot — the retrain
    // advisor's baseline. The stats pass reads the JUST-WRITTEN layout
    // (cell_id already materialized, column-pruned to (cell_id, vec))
    // instead of re-running the assignment UDF over the source — at
    // 100 TB that was a second full corpus scan + O(ncells) argmin per
    // row; the read-back is identical by construction (the layout IS
    // the assignment's output, retrainStoredIvf's existing pattern).
    writeStoredRouter(store, name, cents)
    writeRouterStats(store, name,
      routerStats(store.read(collection.sparkSession, name), vecCol, cents))
    cents
  }

  // ------------------------------------ self-describing stored router

  /** Router sidecar for the IMMUTABLE stored-IVF tier (the mutable tier
    * has its own under `operators/MutableIvf` with collection-binding
    * extras). Persisting the quantizer WITH the index makes the layout
    * self-describing: any session searches it from the store alone — no
    * [[graft.plans.AnnCatalog]] registration, no retrain, exactly like
    * a FAISS index file carries its own coarse quantizer. */
  private val RouterFile = "_ivf_router.properties"

  private[graft] def writeStoredRouter(store: graft.store.VectorStore,
                                       name: String,
                                       cents: Array[(Int, Array[Float])]): Unit = {
    val props = new java.util.Properties()
    putCells(props, cents)
    graft.store.StoreFs.forPath(store.root).writePropsAtomic(
      s"${store.root}/$name/$RouterFile", props, "graft stored-ivf router")
  }

  /** The persisted router, or None when the layout carries none. */
  def readStoredRouter(store: graft.store.VectorStore,
                       name: String): Option[Array[(Int, Array[Float])]] =
    graft.store.StoreFs.forPath(store.root)
      .readProps(s"${store.root}/$name/$RouterFile")
      .map(readCells)

  /** The centroid codec every router-carrying sidecar shares (stored
    * IVF/SQ/PQ, live IVF/SQ/PQ/graph): one `cell.<id> = f1,f2,...`
    * property per centroid. Float.toString round-trips exactly, so a
    * persisted router reproduces build-time assignment bit for bit. */
  private[operators] def putCells(props: java.util.Properties,
                                  cents: Iterable[(Int, Array[Float])]): Unit =
    cents.foreach { case (cid, c) =>
      props.setProperty(s"cell.$cid", c.map(_.toString).mkString(","))
    }

  /** Decode [[putCells]]: the centroids, sorted by cell id. */
  private[operators] def readCells(props: java.util.Properties): Array[(Int, Array[Float])] = {
    import scala.jdk.CollectionConverters._
    props.stringPropertyNames().asScala.toSeq
      .filter(_.startsWith("cell."))
      .map(key => (key.stripPrefix("cell.").toInt,
        props.getProperty(key).split(",").map(_.toFloat)))
      .sortBy(_._1).toArray
  }

  // ----------------------------------- retrain advisor (router drift)

  /** Router-quality snapshot in EXACT fixed point. `meanErrMu` is the
    * mean squared-L2 of each stored vector to its ASSIGNED cell's
    * centroid, each row floor-rounded to integer micro-units BEFORE the
    * sum — all-LONG aggregation is order-free, so the value is
    * bit-reproducible on any engine (the cross-engine discipline every
    * gate ratio uses). `maxCellSharePpm` is the occupancy skew:
    * largest cell / total, in ppm. */
  final case class RouterStats(nRows: Long, nCells: Int,
                               maxCellSharePpm: Long, meanErrMu: Long)

  /** Measure [[RouterStats]] for a cell-assigned layout against its
    * router. One full layout scan (O(index) by nature — like
    * `compactionReport`, this is a scheduled-maintenance read, not a
    * query-path one) with a broadcast ncells-row centroid join; the
    * per-cell partials are a bounded (≤ ncells) driver fold. */
  def routerStats(layout: DataFrame, vecCol: String,
                  cents: Array[(Int, Array[Float])]): RouterStats = {
    val s = layout.sparkSession
    import s.implicits._
    val centDf = cents.toSeq.toDF("cell_id", "cent")
    val perCell = layout
      .select(col("cell_id").cast("int").as("cell_id"),
        col(vecCol).cast("array<float>").as("_v"))
      .join(broadcast(centDf), Seq("cell_id"))
      .select(col("cell_id"),
        floor(l2Sq(col("_v"), col("cent")) * 1e6 + 0.5).cast("long").as("err_mu"))
      .groupBy("cell_id")
      .agg(count(lit(1)).as("n"), sum("err_mu").as("s"))
      .collect() // bounded: ≤ ncells rows
    val n = perCell.map(_.getLong(1)).sum
    val errSum = perCell.map(_.getLong(2)).sum
    RouterStats(n, perCell.length,
      if (n == 0) 0L else perCell.map(_.getLong(1)).max * 1000000L / n,
      if (n == 0) 0L else errSum / n)
  }

  /** Build-time router-quality sidecar — the retrain advisor's
    * BASELINE. [[buildIvfIndex]] records it next to the router, so the
    * layout is self-describing for the drift question too: any later
    * session can ask "has quantization error grown since this router
    * was fitted?" from the store alone. */
  private val RouterStatsFile = "_router_stats.properties"

  private[graft] def writeRouterStats(store: graft.store.VectorStore,
                                      name: String, st: RouterStats): Unit = {
    val props = new java.util.Properties()
    props.setProperty("n_rows", st.nRows.toString)
    props.setProperty("n_cells", st.nCells.toString)
    props.setProperty("max_cell_share_ppm", st.maxCellSharePpm.toString)
    props.setProperty("mean_err_mu", st.meanErrMu.toString)
    graft.store.StoreFs.forPath(store.root).writePropsAtomic(
      s"${store.root}/$name/$RouterStatsFile", props,
      "graft stored-ivf build-time router stats")
  }

  def readRouterStats(store: graft.store.VectorStore,
                      name: String): Option[RouterStats] =
    graft.store.StoreFs.forPath(store.root)
      .readProps(s"${store.root}/$name/$RouterStatsFile")
      .map(p => RouterStats(p.getProperty("n_rows").toLong,
        p.getProperty("n_cells").toInt,
        p.getProperty("max_cell_share_ppm").toLong,
        p.getProperty("mean_err_mu").toLong))

  // ------------------- self-describing stored SQ / PQ quantizers

  /** Quantizer sidecars for the ENCODE families — the [[RouterFile]]
    * discipline extended to the artifacts SQ and PQ searches need
    * beyond the router: per-dim min/max (SQ) and the residual
    * codebooks (PQ). With these, every stored family is
    * self-describing: any session searches the layout from the store
    * alone, exactly like a FAISS index file carries its quantizers.
    * Float.toString / Double.toString round-trip exactly, so the
    * persisted artifacts reproduce build-time encode and probe
    * arithmetic bit for bit. */
  private val SqQuantFile = "_sq_quantizer.properties"
  private val PqCodebookFile = "_pq_codebook.properties"

  private[graft] def writeSqQuantizer(store: graft.store.VectorStore,
      name: String, cents: Array[Array[Float]],
      mins: Array[Double], maxs: Array[Double]): Unit = {
    val props = new java.util.Properties()
    putCells(props, cents.zipWithIndex.map(_.swap))
    props.setProperty("mins", mins.map(_.toString).mkString(","))
    props.setProperty("maxs", maxs.map(_.toString).mkString(","))
    graft.store.StoreFs.forPath(store.root).writePropsAtomic(
      s"${store.root}/$name/$SqQuantFile", props, "graft stored-sq quantizer")
  }

  def readSqQuantizer(store: graft.store.VectorStore, name: String)
      : Option[(Array[Array[Float]], Array[Double], Array[Double])] =
    graft.store.StoreFs.forPath(store.root)
      .readProps(s"${store.root}/$name/$SqQuantFile")
      .map { props =>
        (readCells(props).map(_._2), props.getProperty("mins").split(",").map(_.toDouble),
          props.getProperty("maxs").split(",").map(_.toDouble))
      }

  private[graft] def writePqCodebook(store: graft.store.VectorStore,
      name: String, cents: Array[(Int, Array[Float])],
      cb: PqCodebook): Unit = {
    val props = new java.util.Properties()
    putCells(props, cents)
    props.setProperty("cb.m", cb.m.toString)
    props.setProperty("cb.dsub", cb.dsub.toString)
    props.setProperty("cb.ksub", cb.ksub.toString)
    for (sub <- 0 until cb.m; code <- 0 until cb.ksub)
      props.setProperty(s"cb.$sub.$code",
        cb.cents(sub)(code).map(_.toString).mkString(","))
    graft.store.StoreFs.forPath(store.root).writePropsAtomic(
      s"${store.root}/$name/$PqCodebookFile", props, "graft stored-pq codebook")
  }

  def readPqCodebook(store: graft.store.VectorStore, name: String)
      : Option[(Array[(Int, Array[Float])], PqCodebook)] =
    graft.store.StoreFs.forPath(store.root)
      .readProps(s"${store.root}/$name/$PqCodebookFile")
      .map { props =>
        val (m, dsub, ksub) = (props.getProperty("cb.m").toInt,
          props.getProperty("cb.dsub").toInt, props.getProperty("cb.ksub").toInt)
        val cbc = Array.tabulate(m, ksub)((sub, code) =>
          props.getProperty(s"cb.$sub.$code").split(",").map(_.toFloat))
        (readCells(props), PqCodebook(m, dsub, ksub, cbc))
      }

  /** RETRAIN ADVISOR for a stored-IVF layout — the decision operator the
    * retrain verbs were missing: [[retrainStoredIvf]] is O(collection)
    * and scheduled, so something has to DECIDE when drift warrants
    * paying it (the [[vectorPercolateAuto]] / banding-advisor /
    * vacuum-advisor discipline, applied to quantizer drift). Reads the
    * frozen router and the build-time baseline off the self-describing
    * layout, re-measures [[routerStats]] over the CURRENT content
    * (frozen-router appends accumulate rows the router never saw), and
    * recommends when either signal crosses its threshold:
    *  - `err_growth_ppm` = mean_err_now / mean_err_build in ppm —
    *    quantization error growing means appends stopped matching the
    *    training distribution;
    *  - `max_cell_share_ppm` — occupancy skew; a cell absorbing the
    *    corpus defeats partition pruning no matter how small the error.
    * All arithmetic is integer (micro-unit means, ppm ratios), so the
    * whole decision row replays relationally under the gate hash. */
  def ivfRetrainAdvisor(spark: org.apache.spark.sql.SparkSession,
                        store: graft.store.VectorStore, name: String,
                        vecCol: String,
                        maxErrGrowthPpm: Long = 200000L,
                        maxCellSharePpm: Long = 500000L): DataFrame = {
    val cents = readStoredRouter(store, name).getOrElse(
      throw new IllegalArgumentException(
        s"'$name' carries no router sidecar — not a stored-IVF layout"))
    val base = readRouterStats(store, name).getOrElse(
      throw new IllegalArgumentException(
        s"'$name' carries no build-time router stats — pre-advisor build; " +
          "rebuild through buildIvfIndex to record the baseline"))
    val now = routerStats(store.read(spark, name), vecCol, cents)
    val growthPpm =
      if (base.meanErrMu == 0L) 1000000L
      else now.meanErrMu * 1000000L / base.meanErrMu
    val recommend = growthPpm > 1000000L + maxErrGrowthPpm ||
      now.maxCellSharePpm > maxCellSharePpm
    import spark.implicits._
    Seq((now.nRows, now.nCells, base.meanErrMu, now.meanErrMu, growthPpm,
        now.maxCellSharePpm, recommend))
      .toDF("n_rows", "n_cells", "build_mean_err_mu", "mean_err_mu",
        "err_growth_ppm", "max_cell_share_ppm", "retrain_recommended")
  }

  /** The IVF probe rule: the `nprobe` cells nearest to `qv`, ranked by
    * raw-double squared L2 to each centroid with ties broken by the lower
    * cell id. Every raw-double router (stored, mutable, PQ, the
    * [[graft.plans.AnnProbeRule]] rewrite) probes through this one
    * definition, so their cell choices cannot drift apart. The
    * 1e-6-rounded routes ([[CentroidRouter]], SQ) are a different rule. */
  def probeCells(qv: Array[Float], cents: Array[(Int, Array[Float])],
                 nprobe: Int): Seq[Int] =
    cents.map { case (id, c) =>
      var acc = 0.0
      var i = 0
      val n = math.min(qv.length, c.length)
      while (i < n) { val d = qv(i).toDouble - c(i); acc += d * d; i += 1 }
      (acc, id)
    }.sortBy(p => (p._1, p._2)).take(nprobe).map(_._2).toSeq

  /** Index-aware auto search — the planner verb: given candidate stored
    * layouts, pick the strongest family available for a cosine top-k
    * and run it, tagging the output with the chosen index. Priority:
    * self-describing IVF (partition-pruned probe — reads nprobe/ncells
    * of the files) > BQ signatures (16-byte Hamming pre-rank + bounded
    * exact rerank — full scan but constant bytes/vector) > exact
    * broadcast scan. Detection reads footers and sidecars only. All
    * three paths rank by (rounded cosine desc, id), so the choice
    * changes cost and recall, never the ranking rule. */
  def searchAuto(spark: org.apache.spark.sql.SparkSession,
                 store: graft.store.VectorStore, candidates: Seq[String],
                 collection: DataFrame, vecCol: String, idCol: String,
                 qv: Array[Float], k: Int = 10, nprobe: Int = 4,
                 rerank: Int = 4): DataFrame = {
    val kinds = candidates.map { n =>
      val fields = store.read(spark, n).schema.fieldNames.toSet
      val kind =
        if (fields.contains("cell_id") && readStoredRouter(store, n).isDefined)
          "ivf"
        else if (fields.contains("bq_lo")) "bq"
        else "other"
      n -> kind
    }
    val w = Window.orderBy(col("cosine").desc, col(idCol))
    // index_kind, not "index": reserved in the gate's oracle engine
    def finish(scored: DataFrame, tag: String): DataFrame = scored
      .orderBy(col("cosine").desc, col(idCol)).limit(k)
      .withColumn("rank", row_number().over(w))
      .withColumn("index_kind", lit(tag))
      .select(col(idCol), col("cosine"), col("rank"), col("index_kind"))
    kinds.collectFirst { case (n, "ivf") => n } match {
      case Some(n) =>
        val probed = probeCells(qv, readStoredRouter(store, n).get, nprobe)
        finish(store.read(spark, n)
          .filter(col("cell_id").isin(probed.map(Int.box): _*))
          .withColumn("cosine", round(cosine(col(vecCol), vecLit(qv)), 6)),
          "ivf")
      case None => kinds.collectFirst { case (n, "bq") => n } match {
        case Some(n) =>
          finish(bqSearchStored(store.read(spark, n), collection, vecCol,
            idCol, qv, k = k, rerank = rerank).drop("hamming"), "bq")
        case None =>
          finish(collection
            .withColumn("cosine", round(cosine(col(vecCol), vecLit(qv)), 6)),
            "exact")
      }
    }
  }

  /** Incremental maintenance of a STORED IVF-flat index — the nightly
    * append: assign the arriving batch to cells with the index's FROZEN
    * centroids and APPEND into the cell-partitioned layout. IVF cells
    * are unordered candidate lists, so unlike the graph tier
    * ([[GraphAnn.insertIntoStored]] — whole-cell rebuild) NO existing
    * row changes: the write is O(batch) new files under the touched
    * cell directories, the collection is never read back (only its slim
    * id column, for the append-contract check), and a search over the
    * maintained store is row-identical to a from-scratch build with the
    * same centroids by construction (spec-pinned, together with
    * untouched-partition file immutability). Quantizer drift (frozen
    * router while the distribution moves) is the documented trade —
    * periodic retrain-and-rebuild, the same policy as compaction.
    *
    * CONTRACT: batch ids are NEW (append semantics) — enforced with the
    * same one-pass broadcast semi-join count as the graph tier. Returns
    * the touched cell ids. */
  def insertIntoStoredIvf(store: graft.store.VectorStore, name: String,
                          batch: DataFrame, vecCol: String, idCol: String,
                          cents: Array[(Int, Array[Float])]): Seq[Int] = {
    // PIN the batch once (lazy — the agg below pays the
    // materialization): it is consumed three times (contract/touched
    // agg, collision semi-join, append) — a nondeterministic input
    // frame (sample, unordered limit, stage retry) could pass the
    // uniqueness contract on one evaluation yet append a different row
    // set, silently inserting duplicates (the MutableCollection.update
    // hazard, same fix)
    val assigned = withCellId(batch, vecCol, cents).localCheckpoint(false)
    // ONE bounded job for batch count, batch-distinct ids, AND the
    // touched-cell list (≤ ncells values)
    val head = assigned.agg(count(lit(1)), countDistinct(col(idCol)),
      sort_array(collect_set(col("cell_id")))).head
    AppendContract.requireUnique(head.getLong(0), head.getLong(1),
      "insertIntoStoredIvf")
    AppendContract.requireNoExisting(store, name, assigned, idCol,
      head.getLong(0), "insertIntoStoredIvf")
    store.append(name, clusterByCell(assigned), partitionBy = Seq("cell_id"))
    head.getSeq[Int](2)
  }

  /** Periodic RETRAIN-AND-REBUILD of a stored IVF index — the documented
    * maintenance for quantizer drift (the frozen router
    * [[insertIntoStoredIvf]] and the streaming sink append under stops
    * matching the distribution as it moves): retrain centroids on the
    * index's CURRENT content, re-assign every vector, and atomically
    * swap the rewritten cell-partitioned layout into place
    * ([[graft.store.VectorStore.replace]] — the compaction swap
    * discipline, crash-safe either way). O(collection) by nature — a
    * retrain re-routes every row — which is exactly why it is a
    * separate, scheduled verb rather than part of the append path; the
    * nightly appends stay O(batch) and this runs at the cadence drift
    * warrants. Training is order-insensitive (md5-ordered sample,
    * id-ordered seeds, fixed-point accumulation), so the new router
    * depends only on the SET of stored vectors — the gate oracle
    * re-derives it relationally at the new geometry. Returns the new
    * centroids; the caller re-registers them (AnnCatalog / probe
    * scopes) — searches with the OLD router against the new layout
    * would probe the wrong cells. */
  def retrainStoredIvf(spark: org.apache.spark.sql.SparkSession,
                       store: graft.store.VectorStore, name: String,
                       vecCol: String, idCol: String,
                       ncells: Int = 16, trainIters: Int = 3,
                       sampleCap: Int = DefaultTrainSampleCap): Array[(Int, Array[Float])] = {
    val data = store.read(spark, name).drop("cell_id")
    val cents = trainCentroidArrays(data, vecCol, idCol, ncells, trainIters, sampleCap)
    store.replace(name, clusterByCell(withCellId(data, vecCol, cents)),
      partitionBy = Seq("cell_id"))
    // the router CHANGED — re-persist so the layout stays self-describing,
    // and RESET the advisor's baseline to the retrained geometry: the
    // advisor -> retrain -> advisor loop must read growth 1.0 after the
    // rebuild it recommended (a stale baseline would re-recommend forever)
    writeStoredRouter(store, name, cents)
    writeRouterStats(store, name,
      routerStats(store.read(spark, name), vecCol, cents))
    cents
  }

  /** Batch kNN over the STORED IVF layout — Q queries amortized onto ONE
    * partition-pruned scan (the bulk-retrieval posture: embedding-table
    * joins, evaluation panels, reranker refresh).
    *
    * Routing runs on the DRIVER: the query frame is collected once and
    * each query is routed through the index's frozen router with
    * [[probeCells]]. That routing yields, without running a job, both the
    * literal union of probed cells (a PartitionFilter, so the scan lists
    * only those directories) and a cell -> query-index map literal. Each
    * scanned row is paired with the queries probing its cell by an
    * `explode` over that map — a cell probed by query A but not B pairs
    * only with A — and scored against the query vector picked out of one
    * array literal. No join, no broadcast exchange: the whole verb is one
    * scan-and-rank query whose only shuffle carries slim
    * (q_id, id, cosine) rows into the per-query window rank.
    *
    * The driver collect is bounded by the probe-batch contract: Q query
    * vectors, the same rows a broadcast of the query side would have
    * materialized on the driver anyway, and they ride in the plan as
    * Q·dim floats. Scan cost is O(union of probed cells) regardless of
    * Q; per-query work is bounded by nprobe cells exactly as on the
    * single-query path. */
  def ivfSearchStoredMany(stored: DataFrame, vecCol: String, idCol: String,
                          cents: Array[(Int, Array[Float])],
                          queries: DataFrame, qIdCol: String, qVecCol: String,
                          k: Int = 10, nprobe: Int = 4): DataFrame = {
    val qSel = queries.select(col(qIdCol), col(qVecCol).cast("array<float>"))
    val qRows = qSel.collect()
    val qVecs = qRows.map(_.getSeq[Float](1).toArray)
    val byCell: Map[Int, Seq[Int]] = qVecs.indices
      .flatMap(q => probeCells(qVecs(q), cents, nprobe).map(_ -> q))
      .groupMap(_._1)(_._2)
    def literal(v: Any, t: DataType): Column = Bridge.column(Literal.create(v, t))
    val qIds = literal(qRows.map(_.get(0)).toSeq, ArrayType(qSel.schema(0).dataType))
    val qVecLit = literal(qVecs.toSeq.map(_.toSeq), ArrayType(ArrayType(FloatType)))
    val cellQueries = literal(byCell, MapType(IntegerType, ArrayType(IntegerType)))
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("cosine").desc, col(idCol))
    stored.filter(col("cell_id").isin(byCell.keys.toSeq.sorted.map(Int.box): _*))
      .withColumn("_q", explode(cellQueries(col("cell_id").cast("int"))))
      .withColumn(qIdCol, qIds(col("_q")))
      .withColumn("cosine", round(cosine(col(vecCol), qVecLit(col("_q"))), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qIdCol), col(idCol), col("cell_id"), col("cosine"), col("rank"))
  }

  /** DataFrame facade over [[trainCentroidArrays]] (API compat). */
  def trainCentroids(collection: DataFrame, vecCol: String, idCol: String,
                     ncells: Int, iters: Int = 3): DataFrame = {
    val spark = collection.sparkSession
    import spark.implicits._
    trainCentroidArrays(collection, vecCol, idCol, ncells, iters)
      .toSeq.map { case (id, c) => (id, c.toSeq) }.toDF("cell_id", "centroid")
  }

  /** IVF-flat search: probe the `nprobe` nearest cells per query, exact
    * cosine inside the probed cells, top-k per query. Probe cells are
    * picked with a sorted literal struct array (no window, no join).
    */
  def ivfTopK(collection: DataFrame, vecCol: String, idCol: String,
              queries: DataFrame, qIdCol: String, qVecCol: String,
              k: Int, ncells: Int = 16, nprobe: Int = 4,
              trainIters: Int = 3,
              centsOpt: Option[Array[(Int, Array[Float])]] = None): DataFrame = {
    // callers that already trained the (deterministic) router pass it
    // through instead of paying a bit-identical re-train
    val cents = centsOpt.getOrElse(
      trainCentroidArrays(collection, vecCol, idCol, ncells, trainIters))
    val indexed = withCellId(collection, vecCol, cents)
    val probeUdf = udf((v: Seq[Float]) => {
      val arr = v.toArray
      cents.map { case (id, c) =>
        var acc = 0.0
        var i = 0
        val n = math.min(arr.length, c.length)
        while (i < n) { val d = arr(i).toDouble - c(i); acc += d * d; i += 1 }
        (acc, id)
      }.sortBy(p => (p._1, p._2)).take(nprobe).map(_._2)
    })
    val probes = queries.select(col(qIdCol), col(qVecCol),
      explode(probeUdf(col(qVecCol))).as("cell_id"))
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("cosine").desc, col(idCol))
    indexed.join(broadcast(probes), Seq("cell_id"))
      .withColumn("cosine", round(cosine(col(vecCol), col(qVecCol)), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qIdCol), col(idCol), col("cosine"), col("rank"))
  }

  // ---------------------------------------------------------- IVF-PQ

  /** Product-quantization codebook: `cents(j)(c)` = centroid c of subspace
    * j (dsub floats each). Trained on coarse-cell RESIDUALS (v - cell
    * centroid), the FAISS IVFPQ formulation — residuals concentrate the
    * distribution so 8-bit codes carry far more signal than raw-vector PQ.
    */
  final case class PqCodebook(m: Int, dsub: Int, ksub: Int,
                              cents: Array[Array[Array[Float]]])

  private def nearestCell(v: Array[Float], cents: Array[(Int, Array[Float])]): Int = {
    var best = -1
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)._2
      var acc = 0.0
      var i = 0
      val n = math.min(v.length, cent.length)
      while (i < n) { val d = v(i).toDouble - cent(i); acc += d * d; i += 1 }
      if (acc < bestD || (acc == bestD && cents(c)._1 < best)) { bestD = acc; best = cents(c)._1 }
      c += 1
    }
    best
  }

  /** Sequential driver-side Lloyd k-means over a BOUNDED point set (the
    * deterministic training sample) — fixed iteration order, double
    * accumulation, ties to the lowest index, empty cells keep their seed:
    * bit-identical across runs and parallelism. Seeds = first k points in
    * sample order. */
  private def kmeansDriver(points: Array[Array[Float]], k: Int, iters: Int): Array[Array[Float]] = {
    val kk = math.min(k, points.length)
    val d = points.head.length
    var cents = Array.tabulate(kk)(i => points(i).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kk)(new Array[Double](d))
      val counts = new Array[Long](kk)
      points.foreach { p =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < kk) {
          var acc = 0.0
          var i = 0
          while (i < d) { val df = p(i).toDouble - cents(c)(i); acc += df * df; i += 1 }
          if (acc < bestD) { bestD = acc; best = c }
          c += 1
        }
        var i = 0
        while (i < d) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(kk) { c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(d)(i => (sums(c)(i) / counts(c)).toFloat)
      }
      it += 1
    }
    cents
  }

  /** IVF-PQ approximate top-k — the memory-bounded 100 TB vector-search
    * shape: candidate scoring reads m=8 BYTES per vector (asymmetric
    * distance over 8-bit codebooks), never the full float vector, so the
    * probed fraction of a 100 TB collection scores from ~1/32 of the
    * bytes and the per-executor state is just the ADC tables
    * (nprobe x m x ksub doubles per query).
    *
    *  - coarse quantizer: [[trainCentroidArrays]] (deterministic, bounded
    *    sample) — same index as ivfTopK, so cell_id stays the partition
    *    column in the stored layout;
    *  - PQ codebooks: per-subspace k-means over coarse RESIDUALS of the
    *    same md5-ordered bounded sample (8-bit: ksub=256);
    *  - encode: one kernel UDF emits (cell_id, 8-byte code) per vector —
    *    at scale this is the stored representation;
    *  - search: queries (small by contract) collect driver-side; per
    *    (query, probed cell) an ADC lookup table over the query residual;
    *    scoring = m table lookups per candidate; distributed top-k per
    *    query by (adc, id).
    *
    *  - refine (`rerank` > 0, the FAISS IVFPQR shape): ADC keeps a
    *    shortlist of rerank*k candidates per query, then EXACT distance
    *    re-ranks just those — the fetch is rerank*k full vectors per
    *    query (in the stored cell_id layout that read is partition-pruned
    *    to the probed cells), so the byte budget stays bounded while the
    *    final ordering is exact within the shortlist. Pure ADC ordering
    *    (rerank=0) scrambles NEIGHBOR order when quantization distortion
    *    is at cluster scale — measured 0.44 recall@10 on the harness
    *    embeddings vs 0.90 with rerank=4 (the residual misses are ADC
    *    shortlist misses; raise rerank/nprobe to trade bytes for recall).
    *
    * Approximate by construction -> rows-only; recall@10 vs brute force
    * pinned in AnnProbeSpec.
    */
  def ivfPqTopK(collection: DataFrame, vecCol: String, idCol: String,
                queries: DataFrame, qIdCol: String, qVecCol: String,
                k: Int, ncells: Int = 16, nprobe: Int = 4,
                m: Int = 8, ksub: Int = 256, rerank: Int = 4,
                trainIters: Int = 3, sampleCap: Int = 20000): DataFrame = {
    val (cents, cb) = trainIvfPq(collection, vecCol, idCol, ncells, m, ksub,
      trainIters, sampleCap)
    // rerankFetch = the RAW collection: on this inline path cell_id is
    // derived by the encode UDF, so fetching from the pruned encoded
    // relation would re-run the (dominant-cost) encode over the whole
    // collection a second time just to read vectors back
    pqSearchEncoded(pqEncode(collection, vecCol, idCol, cents, cb),
      vecCol, idCol, cents, cb, queries, qIdCol, qVecCol, k, nprobe, rerank,
      rerankFetch = Some(collection.select(col(idCol), col(vecCol))))
  }

  /** Coarse quantizer + PQ codebooks trained on the deterministic
    * md5-of-id bounded sample (residual encoding — see [[ivfPqTopK]]). */
  def trainIvfPq(collection: DataFrame, vecCol: String, idCol: String,
                 ncells: Int = 16, m: Int = 8, ksub: Int = 256,
                 trainIters: Int = 3, sampleCap: Int = 20000)
      : (Array[(Int, Array[Float])], PqCodebook) = {
    // ONE md5-ordered TakeOrdered over the collection feeds BOTH
    // trainers (coarse router + residual codebooks): the residual
    // sample is a PREFIX of the coarse sample under the shared (md5,
    // id) total order, so sampling the cached sample is row-identical
    // to the two independent full-collection samples this replaces —
    // at 100 TB one corpus scan for training, not two.
    val coarseCap = DefaultTrainSampleCap
    val shared = collection.select(col(idCol), col(vecCol))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
      .limit(math.max(coarseCap, sampleCap))
      .cache()
    try {
      val cents =
        trainCentroidArrays(shared, vecCol, idCol, ncells, trainIters, coarseCap)
      // deterministic bounded sample (same md5-of-id order as the coarse
      // trainer); residual-encode it against the coarse cells
      val sample = shared
        .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
        .limit(sampleCap).select(col(vecCol))
        .collect().map(_.getSeq[Float](0).toArray)
      trainPqFromSample(cents, sample, m, ksub, trainIters)
    } finally shared.unpersist()
  }

  /** The driver-side half of [[trainIvfPq]]: residual-encode the sample
    * against the coarse cells and fit per-subspace codebooks. */
  private def trainPqFromSample(cents: Array[(Int, Array[Float])],
                                sample: Array[Array[Float]], m: Int,
                                ksub: Int, trainIters: Int)
      : (Array[(Int, Array[Float])], PqCodebook) = {
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val centById = cents.toMap
    val residuals = sample.map { v =>
      val cc = centById(nearestCell(v, cents))
      Array.tabulate(dim)(i => (v(i).toDouble - cc(i)).toFloat)
    }
    (cents, PqCodebook(m, dsub, ksub,
      Array.tabulate(m) { j =>
        kmeansDriver(residuals.map(_.slice(j * dsub, (j + 1) * dsub)), ksub, trainIters)
      }))
  }

  /** Encode every vector: (id, vec, coarse cell, m-byte PQ residual
    * code). This IS the stored representation — `cell_id` the partition
    * column, `pq_code` the 8-byte scoring payload, the raw vector kept
    * for the bounded exact rerank fetch (at 100 TB the ADC pass reads
    * only id+pq_code thanks to parquet column pruning; the vector column
    * is touched for rerank*k rows per query). */
  def pqEncode(collection: DataFrame, vecCol: String, idCol: String,
               cents: Array[(Int, Array[Float])], cb: PqCodebook): DataFrame =
    collection
      .withColumn("_enc", pqEncodeExpr(col(vecCol), cents, cb))
      .select(col(idCol), col(vecCol),
        col("_enc._1").as("cell_id"), col("_enc._2").as("pq_code"))

  /** The (cell, code) encode expression behind [[pqEncode]] — exposed so
    * index tiers (the mutable-PQ layout) can encode ALONGSIDE carried
    * columns in one projection. Struct fields are positional (_1 cell,
    * _2 code). */
  private[graft] def pqEncodeExpr(vec: Column,
      cents: Array[(Int, Array[Float])], cb: PqCodebook): Column = {
    val centById = cents.toMap
    val sortedCents = cents.sortBy(_._1)
    val encode = udf((v: Seq[Float]) => {
      val arr = v.toArray
      val cell = nearestCell(arr, sortedCents)
      val cc = centById(cell)
      val code = new Array[Byte](cb.m)
      var j = 0
      while (j < cb.m) {
        val cjs = cb.cents(j)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cjs.length) {
          var acc = 0.0
          var i = 0
          while (i < cb.dsub) {
            val off = j * cb.dsub + i
            val d = (arr(off).toDouble - cc(off)) - cjs(c)(i)
            acc += d * d
            i += 1
          }
          if (acc < bestD) { bestD = acc; best = c }
          c += 1
        }
        code(j) = best.toByte
        j += 1
      }
      (cell, code)
    })
    encode(vec)
  }

  /** Build the IVF-PQ index as a STORED collection: train, encode, write
    * through the VectorStore PARTITIONED BY cell_id. Searches against the
    * stored relation ([[pqSearchEncoded]]) are then partition-pruned
    * 8-bytes-per-vector scans — no per-query re-encoding of the
    * collection, which is what makes the stored form the 100 TB shape
    * (the r7 `ann_ivf_store` argument, now for the PQ payload too).
    * Returns (coarse centroids, codebook) for probing. */
  def buildIvfPqIndex(store: graft.store.VectorStore, name: String,
                      collection: DataFrame, vecCol: String, idCol: String,
                      ncells: Int = 16, m: Int = 8, ksub: Int = 256,
                      trainIters: Int = 3, sampleCap: Int = 20000)
      : (Array[(Int, Array[Float])], PqCodebook) = {
    val (cents, cb) = trainIvfPq(collection, vecCol, idCol, ncells, m, ksub,
      trainIters, sampleCap)
    store.create(name, clusterByCell(pqEncode(collection, vecCol, idCol, cents, cb)),
      partitionBy = Seq("cell_id"))
    // self-describing: router AND codebooks travel with the codes
    writePqCodebook(store, name, cents, cb)
    (cents, cb)
  }

  /** Incremental maintenance of a stored IVF-PQ index — frozen coarse
    * router AND frozen codebooks (both build-time artifacts), so the
    * append is [[pqEncode]] + dynamic-partition write, O(batch): the
    * last stored family to gain the nightly-append verb (IVF, graph,
    * BQ, SQ, text, sparse all have theirs). Same discipline: lazy pin,
    * one contract aggregation, one map-only collision pass. Returns
    * touched cells. Codebook drift is the retrain verb's job. */
  def insertIntoStoredPq(store: graft.store.VectorStore, name: String,
      batch: DataFrame, vecCol: String, idCol: String,
      cents: Array[(Int, Array[Float])], cb: PqCodebook): Seq[Int] = {
    val encoded = pqEncode(batch, vecCol, idCol, cents, cb)
      .localCheckpoint(false)
    val head = encoded.agg(count(lit(1)), countDistinct(col(idCol)),
      sort_array(collect_set(col("cell_id")))).head
    AppendContract.requireUnique(head.getLong(0), head.getLong(1),
      "insertIntoStoredPq")
    AppendContract.requireNoExisting(store, name, encoded, idCol,
      head.getLong(0), "insertIntoStoredPq")
    store.append(name, encoded, partitionBy = Seq("cell_id"))
    head.getSeq[Int](2)
  }

  /** The ADC table of one query against one probed cell: per subspace
    * j and code c, the squared L2 between the query's residual to the
    * cell centroid `cc` and codebook entry c, accumulated in double in
    * dimension order. Every PQ search (stored and live) scores through
    * this one loop, so their distances are bit-identical. */
  private[operators] def pqAdcTable(qv: Array[Float], cc: Array[Float],
                                    cb: PqCodebook): Array[Array[Double]] =
    Array.tabulate(cb.m) { j =>
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

  /** ADC search over an ALREADY-ENCODED relation (inline from
    * [[pqEncode]] or read back from the store): probed cells become a
    * LITERAL `cell_id IN (...)` filter — on the stored cell_id-partitioned
    * layout that is a PartitionFilter, so non-probed cells' files are
    * never listed — then ADC shortlist + bounded exact rerank exactly as
    * [[ivfPqTopK]] documents. `encoded` must carry (idCol, cell_id,
    * pq_code) and, when `rerank > 0`, the `vecCol` column. */
  def pqSearchEncoded(encoded: DataFrame, vecCol: String, idCol: String,
                      cents: Array[(Int, Array[Float])], cb: PqCodebook,
                      queries: DataFrame, qIdCol: String, qVecCol: String,
                      k: Int, nprobe: Int = 4, rerank: Int = 4,
                      rerankFetch: Option[DataFrame] = None): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val centById = cents.toMap
    // queries are the small probe side by contract -> driver-side tables
    val qRows = queries.select(col(qIdCol), col(qVecCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // per (query, probed cell): ADC table over the query's cell residual
    val probeTables: Map[(Long, Int), Array[Array[Double]]] = qRows.flatMap {
      case (qid, qv) =>
        probeCells(qv, cents, nprobe).map { cell =>
          (qid, cell) -> pqAdcTable(qv, centById(cell), cb)
        }
    }.toMap
    val adc = udf((qid: Long, cell: Int, code: Array[Byte]) => {
      val tab = probeTables((qid, cell))
      var s = 0.0
      var j = 0
      while (j < code.length) { s += tab(j)(code(j) & 0xFF); j += 1 }
      s
    })
    val probesDf = probeTables.keys.toSeq.sorted.toDF(qIdCol, "cell_id")
    // the union of probed cells as a LITERAL predicate: redundant with
    // the probe join below semantically, but on a cell_id-partitioned
    // stored layout it is what lands in the scan's PartitionFilters —
    // non-probed cells' files are never listed, let alone read
    val probedCells = probeTables.keys.map(_._2).toSeq.distinct.sorted
    val pruned = encoded.filter(col("cell_id").isin(probedCells: _*))
    val wAdc = Window.partitionBy(col(qIdCol)).orderBy(col("adc"), col(idCol))
    val kAdc = if (rerank > 0) rerank * k else k
    val shortlist = pruned.join(broadcast(probesDf), Seq("cell_id"))
      .withColumn("adc", round(adc(col(qIdCol), col("cell_id"), col("pq_code")), 6))
      .withColumn("rank", row_number().over(wAdc).cast("long"))
      .filter(col("rank") <= kAdc)
    if (rerank <= 0)
      shortlist.select(col(qIdCol), col(idCol), col("adc").as("score"), col("rank"))
    else {
      // exact re-rank of the bounded shortlist: fetch the rerank*k
      // candidate vectors — by default from the pruned encoded relation
      // (on the stored layout the cell filter is pure partition pruning,
      // so the fetch stays inside the probed partitions for free); the
      // inline path overrides with the raw collection via `rerankFetch`
      // because there the cell filter would re-run the encode UDF over
      // the whole collection. Broadcast of the small shortlist side
      // keeps the scan shuffle-free either way.
      val qMap = qRows.toMap
      val exactD = udf((qid: Long, v: Seq[Float]) => {
        val qv = qMap(qid)
        var acc = 0.0
        var i = 0
        val n = math.min(qv.length, v.length)
        while (i < n) { val d = qv(i).toDouble - v(i); acc += d * d; i += 1 }
        acc
      })
      val wExact = Window.partitionBy(col(qIdCol)).orderBy(col("score"), col(idCol))
      rerankFetch.getOrElse(pruned).select(col(idCol), col(vecCol).as("_fetch_v"))
        .join(broadcast(shortlist.select(col(qIdCol), col(idCol))), Seq(idCol))
        .withColumn("score", round(exactD(col(qIdCol), col("_fetch_v")), 6))
        .withColumn("rank", row_number().over(wExact).cast("long"))
        .filter(col("rank") <= k)
        .select(col(qIdCol), col(idCol), col("score"), col("rank"))
    }
  }

  /** Random-hyperplane LSH signature: bit i = sign(dot(v, h_i)) where h_i
    * is a deterministic pseudo-random hyperplane derived from (i, seed).
    * Same-signature vectors are cosine-close with high probability.
    */
  def cosineLshBuckets(df: DataFrame, vecCol: String, nBits: Int = 16,
                       seed: Long = 42L, dim: Int = 64): DataFrame =
    df.withColumn("lsh_bucket", bucketExpr(col(vecCol), nBits, seed, dim))

  /** The signature expression behind [[cosineLshBuckets]] — exposed so
    * multi-table operators can compute every table's bucket in ONE scan
    * (an array + posexplode) instead of re-scanning per table. */
  private def bucketExpr(vec: Column, nBits: Int, seed: Long, dim: Int): Column = {
    val rng = new scala.util.Random(seed)
    val planes: Array[Array[Float]] =
      Array.fill(nBits)(Array.fill(dim)(rng.nextGaussian().toFloat))
    (0 until nBits).map { i =>
      when(dot(vec, vecLit(planes(i))) >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Multi-probe LSH top-k (Lv et al.): instead of paying more tables
    * for recall, probe the query's OWN bucket plus the buckets reached
    * by flipping its `nflip` lowest-|margin| sign bits — the bits whose
    * hyperplane the query sits closest to, i.e. the flips most likely
    * to hold near neighbors. One corpus scan computes signatures
    * (map-only, plane literals in codegen), the bucket filter keeps
    * ~(nflip+1)/2^nBits of the rows, exact cosine ranks the survivors.
    * Probe selection is deterministic (margin ties break by bit index)
    * and — because margins are the same left-to-right double dots as
    * the signature expression — fully re-derivable relationally by the
    * gate oracle. */
  def lshMultiProbeTopK(collection: DataFrame, vecCol: String, idCol: String,
                        qv: Array[Float], k: Int = 10, nBits: Int = 12,
                        nflip: Int = 3, seed: Long = 42L,
                        dim: Int = 64): DataFrame = {
    require(nflip >= 0 && nflip <= nBits, s"nflip must be in [0, $nBits]")
    val rng = new scala.util.Random(seed)
    val planes: Array[Array[Float]] =
      Array.fill(nBits)(Array.fill(dim)(rng.nextGaussian().toFloat))
    // ascending-index double accumulation — the same IEEE op sequence
    // as the signature expression and the oracle's list_sum
    val dots = planes.map { h =>
      var acc = 0.0
      var j = 0
      val n = math.min(qv.length, h.length)
      while (j < n) { acc += qv(j).toDouble * h(j); j += 1 }
      acc
    }
    val base = dots.zipWithIndex
      .map { case (dp, i) => if (dp >= 0) 1L << i else 0L }
      .foldLeft(0L)(_ | _)
    val flips = dots.zipWithIndex.map { case (dp, i) => (math.abs(dp), i) }
      .sortBy(p => (p._1, p._2)).take(nflip).map(_._2)
    val probes = base +: flips.map(i => base ^ (1L << i))
    val w = Window.orderBy(col("cosine").desc, col(idCol))
    collection
      .withColumn("lsh_bucket", bucketExpr(col(vecCol), nBits, seed, dim))
      .filter(col("lsh_bucket").isin(probes.map(Long.box): _*))
      .withColumn("cosine", round(cosine(col(vecCol), vecLit(qv)), 6))
      .orderBy(col("cosine").desc, col(idCol)).limit(k)
      .withColumn("rank", row_number().over(w))
      .select(col(idCol), col("lsh_bucket"), col("cosine"), col("rank"))
  }

  /** One-scan multi-table bucketing: (row, _table, lsh_bucket) for
    * `nTables` independent hyperplane signatures. Map-only — the array of
    * per-table signatures is computed in one projection and posexploded,
    * so the corpus is read once no matter how many tables boost recall. */
  private def lshTabled(df: DataFrame, vecCol: String, nBits: Int,
                        nTables: Int, dim: Int, seed0: Long = 42L): DataFrame =
    df.select(col("*"), posexplode(array((0 until nTables).map { t =>
      bucketExpr(col(vecCol), nBits, seed0 + t, dim)
    }: _*)).as(Seq("_table", "lsh_bucket")))

  /** Banded hard-negative mining — the scale path for the exact
    * broadcast-anchors formulation (GraftQueries.mineHardNegatives, which
    * stays as the oracle baseline under its anchors-are-a-small-probe-set
    * contract): anchors and corpus both hash into `nTables` independent
    * hyperplane-signature buckets in one scan each; candidates are pairs
    * sharing a (table, bucket) key — an equi-join on a fixed-width key,
    * never a corpus x anchors nested loop — and exact cosine reranks the
    * candidates, so the anchor set can grow with the corpus (every
    * training example wants negatives) without any unconditional
    * broadcast. Recall comes from the table count: a high-cosine pair
    * collides in at least one of 8 tables with high probability, and hard
    * negatives are exactly the high-cosine band.
    *
    * Output: (anchor_id, vec_id, rank, cosine) — top-`k` per anchor by
    * cosine inside [lo, hi), rank dense from 1. Approximate by
    * construction (recall pinned against the exact form in ScalaTest).
    */
  def hardNegativesLsh(corpus: DataFrame, vecCol: String, idCol: String,
                       anchors: DataFrame, anchorIdCol: String, anchorVecCol: String,
                       k: Int, lo: Double, hi: Double,
                       nBits: Int = 8, nTables: Int = 8, dim: Int = 64): DataFrame = {
    val c = corpus.select(col(idCol).as("_cid"), col(vecCol).as("_cv"))
    val a = anchors.select(col(anchorIdCol).as("anchor_id"), col(anchorVecCol).as("_av"))
    val ct = lshTabled(c, "_cv", nBits, nTables, dim).select(col("_cid"), col("_table"), col("lsh_bucket"))
    val at = lshTabled(a, "_av", nBits, nTables, dim).select(col("anchor_id"), col("_table"), col("lsh_bucket"))
    val candidates = at.join(ct, Seq("_table", "lsh_bucket"))
      .filter(col("anchor_id") =!= col("_cid"))
      .select(col("anchor_id"), col("_cid"))
      .dropDuplicates("anchor_id", "_cid")
    // rerank sides arrive via EQUI-joins on the id keys (hash or
    // size-gated broadcast — the planner's call), keeping the quadratic
    // term confined to per-bucket collision groups
    val scored = candidates
      .join(a, "anchor_id")
      .join(c, "_cid")
      .withColumn("cosine", round(cosine(col("_av"), col("_cv")), 6))
      .filter(col("cosine") >= lo && col("cosine") < hi)
    val w = Window.partitionBy("anchor_id").orderBy(col("cosine").desc, col("_cid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("_cid").as("vec_id"), col("rank"), col("cosine"))
  }

  /** Build the STORED int8-SQ layout — `ann_sq_topk`'s quantizer given
    * `ann_ivfpq_store`'s storage posture: (id, sq_code) PARTITIONED BY
    * cell_id, where the coarse quantizer is the clustering tier's
    * DETERMINISTIC Lloyd trainer ([[Clustering.trainCentroids]]) rather
    * than the sampled closure-UDF IVF trainer — every arithmetic step
    * (residue-class init, fixed-point means, floor-rounded argmin, the
    * SQ encode) is SQL-reproducible, which is what lets the stored-SQ
    * search keep ann_sq_topk's FULL hash oracle where PQ is rows-only.
    * Returns (centroids, per-dim mins, per-dim maxs). */
  def buildIvfSqIndex(store: graft.store.VectorStore, name: String,
      collection: DataFrame, vecCol: String, idCol: String,
      ncells: Int = 8, iters: Int = 2): (Array[Array[Float]], Array[Double], Array[Double]) = {
    val cents = Clustering.trainCentroids(collection, ncells, iters, idCol, vecCol)
    val (mins, maxs) = sqMinMax(collection, vecCol)
    store.create(name,
      clusterByCell(sqAssignEncode(collection, vecCol, idCol, cents, mins, maxs)),
      partitionBy = Seq("cell_id"))
    // self-describing: the quantizer travels with the codes
    writeSqQuantizer(store, name, cents, mins, maxs)
    (cents, mins, maxs)
  }

  /** Per-dim corpus min/max — the SQ quantizer's training artifact
    * (bounded collect: dim rows). */
  def sqMinMax(collection: DataFrame, vecCol: String): (Array[Double], Array[Double]) = {
    val mm = collection.select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(min(col("x").cast("double")).as("mn"), max(col("x").cast("double")).as("mx"))
      .collect()
    val dim = mm.length
    val mins = new Array[Double](dim)
    val maxs = new Array[Double](dim)
    mm.foreach { r => mins(r.getInt(0)) = r.getDouble(1); maxs(r.getInt(0)) = r.getDouble(2) }
    (mins, maxs)
  }

  /** The SQ encode+assign projection shared by the builder and the
    * incremental append — one seam so batch and build can never disagree
    * on the quantizer arithmetic. */
  def sqAssignEncode(collection: DataFrame, vecCol: String, idCol: String,
      cents: Array[Array[Float]], mins: Array[Double],
      maxs: Array[Double]): DataFrame =
    collection
      .withColumn("_a", Clustering.assignStruct(col(vecCol), cents))
      .select(col(idCol), sqEncode(col(vecCol), mins, maxs).as("sq_code"),
        col("_a").getField("cid").as("cell_id"))

  /** Incremental maintenance of a stored int8-SQ index — frozen
    * quantizer (centroids + per-dim min/max are build-time artifacts),
    * so the append is encode + dynamic-partition write, O(batch), same
    * discipline as [[insertIntoStoredIvf]] (lazy pin, one contract
    * aggregation, one map-only collision pass). Returns touched cells.
    * Arrivals outside the frozen ranges still encode deterministically
    * (the encode is pure arithmetic, codes may leave [0,255]) — retrain
    * via [[graft.store.VectorStore.replace]] when drift warrants, the
    * IVF policy. */
  def insertIntoStoredSq(store: graft.store.VectorStore, name: String,
      batch: DataFrame, vecCol: String, idCol: String,
      cents: Array[Array[Float]], mins: Array[Double],
      maxs: Array[Double]): Seq[Int] = {
    val encoded = sqAssignEncode(batch, vecCol, idCol, cents, mins, maxs)
      .localCheckpoint(false)
    val head = encoded.agg(count(lit(1)), countDistinct(col(idCol)),
      sort_array(collect_set(col("cell_id")))).head
    AppendContract.requireUnique(head.getLong(0), head.getLong(1),
      "insertIntoStoredSq")
    AppendContract.requireNoExisting(store, name, encoded, idCol,
      head.getLong(0), "insertIntoStoredSq")
    store.append(name, encoded, partitionBy = Seq("cell_id"))
    head.getSeq[Int](2)
  }

  /** Periodic RETRAIN-AND-REBUILD of a stored int8-SQ index — the
    * [[retrainStoredIvf]] discipline for the first encode family,
    * completing the lifecycle this file defers to "the retrain verb's
    * job" ([[insertIntoStoredSq]]'s frozen-quantizer trade): refit the
    * WHOLE quantizer — coarse centroids at a (possibly new) geometry AND
    * the per-dim min/max ranges — and atomically swap the re-encoded
    * cell-partitioned layout into place ([[graft.store.VectorStore.replace]]).
    *
    * The SQ layout stores CODES ONLY (1 byte/dim — that is its point),
    * so unlike the IVF/graph retrains this verb cannot read its training
    * vectors back from the store: retraining from dequantized codes
    * would compound quantization error generation over generation
    * (each retrain re-quantizing the previous retrain's error). The verb
    * therefore takes the AUTHORITATIVE vector relation — the same
    * `collection` contract as the builder — and enforces a cardinality
    * check against the store (the append contract already guarantees id
    * uniqueness on the way in, so equal counts ⇒ the same id set under
    * the builder/append flow). O(collection) by nature — a retrain
    * re-encodes every row — run at the cadence drift warrants; appends
    * stay O(batch). Returns the new (centroids, mins, maxs); the caller
    * re-registers them (probing with the old quantizer against the new
    * layout would probe the wrong cells and decode with the wrong
    * ranges). */
  /** Order-independent corpus digest for the codes-only retrains:
    * (row count, xor of xxhash64(id, per-id count) over the DISTINCT
    * string-normalized ids). Count alone would accept ANY
    * same-cardinality relation and silently swap in an index
    * inconsistent with the collection it serves. A plain xor over raw
    * id hashes is self-canceling (an id appearing an even number of
    * times contributes nothing — two same-cardinality relations
    * differing by even-multiplicity id groups digest equal), so the
    * multiplicity rides INSIDE each hashed term: duplicated ids hash
    * differently from distinct ones, and each distinct id contributes
    * exactly once to the commutative xor. Cost: the count pass widens
    * to one slender (id, count) aggregate. */
  private def corpusDigest(df: DataFrame, idCol: String): (Long, Long) = {
    val r = df.groupBy(col(idCol).cast("string").as("_id"))
      .agg(count(lit(1)).as("_n"))
      .agg(sum(col("_n")), bit_xor(xxhash64(col("_id"), col("_n")))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0),
     if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def retrainStoredSq(spark: org.apache.spark.sql.SparkSession,
      store: graft.store.VectorStore, name: String, collection: DataFrame,
      vecCol: String, idCol: String, ncells: Int = 8, iters: Int = 2)
      : (Array[Array[Float]], Array[Double], Array[Double]) = {
    val (nStore, hStore) = corpusDigest(store.read(spark, name), idCol)
    val (nColl, hColl) = corpusDigest(collection, idCol)
    require(nStore == nColl && hStore == hColl,
      s"retrainStoredSq: store '$name' holds $nStore rows (id digest " +
        s"$hStore) but the collection has $nColl ($hColl) — the retrain " +
        "corpus must be exactly the indexed corpus (codes-only layout; " +
        "see scaladoc)")
    val cents = Clustering.trainCentroids(collection, ncells, iters, idCol, vecCol)
    val (mins, maxs) = sqMinMax(collection, vecCol)
    store.replace(name,
      clusterByCell(sqAssignEncode(collection, vecCol, idCol, cents, mins, maxs)),
      partitionBy = Seq("cell_id"))
    // the quantizer CHANGED — re-persist so the layout stays self-describing
    writeSqQuantizer(store, name, cents, mins, maxs)
    (cents, mins, maxs)
  }

  /** Periodic RETRAIN-AND-REBUILD of a stored IVF-PQ index — refit the
    * coarse router at a (possibly new) geometry AND the residual PQ
    * codebooks on the store's OWN vectors (the PQ layout keeps the raw
    * vector column for the exact rerank, so unlike SQ/BQ the training
    * corpus reads straight off the index), re-encode every row, and
    * atomically swap ([[graft.store.VectorStore.replace]] — crash-safe
    * either way). Training is the same deterministic md5-ordered-sample
    * pipeline as the builder, so the retrained store provably equals a
    * from-scratch [[buildIvfPqIndex]] over the same rows (spec-pinned;
    * the search over it answers under the geometry-parameterized full
    * oracle). O(collection) scheduled verb; appends stay O(batch) via
    * [[insertIntoStoredPq]]. Returns the new (centroids, codebook). */
  def retrainStoredPq(spark: org.apache.spark.sql.SparkSession,
      store: graft.store.VectorStore, name: String,
      vecCol: String, idCol: String, ncells: Int = 16, m: Int = 8,
      ksub: Int = 256, trainIters: Int = 3, sampleCap: Int = 20000)
      : (Array[(Int, Array[Float])], PqCodebook) = {
    val data = store.read(spark, name).select(col(idCol), col(vecCol))
    val (cents, cb) = trainIvfPq(data, vecCol, idCol, ncells, m, ksub,
      trainIters, sampleCap)
    store.replace(name, clusterByCell(pqEncode(data, vecCol, idCol, cents, cb)),
      partitionBy = Seq("cell_id"))
    // the quantizer CHANGED — re-persist so the layout stays self-describing
    writePqCodebook(store, name, cents, cb)
    (cents, cb)
  }

  /** The `nprobe` cells nearest the query, by the SAME arithmetic as the
    * assignment argmin (float→double subtraction, left-to-right double
    * accumulation, floor-rounded to 6 decimals, ties to the lower cid) —
    * so a SQL twin reproduces the probe set bit-for-bit. */
  def sqProbeCells(cents: Array[Array[Float]], qv: Array[Double], nprobe: Int,
                   twoLevelGate: Int = CentroidRouter.DefaultGate): Array[Int] = {
    // the same cell-count gate as assignment: a driver-side O(ncells)
    // scan per query is the probe-side half of the large-ncells problem
    if (cents.length >= twoLevelGate)
      return CentroidRouter.routerForSlots(cents).probe(qv, nprobe)
    cents.zipWithIndex.map { case (c, j) =>
      var acc = 0.0
      var i = 0
      while (i < c.length) { val dlt = qv(i) - c(i).toDouble; acc += dlt * dlt; i += 1 }
      (math.floor(acc * 1e6 + 0.5) / 1e6, j)
    }.sortBy(identity).take(nprobe).map(_._2)
  }

  /** Top-k over the stored SQ layout: the literal `cell_id IN (probed)`
    * filter lands in PartitionFilters (the scan lists only probed cells'
    * directories and reads 1 byte/dim codes — never full vectors), then
    * the fused dequantize+l2 [[graft.functions.SqAdcDistance]] kernel
    * scores candidates into a TakeOrderedAndProject. */
  def sqSearchStored(stored: DataFrame, idCol: String,
      cents: Array[Array[Float]], mins: Array[Double], maxs: Array[Double],
      qv: Array[Double], k: Int, nprobe: Int): DataFrame = {
    val scales = Array.tabulate(mins.length)(i => (maxs(i) - mins(i)) / 255)
    val probed = sqProbeCells(cents, qv, nprobe)
    stored.filter(col("cell_id").isin(probed.map(Int.box).toIndexedSeq: _*))
      .withColumn("dist", floor(sqAdc(col("sq_code"), mins, scales, qv) * 1e6 + 0.5) / 1e6)
      .select(col(idCol), col("cell_id").cast("int").as("cell_id"), col("dist"))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
  }

  // ------------------------------------------- binary quantization (BQ)

  /** Sign-bit pack of dims [from, until): bit (i-from) = (v[i] > 0).
    * A literal per-bit `when` chain folded with bitwiseOR — pure codegen,
    * no higher-order function, the [[bucketExpr]] discipline. Packed into
    * 32-bit halves carried as LONGs so neither engine's signed-shift
    * semantics is ever exercised on bit 63. */
  private def packSignBits(vec: Column, from: Int, until: Int): Column =
    (from until until).map { i =>
      when(element_at(vec, i + 1) > lit(0f), lit(1L << (i - from))).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** Driver-side twin of [[packSignBits]] for the query vector. */
  private def packSignBitsLocal(v: Array[Float], from: Int, until: Int): Long = {
    var acc = 0L
    var i = from
    while (i < until && i < v.length) { if (v(i) > 0f) acc |= 1L << (i - from); i += 1 }
    acc
  }

  /** 1-bit binary-quantization top-k — the cheapest point on the ANN
    * memory/recall curve (the "BQ" tier modern vector stores ship beside
    * SQ/PQ): each vector collapses to dim/8 bytes of sign bits, the
    * pre-rank is a map-only Hamming scan over 16 bytes/vector into a
    * `TakeOrderedAndProject` (per-partition heaps — at 100 TB this scan
    * reads ~0.4% of the raw float bytes and shuffles only top-N per
    * partition), and exact cosine reranks the `rerank`·k shortlist
    * fetched back from the raw collection via a broadcast id semi-join
    * (the [[ivfPqTopK]] rerankFetch shape). Everything is deterministic —
    * sign tests, integer XOR/popcount, (hamming, id) and (cosine, id)
    * orderings — so unlike classic ANN the WHOLE computation is
    * SQL-expressible and the gate checks it by full hash.
    *
    * Output: (idCol, hamming, cosine) — the final top-`k` by
    * (cosine desc, id), with the pre-rank Hamming distance carried for
    * observability. */
  def bqTopK(collection: DataFrame, vecCol: String, idCol: String,
             queryVec: Array[Float], k: Int = 10, rerank: Int = 4,
             dim: Int = 64): DataFrame = {
    require(dim % 2 == 0 && dim <= 128, s"dim must be even and <= 128, got $dim")
    val half = dim / 2
    val qlo = packSignBitsLocal(queryVec, 0, half)
    val qhi = packSignBitsLocal(queryVec, half, dim)
    val shortlist = collection
      .select(col(idCol),
        (bit_count(packSignBits(col(vecCol), 0, half).bitwiseXOR(lit(qlo))) +
          bit_count(packSignBits(col(vecCol), half, dim).bitwiseXOR(lit(qhi))))
          .cast("int").as("hamming"))
      .orderBy(col("hamming"), col(idCol))
      .limit(k * rerank)
    collection.select(col(idCol), col(vecCol))
      .join(broadcast(shortlist), Seq(idCol))
      .withColumn("cosine", round(cosine(col(vecCol), vecLit(queryVec)), 6))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("hamming"), col("cosine"))
  }

  /** Stored-IVF introspection — the ops view a 100 TB deployment watches
    * for router drift: per-cell population, id span, and corpus fraction.
    * A hot cell (n_frac ≫ 1/ncells) means probe-time stragglers and is
    * the signal to [[retrainStoredIvf]]; the scan is column-pruned to
    * (cell_id, id) — vectors never leave the files — and the window runs
    * over the ncells-row aggregate, not the data. */
  def ivfIndexStats(stored: DataFrame, idCol: String): DataFrame = {
    val per = stored.groupBy(col("cell_id").cast("int").as("cell_id"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col(idCol)).as("min_id"), max(col(idCol)).as("max_id"))
    // whole-frame window over <= ncells aggregated rows — bytes, not data
    val w = Window.partitionBy(lit(1))
    per.withColumn("n_frac",
        floor(col("n_vectors").cast("double") / sum(col("n_vectors")).over(w)
          * 1e6 + lit(0.5)) / 1e6)
      .orderBy("cell_id")
  }

  /** Cost-based filtered ANN — the pre-filter / post-filter decision every
    * vector store with metadata filters has to make, made explicitly and
    * deterministically:
    *
    *  - '''pre-filter''' (selective predicate): scan the survivors and
    *    rank them exactly — cost O(matching rows), recall 1.0 by
    *    construction. The right plan when the filter keeps a sliver:
    *    probing IVF cells would read far more rows than the filter
    *    leaves, and a post-filter can starve (all k survivors filtered
    *    out of the probed cells).
    *  - '''post-filter''' (broad predicate): probe the nprobe nearest
    *    cells and filter the candidates — cost O(probed cells),
    *    approximate exactly like the unfiltered IVF path. The right plan
    *    when most rows survive: the filter barely shrinks the candidate
    *    set, so exactness isn't worth a full filtered scan.
    *
    * The decision reads ONE slim stats pass (total + matching counts in
    * a single aggregate; at 100 TB this probe is the same count the
    * filter's own scan would push down, or comes free from catalog
    * stats) and compares the matching fraction against
    * `maxPreFraction` — integer counts and one double multiply, so the
    * gate oracle replays the decision relationally (the CHOICE is under
    * the hash, not just the chosen branch's output). Output carries a
    * `path` column pinning which plan ran. */
  def adaptiveFilteredKnn(collection: DataFrame, vecCol: String, idCol: String,
                          predicate: Column, qv: Array[Float],
                          k: Int = 10, ncells: Int = 16, nprobe: Int = 4,
                          maxPreFraction: Double = 0.05,
                          trainIters: Int = 3): DataFrame = {
    val cnt = collection.agg(count(lit(1)).as("n"),
      count(when(predicate, lit(1))).as("m")).head
    val n = cnt.getLong(0)
    val m = cnt.getLong(1)
    // the k-row rank window below is single-partition by construction —
    // it runs over the ALREADY-limited TakeOrderedAndProject output
    val wTop = Window.orderBy(col("cosine").desc, col(idCol))
    def rankTop(candidates: DataFrame, path: String): DataFrame =
      candidates
        .withColumn("cosine", round(cosine(col(vecCol), vecLit(qv)), 6))
        .select(col(idCol), col("cosine"))
        .orderBy(col("cosine").desc, col(idCol)).limit(k)
        .withColumn("rank", row_number().over(wTop))
        .withColumn("path", lit(path))
    if (m.toDouble <= n * maxPreFraction) {
      rankTop(collection.filter(predicate), "pre")
    } else {
      val cents = trainCentroidArrays(collection, vecCol, idCol, ncells, trainIters)
      val probed = probeCells(qv, cents, nprobe)
      rankTop(withCellId(collection, vecCol, cents)
        .filter(col("cell_id").isin(probed.map(Int.box): _*) && predicate),
        "post")
    }
  }

  /** Recall-evaluation report — the ops verb that answers "what nprobe do
    * I run?": for a panel of query vectors, recall@k of the IVF probe vs
    * exact top-k at EVERY candidate nprobe, plus the candidate volume
    * each setting pays. One row per (query, nprobe).
    *
    * Cost shape: evaluation is inherently O(corpus · panel) — ground
    * truth needs an exact pass — so the operator is built to pay each
    * corpus read once, not once per setting: the scored candidate
    * relation is computed at max(nprobes) with each candidate's probe
    * rank attached and CACHED (slim: q_id, id, rn, cosine); every
    * smaller nprobe is a filter over that cache. The exact top-k is one
    * additional scan, eagerized to its ≤ k·Q rows. Run it on a sampled
    * panel at 100 TB — that is what the panel argument is for.
    *
    * Ranking/rounding matches [[ivfTopK]] exactly (rounded-cosine desc,
    * id ties, (distance, cid) probe order), so the report's recall is
    * the recall of the production search path, not an approximation of
    * it. */
  def recallReport(collection: DataFrame, vecCol: String, idCol: String,
                   queries: DataFrame, qIdCol: String, qVecCol: String,
                   k: Int = 10, ncells: Int = 16,
                   nprobes: Seq[Int] = Seq(1, 2, 4, 8),
                   trainIters: Int = 3,
                   centsOpt: Option[Array[(Int, Array[Float])]] = None): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(p => p >= 1 && p <= ncells),
      s"nprobes must be within [1, $ncells], got $nprobes")
    val spark = collection.sparkSession
    // callers that already hold the (deterministic) trained router pass
    // it through instead of paying a bit-identical re-train
    val cents = centsOpt.getOrElse(
      trainCentroidArrays(collection, vecCol, idCol, ncells, trainIters))
    val indexed = withCellId(collection, vecCol, cents)
    val probeOrderUdf = udf((v: Seq[Float]) => {
      val arr = v.toArray
      cents.map { case (id, c) =>
        var acc = 0.0
        var i = 0
        val n = math.min(arr.length, c.length)
        while (i < n) { val d = arr(i).toDouble - c(i); acc += d * d; i += 1 }
        (acc, id)
      }.sortBy(p => (p._1, p._2)).map(_._2)
    })
    val maxP = nprobes.max
    val probeRanks = queries.select(col(qIdCol), col(qVecCol),
        posexplode(probeOrderUdf(col(qVecCol))).as(Seq("_pos", "cell_id")))
      .withColumn("_rn", (col("_pos") + 1).cast("int")).drop("_pos")
      .filter(col("_rn") <= maxP)
    val scoredCand = indexed.join(broadcast(probeRanks), Seq("cell_id"))
      .withColumn("cosine", round(cosine(col(vecCol), col(qVecCol)), 6))
      .select(col(qIdCol), col(idCol), col("_rn"), col("cosine"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val wq = Window.partitionBy(col(qIdCol))
        .orderBy(col("cosine").desc, col(idCol))
      val exactTop = collection.select(col(idCol), col(vecCol))
        .crossJoin(broadcast(queries.select(col(qIdCol), col(qVecCol))))
        .withColumn("cosine", round(cosine(col(vecCol), col(qVecCol)), 6))
        .withColumn("_xr", row_number().over(wq))
        .filter(col("_xr") <= k)
        .select(col(qIdCol), col(idCol))
      // <= k·Q rows — eagerized so the ground truth is computed once,
      // not re-scanned per nprobe setting
      val exact = spark.createDataFrame(
        java.util.Arrays.asList(exactTop.collect(): _*), exactTop.schema)
      val perP = nprobes.sorted.map { p =>
        val cand = scoredCand.filter(col("_rn") <= p)
        val nCand = cand.groupBy(col(qIdCol))
          .agg(count(lit(1)).as("n_candidates"))
        val hits = cand.withColumn("_r", row_number().over(wq))
          .filter(col("_r") <= k)
          .join(broadcast(exact), Seq(qIdCol, idCol), "left_semi")
          .groupBy(col(qIdCol)).agg(count(lit(1)).as("n_hits"))
        nCand.join(hits, Seq(qIdCol), "left")
          .withColumn("nprobe", lit(p))
      }.reduce(_ unionByName _)
      val out = perP
        .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
        .withColumn("recall",
          floor(col("n_hits").cast("double") / lit(k.toDouble) * 1e6 + 0.5) / 1e6)
        .select(col(qIdCol), col("nprobe"), col("n_candidates"),
          col("n_hits"), col("recall"))
        .orderBy(col(qIdCol), col("nprobe"))
      val rows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally scoredCand.unpersist()
  }

  /** Recall-targeted nprobe AUTOTUNE — closes the loop [[recallReport]]
    * opens: evaluate the candidate nprobes on the panel, pick the
    * CHEAPEST one meeting `targetRecall`, and run the production search
    * at that setting. The decision rule is integer-exact (total panel
    * hits >= ceil(target · k · panelSize) — no float mean compare), so
    * the chosen setting is bit-deterministic and sits UNDER the gate
    * oracle, which replays the whole tuning relationally. Falls back to
    * max(nprobes) when no candidate meets the target (serve the best
    * you have — refusing to answer is not a serving option). Output:
    * the panel's search results at the chosen setting, with the chosen
    * `nprobe` and its floor-rounded panel `mean_recall` on every row.
    *
    * Cost shape: the evaluation is [[recallReport]] (each corpus read
    * paid once across settings); the quantizer is trained ONCE and
    * threaded through both the evaluation and the final search — at
    * 100 TB run the tune on a sampled panel, then hand the chosen
    * nprobe to the STORED index search. */
  def autotuneNprobe(collection: DataFrame, vecCol: String, idCol: String,
                     queries: DataFrame, qIdCol: String, qVecCol: String,
                     k: Int = 10, ncells: Int = 16,
                     nprobes: Seq[Int] = Seq(1, 2, 4, 8),
                     targetRecall: Double = 0.9,
                     trainIters: Int = 3): DataFrame = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1], got $targetRecall")
    // ONE training for the whole tune-then-serve verb: the quantizer is
    // deterministic, so the previous shape (recallReport trains, then
    // ivfTopK re-trains bit-identical centroids) paid a second md5-
    // sampled Lloyd pass — at 100 TB a second sample scan + iters
    // aggregation jobs — for values already in hand. Results unchanged
    // by construction (same centroid arrays, same plans downstream).
    val cents = trainCentroidArrays(collection, vecCol, idCol, ncells, trainIters)
    val report = recallReport(collection, vecCol, idCol, queries, qIdCol,
      qVecCol, k, ncells, nprobes, trainIters,
      centsOpt = Some(cents)) // eager local relation
    // |panel| from the QUERY relation, not the report: a panel query
    // with zero candidates at every setting must still count in the
    // documented ceil(target·k·|panel|) bar, and a (query, nprobe)
    // setting with no hits is 0, not a missing map key
    val panelSize = queries.select(col(qIdCol)).distinct().count()
    val need = math.ceil(targetRecall * k * panelSize).toLong
    val totals = report.groupBy("nprobe")
      .agg(sum(col("n_hits")).as("_hits"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val chosen = nprobes.sorted.find(p => totals.getOrElse(p, 0L) >= need)
      .getOrElse(nprobes.max)
    val meanRecall =
      math.floor(totals.getOrElse(chosen, 0L).toDouble /
        (k * panelSize) * 1e6 + 0.5) / 1e6
    ivfTopK(collection, vecCol, idCol, queries, qIdCol, qVecCol, k,
        ncells, chosen, trainIters, centsOpt = Some(cents))
      .withColumn("rank", col("rank").cast("long"))
      .withColumn("nprobe", lit(chosen))
      .withColumn("mean_recall", lit(meanRecall))
  }

  /** Fixed-point NDCG discount table: w(i) = floor(1e6 / log2(i+1) + 0.5)
    * for ranks 1..k. Shared verbatim by [[gradedEvalReport]] and its
    * oracle twin (the SQL interpolates these exact longs as literals), so
    * neither engine evaluates a transcendental at compare time — the only
    * float steps left are the final /1e6 scalings, which are exact decimal
    * representations on both sides. */
  def ndcgDiscountFixed(k: Int): IndexedSeq[Long] =
    (1 to k).map(i =>
      math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0)) + 0.5).toLong)

  /** Graded retrieval-eval report — the ranking-quality complement to
    * [[recallReport]]'s set-overlap recall: MRR@k and NDCG@k of the IVF
    * probe against the exact top-k, one row per (query, nprobe).
    * Relevance is graded by the EXACT ranking (rel(xr) = k+1-xr for the
    * exact rank xr), so NDCG measures how well the probe preserves the
    * true similarity ORDER, not just membership — the metric that moves
    * when quantization reshuffles the top of the list.
    *
    * Determinism: all three metrics are computed in integer/fixed-point
    * space — DCG is an integer sum of rel·w(r) over [[ndcgDiscountFixed]]
    * weights, NDCG is one round-half-up integer division against the
    * closed-form IDCG, MRR is (2e6+minr) div (2·minr) — so the report is
    * bit-identical across engines and thread counts with no IEEE
    * fold-order caveats.
    *
    * Cost shape: identical to [[recallReport]] (same cached max-nprobe
    * candidate relation, each corpus read paid once across settings; the
    * exact pass eagerized at ≤ k·Q rows); run it on a sampled panel at
    * 100 TB. */
  def gradedEvalReport(collection: DataFrame, vecCol: String, idCol: String,
                       queries: DataFrame, qIdCol: String, qVecCol: String,
                       k: Int = 10, ncells: Int = 16,
                       nprobes: Seq[Int] = Seq(1, 2, 4, 8),
                       trainIters: Int = 3): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(p => p >= 1 && p <= ncells),
      s"nprobes must be within [1, $ncells], got $nprobes")
    val spark = collection.sparkSession
    val cents = trainCentroidArrays(collection, vecCol, idCol, ncells, trainIters)
    val indexed = withCellId(collection, vecCol, cents)
    val probeOrderUdf = udf((v: Seq[Float]) => {
      val arr = v.toArray
      cents.map { case (id, c) =>
        var acc = 0.0
        var i = 0
        val n = math.min(arr.length, c.length)
        while (i < n) { val d = arr(i).toDouble - c(i); acc += d * d; i += 1 }
        (acc, id)
      }.sortBy(p => (p._1, p._2)).map(_._2)
    })
    val maxP = nprobes.max
    val probeRanks = queries.select(col(qIdCol), col(qVecCol),
        posexplode(probeOrderUdf(col(qVecCol))).as(Seq("_pos", "cell_id")))
      .withColumn("_rn", (col("_pos") + 1).cast("int")).drop("_pos")
      .filter(col("_rn") <= maxP)
    val scoredCand = indexed.join(broadcast(probeRanks), Seq("cell_id"))
      .withColumn("cosine", round(cosine(col(vecCol), col(qVecCol)), 6))
      .select(col(qIdCol), col(idCol), col("_rn"), col("cosine"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val wq = Window.partitionBy(col(qIdCol))
        .orderBy(col("cosine").desc, col(idCol))
      // exact top-k WITH its rank — the graded ground truth
      val exactTop = collection.select(col(idCol), col(vecCol))
        .crossJoin(broadcast(queries.select(col(qIdCol), col(qVecCol))))
        .withColumn("cosine", round(cosine(col(vecCol), col(qVecCol)), 6))
        .withColumn("_xr", row_number().over(wq))
        .filter(col("_xr") <= k)
        .select(col(qIdCol), col(idCol), col("_xr"))
      val exact = spark.createDataFrame(
        java.util.Arrays.asList(exactTop.collect(): _*), exactTop.schema)
      val w = ndcgDiscountFixed(k)
      val wMap = typedLit(w.zipWithIndex.map { case (v, i) => (i + 1) -> v }.toMap)
      val idcg = (1 to k).map(i => (k + 1 - i).toLong * w(i - 1)).sum
      val perP = nprobes.sorted.map { p =>
        scoredCand.filter(col("_rn") <= p)
          .withColumn("_r", row_number().over(wq))
          .filter(col("_r") <= k)
          .join(broadcast(exact), Seq(qIdCol, idCol))
          .groupBy(col(qIdCol))
          .agg(count(lit(1)).as("n_hits"),
            min(col("_r")).as("_minr"),
            sum((lit(k + 1).cast("long") - col("_xr")) *
              element_at(wMap, col("_r"))).as("_dcg"))
          .withColumn("nprobe", lit(p))
      }.reduce(_ unionByName _)
      // base = panel × settings, so a (query, nprobe) with zero hits
      // still reports (0, 0.0, 0.0) instead of vanishing
      import spark.implicits._
      val base = queries.select(col(qIdCol)).distinct()
        .crossJoin(nprobes.sorted.toDF("nprobe"))
      val out = base.join(perP, Seq(qIdCol, "nprobe"), "left")
        .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
        .withColumn("mrr", when(col("_minr").isNull, lit(0.0)).otherwise(
          expr("(2000000 + _minr) div (2 * _minr)") / 1e6))
        .withColumn("ndcg", when(col("_dcg").isNull, lit(0.0)).otherwise(
          expr(s"(2 * _dcg * 1000000 + ${idcg}L) div (2 * ${idcg}L)") / 1e6))
        .select(col(qIdCol), col("nprobe"), col("n_hits"), col("mrr"),
          col("ndcg"))
        .orderBy(col(qIdCol), col("nprobe"))
      val rows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally scoredCand.unpersist()
  }

  /** INDEX ADVISOR — the capacity-planning verb: "which index family do
    * I build for this collection?" Evaluates every compressed stored
    * family the engine ships (ivf_flat, ivf_sq, ivf_pq, bq) at its
    * production gate geometry against a probe query, measures recall@k
    * vs the exact ranking under that family's OWN metric and corpus
    * convention (IVF/PQ rank by raw l2² over the full collection; SQ's
    * read and BQ's build exclude the probe row when `selfId` is given —
    * mirroring the stored-search verbs exactly, which is what lets the
    * oracle restate each family verbatim), prices each family's
    * bytes-per-vector payload, and RECOMMENDS the cheapest family
    * meeting `targetRecall`: integer-exact rule n_hits ≥ ceil(target·k),
    * bytes-asc then name-asc tie-break, `flat` the always-available
    * fallback at recall 1.0 — a recommendation therefore always exists.
    * The decision column sits under the gate hash, so drift in any
    * family's search arithmetic flips a hashed boolean, not just a
    * float.
    *
    * Cost shape: builds each index once in a throwaway store (the
    * index_catalog posture) and runs ONE probe per family. At 100 TB
    * run it on a sampled slice — the decision needs the families'
    * recall ORDERING, not the exact corpus. Output is eager (5 rows);
    * the store is destroyed on exit. */
  def indexAdvisor(collection: DataFrame, vecCol: String, idCol: String,
                   qv: Array[Float], k: Int = 10, targetRecall: Double = 0.7,
                   ncells: Int = 16, nprobe: Int = 4,
                   selfId: Option[Long] = None): DataFrame = {
    val spark = collection.sparkSession
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_advise").toString
    val store = graft.store.VectorStore(root)
    try {
      val dim = qv.length
      val qvD = qv.map(_.toDouble)
      def ids(df: DataFrame): Set[Any] =
        df.select(col(idCol)).collect().map(_.get(0)).toSet
      val minusSelf = selfId.fold(collection)(i =>
        collection.filter(col(idCol) =!= lit(i)))
      // exact ground truths, one per (metric, corpus) convention; the
      // ordering key is ROUNDED (the vec_knn parity form) so the top-k
      // boundary cannot flip on cross-engine float noise
      val gtL2Full = ids(collection
        .orderBy(round(l2Sq(col(vecCol), vecLit(qv)), 6), col(idCol)).limit(k))
      val gtL2Ex = ids(minusSelf
        .orderBy(round(l2Sq(col(vecCol), vecLit(qv)), 6), col(idCol)).limit(k))
      val gtCosEx = ids(minusSelf
        .withColumn("_c", round(cosine(col(vecCol), vecLit(qv)), 6))
        .orderBy(col("_c").desc, col(idCol)).limit(k))
      // the four family evaluations are INDEPENDENT (each builds its own
      // index in its own collection and probes it), so they run
      // concurrently from a bounded driver pool — the indexCatalog
      // discipline: wall time is max-of-family, not sum-of, Spark's
      // scheduler takes multi-threaded submission, and the decision
      // table assembles in fixed family order regardless of completion
      import scala.concurrent.{Await, ExecutionContext, Future}
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val deadline = scala.concurrent.duration.Duration(
        sys.env.getOrElse("GRAFT_ADVISOR_TIMEOUT_SEC", "1800").toLong, "s")
      // ivf_flat — the ann_ivf_store shape (partition-pruned probe scan).
      // cell_id MUST survive into the collected output: the AnnProbe
      // rewrite keys on the child's cell_id attribute, and projecting it
      // away lets column pruning strip it before the rule runs — the
      // "silently unrewritten exact scan" hazard AnnProbeRule documents.
      val fIvf = Future {
        val cents = buildIvfIndex(store, "adv_ivf", collection, vecCol,
          idCol, ncells)
        graft.plans.AnnProbe.withProbe(spark, cents, nprobe) {
          store.read(spark, "adv_ivf")
            .orderBy(l2Sq(col(vecCol), vecLit(qv)), col(idCol)).limit(k)
            .select(col(idCol), col("cell_id"))
            .collect().map(_.get(0)).toSet
            .count(gtL2Full.contains)
        }
      }
      // ivf_sq — the ann_ivfsq_store shape (8-cell router, int8 ADC)
      val fSq = Future {
        val (scents, mins, maxs) =
          buildIvfSqIndex(store, "adv_sq", collection, vecCol, idCol)
        val sqRead = selfId.fold(store.read(spark, "adv_sq"))(i =>
          store.read(spark, "adv_sq").filter(col(idCol) =!= lit(i)))
        ids(sqSearchStored(sqRead, idCol, scents, mins, maxs,
          qvD, k, nprobe)).count(gtL2Ex.contains)
      }
      // bq — the ann_bq_store shape (sign-at-zero signatures, rerank 4k)
      val fBq = Future {
        buildBqIndex(store, "adv_bq", minusSelf, vecCol, idCol, dim)
        ids(bqSearchStored(store.read(spark, "adv_bq"), minusSelf,
          vecCol, idCol, qv, k, rerank = 4, dim = dim))
          .count(gtCosEx.contains)
      }
      // ivf_pq — the ann_ivfpq_store shape (m=8 residual codes, ADC+rerank)
      val fPq = Future {
        val (pcents, cb) =
          buildIvfPqIndex(store, "adv_pq", collection, vecCol, idCol, ncells)
        val panel = Seq((0L, qv.toSeq)).toDF("q_id", "q_vec")
        ids(pqSearchEncoded(store.read(spark, "adv_pq"), vecCol,
          idCol, pcents, cb, panel, "q_id", "q_vec", k, nprobe))
          .count(gtL2Full.contains)
      }
      val (hitsIvf, hitsSq, hitsBq, hitsPq) =
        try Await.result(
          fIvf.zip(fSq).zip(fBq).zip(fPq).map {
            case (((a, b), c), d) => (a, b, c, d)
          }, deadline)
        finally pool.shutdown()
      // price, gate, recommend — all integer-exact
      // BQ prices at the layout's PHYSICAL cost: the (bq_lo, bq_hi)
      // columns are two fixed longs for every supported dim <= 128
      // (16 bytes), not a dim-scaled packing — a dim-scaled formula
      // would flip the bytes-ascending tie-break at non-default dims.
      val bqBytes = 16L
      val fams = Seq(
        ("flat", 4L * dim, k.toLong),
        ("ivf_flat", 4L * dim, hitsIvf.toLong),
        ("ivf_sq", dim.toLong, hitsSq.toLong),
        ("bq", bqBytes, hitsBq.toLong),
        ("ivf_pq", 8L, hitsPq.toLong))
      val need = math.ceil(targetRecall * k).toLong
      val rec = fams.filter(_._3 >= need)
        .sortBy { case (f, b, _) => (b, f) }.head._1
      fams.map { case (f, b, h) =>
        (f, b, h, math.floor(h.toDouble / k * 1e6 + 0.5) / 1e6,
          h >= need, f == rec)
      }.sortBy(_._1)
        .toDF("family", "bytes_per_vec", "n_hits", "recall", "meets",
          "recommended")
    } finally store.destroy()
  }

  /** Persist the BQ signature index: (id, bq_lo, bq_hi) — dim/8 bytes of
    * signature per vector. At 100 TB this relation IS the index: the
    * Hamming pre-rank scans it instead of re-deriving signatures from the
    * raw floats every query (a ~16× I/O cut per search), and since the
    * signatures are append-only values (no train step, no cells) the
    * nightly maintenance is a plain append — even simpler than
    * [[insertIntoStoredIvf]]. */
  def buildBqIndex(store: graft.store.VectorStore, name: String,
                   collection: DataFrame, vecCol: String, idCol: String,
                   dim: Int = 64): Unit =
    store.create(name, bqEncodeFor(collection, vecCol, idCol, dim))

  /** The BQ signature projection shared by the builder, the incremental
    * append, and the streaming sink — one encode seam per family. */
  def bqEncodeFor(collection: DataFrame, vecCol: String, idCol: String,
                  dim: Int = 64): DataFrame = {
    require(dim % 2 == 0 && dim <= 128, s"dim must be even and <= 128, got $dim")
    val half = dim / 2
    collection.select(col(idCol),
      packSignBits(col(vecCol), 0, half).as("bq_lo"),
      packSignBits(col(vecCol), half, dim).as("bq_hi"))
  }

  /** The (lo, hi) signature expressions for one vector column — exposed
    * so index tiers (the mutable-BQ layout) can compute signatures
    * ALONGSIDE carried columns in a single map-only projection instead
    * of joining [[bqEncodeFor]]'s three-column output back. */
  private[graft] def bqEncodeExprs(vec: Column, dim: Int): (Column, Column) = {
    require(dim % 2 == 0 && dim <= 128, s"dim must be even and <= 128, got $dim")
    (packSignBits(vec, 0, dim / 2), packSignBits(vec, dim / 2, dim))
  }

  /** Driver-side (lo, hi) signature pack of a query vector. */
  private[graft] def bqPackLocal(v: Array[Float], dim: Int): (Long, Long) =
    (packSignBitsLocal(v, 0, dim / 2), packSignBitsLocal(v, dim / 2, dim))

  /** Incremental maintenance of a stored BQ index — the simplest of the
    * nightly-append family: signatures are train-free values (no cells,
    * no router, no stats), so the append is encode + write, O(batch)
    * with zero existing rows read beyond the contract's slim id pass.
    * Same discipline as the IVF/graph verbs: lazy batch pin, one
    * contract aggregation, one map-only collision check. Returns the
    * batch size. */
  def insertIntoStoredBq(store: graft.store.VectorStore, name: String,
                         batch: DataFrame, vecCol: String, idCol: String,
                         dim: Int = 64): Long = {
    val encoded = bqEncodeFor(batch, vecCol, idCol, dim)
      .localCheckpoint(false) // pinned: contract + append read one evaluation
    val cnts = encoded.agg(count(lit(1)), countDistinct(col(idCol))).head
    AppendContract.requireUnique(cnts.getLong(0), cnts.getLong(1),
      "insertIntoStoredBq")
    AppendContract.requireNoExisting(store, name, encoded, idCol,
      cnts.getLong(0), "insertIntoStoredBq")
    store.append(name, encoded)
    cnts.getLong(0)
  }

  // ----------------------------------------- centered-BQ retrain tier

  /** Per-dim THRESHOLD pack of dims [from, until): bit (i-from) =
    * (v[i] > thr(i)) — the centered-BQ quantizer ([[retrainStoredBq]]).
    * Same literal `when`-chain codegen shape as [[packSignBits]]; the
    * comparison lifts to double because the learned thresholds are
    * doubles (thr = 0 everywhere degenerates to the sign quantizer). */
  private def packThresholdBits(vec: Column, from: Int, until: Int,
                                thr: Array[Double]): Column =
    (from until until).map { i =>
      when(element_at(vec, i + 1).cast("double") > lit(thr(i)),
        lit(1L << (i - from))).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** Driver-side twin of [[packThresholdBits]] for the query vector. */
  private def packThresholdBitsLocal(v: Array[Float], from: Int, until: Int,
                                     thr: Array[Double]): Long = {
    var acc = 0L
    var i = from
    while (i < until && i < v.length) {
      if (v(i).toDouble > thr(i)) acc |= 1L << (i - from)
      i += 1
    }
    acc
  }

  /** Per-dim corpus MEANS via the repo's fixed-point long-sum discipline
    * ([[Clustering.Fp]] — integer addition commutes, so the mean is
    * independent of partial-agg merge order and bit-reproducible by the
    * gate oracle): `thr(i) = (Σ trunc(v_i·2²⁴)) / n / 2²⁴`. ONE
    * aggregation pass; the collect is dim rows. These are the centered-BQ
    * quantizer's only learned parameters — sign-at-mean beats
    * sign-at-zero exactly when dims carry non-zero means (the drift the
    * retrain verb exists to heal). */
  def bqThresholds(collection: DataFrame, vecCol: String,
                   dim: Int = 64): Array[Double] = {
    val fp = Clustering.Fp
    val rows = collection
      .select(posexplode(col(vecCol)).as(Seq("_pos", "_x")))
      .groupBy("_pos")
      .agg(sum((col("_x").cast("double") * fp).cast("long")).as("_s"),
        count(lit(1)).as("_n"))
      .collect()
    val thr = new Array[Double](dim)
    rows.foreach { r =>
      if (r.getInt(0) < dim)
        thr(r.getInt(0)) = r.getLong(1).toDouble / r.getLong(2) / fp
    }
    thr
  }

  /** The centered-signature projection — [[bqEncodeFor]] with learned
    * thresholds (one encode seam per quantizer generation). */
  def bqEncodeCentered(collection: DataFrame, vecCol: String, idCol: String,
                       thr: Array[Double], dim: Int = 64): DataFrame = {
    require(dim % 2 == 0 && dim <= 128, s"dim must be even and <= 128, got $dim")
    require(thr.length >= dim, s"need $dim thresholds, got ${thr.length}")
    val half = dim / 2
    collection.select(col(idCol),
      packThresholdBits(col(vecCol), 0, half, thr).as("bq_lo"),
      packThresholdBits(col(vecCol), half, dim, thr).as("bq_hi"))
  }

  /** Threshold sidecar — persisted WITH the index so the layout stays
    * self-describing across sessions (the [[writeStoredRouter]]
    * discipline; Double.toString round-trips exactly). */
  private val BqThresholdsFile = "_bq_thresholds.properties"

  private[graft] def writeBqThresholds(store: graft.store.VectorStore,
      name: String, thr: Array[Double]): Unit = {
    val props = new java.util.Properties()
    props.setProperty("dim", thr.length.toString)
    thr.zipWithIndex.foreach { case (t, i) =>
      props.setProperty(s"thr.$i", t.toString)
    }
    graft.store.StoreFs.forPath(store.root).writePropsAtomic(
      s"${store.root}/$name/$BqThresholdsFile", props,
      "graft centered-bq thresholds")
  }

  /** The persisted thresholds, or None for a sign-at-zero layout. */
  def readBqThresholds(store: graft.store.VectorStore,
                       name: String): Option[Array[Double]] =
    graft.store.StoreFs.forPath(store.root)
      .readProps(s"${store.root}/$name/$BqThresholdsFile")
      .map { props =>
        val dim = props.getProperty("dim").toInt
        Array.tabulate(dim)(i => props.getProperty(s"thr.$i").toDouble)
      }

  /** Periodic RETRAIN of a stored BQ signature index — the binary
    * quantizer's "new geometry" is its THRESHOLD VECTOR (the only
    * learned parameter a sign quantizer has): refit per-dim thresholds
    * at the corpus means ([[bqThresholds]] — centered BQ, the standard
    * fix when dims drift off zero mean and sign bits stop splitting the
    * data ~50/50), re-encode every signature, atomically swap, and
    * persist the thresholds as a sidecar so the layout stays
    * self-describing. Like [[retrainStoredSq]] the layout is codes-only
    * (16 bytes/vector), so the verb takes the authoritative vector
    * relation under the same cardinality contract. Returns the new
    * thresholds; search the retrained index through
    * [[bqSearchStoredCentered]] (the query must pack against the SAME
    * thresholds the signatures used). */
  def retrainStoredBq(spark: org.apache.spark.sql.SparkSession,
      store: graft.store.VectorStore, name: String, collection: DataFrame,
      vecCol: String, idCol: String, dim: Int = 64): Array[Double] = {
    val (nStore, hStore) = corpusDigest(store.read(spark, name), idCol)
    val (nColl, hColl) = corpusDigest(collection, idCol)
    require(nStore == nColl && hStore == hColl,
      s"retrainStoredBq: store '$name' holds $nStore rows (id digest " +
        s"$hStore) but the collection has $nColl ($hColl) — the retrain " +
        "corpus must be exactly the indexed corpus (codes-only layout; " +
        "see retrainStoredSq)")
    val thr = bqThresholds(collection, vecCol, dim)
    store.replace(name, bqEncodeCentered(collection, vecCol, idCol, thr, dim))
    writeBqThresholds(store, name, thr)
    thr
  }

  /** [[bqSearchStored]] over a CENTERED signature index: identical
    * Hamming pre-rank + exact-cosine rerank, with the query packed
    * against the index's learned thresholds. */
  def bqSearchStoredCentered(stored: DataFrame, collection: DataFrame,
      vecCol: String, idCol: String, queryVec: Array[Float],
      thr: Array[Double], k: Int = 10, rerank: Int = 4,
      dim: Int = 64): DataFrame = {
    val half = dim / 2
    val qlo = packThresholdBitsLocal(queryVec, 0, half, thr)
    val qhi = packThresholdBitsLocal(queryVec, half, dim, thr)
    val shortlist = stored
      .select(col(idCol),
        (bit_count(col("bq_lo").bitwiseXOR(lit(qlo))) +
          bit_count(col("bq_hi").bitwiseXOR(lit(qhi))))
          .cast("int").as("hamming"))
      .orderBy(col("hamming"), col(idCol))
      .limit(k * rerank)
    collection.select(col(idCol), col(vecCol))
      .join(broadcast(shortlist), Seq(idCol))
      .withColumn("cosine", round(cosine(col(vecCol), vecLit(queryVec)), 6))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("hamming"), col("cosine"))
  }

  /** Top-k over the STORED signature index: Hamming pre-rank reads ONLY
    * the 16-byte signature rows (column-pruned, never the vectors), the
    * rerank·k shortlist joins back to the raw collection for exact
    * cosine. Row-identical to [[bqTopK]] by construction — the stored
    * layout is invisible to the answer (gate-checked: same oracle SQL). */
  def bqSearchStored(stored: DataFrame, collection: DataFrame,
                     vecCol: String, idCol: String, queryVec: Array[Float],
                     k: Int = 10, rerank: Int = 4, dim: Int = 64): DataFrame = {
    val half = dim / 2
    val qlo = packSignBitsLocal(queryVec, 0, half)
    val qhi = packSignBitsLocal(queryVec, half, dim)
    val shortlist = stored
      .select(col(idCol),
        (bit_count(col("bq_lo").bitwiseXOR(lit(qlo))) +
          bit_count(col("bq_hi").bitwiseXOR(lit(qhi))))
          .cast("int").as("hamming"))
      .orderBy(col("hamming"), col(idCol))
      .limit(k * rerank)
    collection.select(col(idCol), col(vecCol))
      .join(broadcast(shortlist), Seq(idCol))
      .withColumn("cosine", round(cosine(col(vecCol), vecLit(queryVec)), 6))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("hamming"), col("cosine"))
  }

  /** Federated BQ search across N collections — the time-shard / tenant-
    * shard layout a 100 TB corpus actually lives in (daily collections,
    * per-tenant stores): each arm's stored signature index produces its
    * own k·rerank Hamming shortlist (a per-arm TakeOrderedAndProject
    * over the slim 16-byte signature scan — no arm reads another arm's
    * data, arms run as independent stages), the tagged shortlists
    * union, and ONE global exact-cosine rerank picks the cross-
    * collection top-k. Per-arm semantics are exactly
    * [[bqSearchStored]]'s pre-rank, so federation changes WHERE
    * shortlists come from, never how candidates score; the final rank
    * window runs over ≤ |arms|·k·rerank rows. Ties order by
    * (cosine desc, collection, id) — deterministic even when shards
    * share id ranges. */
  def bqSearchFederated(spark: org.apache.spark.sql.SparkSession,
                        store: graft.store.VectorStore,
                        arms: Seq[(String, String, DataFrame)],
                        vecCol: String, idCol: String, queryVec: Array[Float],
                        k: Int = 10, rerank: Int = 4, dim: Int = 64): DataFrame = {
    require(arms.nonEmpty, "bqSearchFederated: no arms")
    require(dim % 2 == 0 && dim <= 128, s"dim must be even and <= 128, got $dim")
    val half = dim / 2
    val qlo = packSignBitsLocal(queryVec, 0, half)
    val qhi = packSignBitsLocal(queryVec, half, dim)
    val fused = arms.map { case (tag, indexName, coll) =>
      val shortlist = store.read(spark, indexName)
        .select(col(idCol),
          (bit_count(col("bq_lo").bitwiseXOR(lit(qlo))) +
            bit_count(col("bq_hi").bitwiseXOR(lit(qhi))))
            .cast("int").as("hamming"))
        .orderBy(col("hamming"), col(idCol))
        .limit(k * rerank)
      coll.select(col(idCol), col(vecCol))
        .join(broadcast(shortlist), Seq(idCol))
        .withColumn("collection", lit(tag))
    }.reduce(_ unionByName _)
    val w = Window.orderBy(col("cosine").desc, col("collection"), col(idCol))
    fused
      .withColumn("cosine", round(cosine(col(vecCol), vecLit(queryVec)), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("collection"), col(idCol), col("hamming"), col("cosine"), col("rank"))
  }

  /** Batch BQ search — Q queries against ONE signature scan. The query
    * relation (small by contract — thousands of probes) broadcasts with
    * its signatures precomputed by the same expression; Hamming scores
    * map-side; the only shuffle carries slim (q_id, id, hamming) rows
    * into a per-query window rank (the [[bruteForceTopK]] posture), and
    * exact cosine reranks the per-query shortlists fetched back via an
    * id join. Per-query results equal the single-query [[bqTopK]] by
    * construction. */
  def bqTopKMany(collection: DataFrame, vecCol: String, idCol: String,
                 queries: DataFrame, qIdCol: String, qVecCol: String,
                 k: Int = 10, rerank: Int = 4, dim: Int = 64): DataFrame = {
    require(dim % 2 == 0 && dim <= 128, s"dim must be even and <= 128, got $dim")
    val half = dim / 2
    val qSig = queries.select(col(qIdCol), col(qVecCol),
      packSignBits(col(qVecCol), 0, half).as("_qlo"),
      packSignBits(col(qVecCol), half, dim).as("_qhi"))
    val scored = collection
      .select(col(idCol),
        packSignBits(col(vecCol), 0, half).as("_lo"),
        packSignBits(col(vecCol), half, dim).as("_hi"))
      .crossJoin(broadcast(qSig))
      .select(col(qIdCol), col(idCol),
        (bit_count(col("_lo").bitwiseXOR(col("_qlo"))) +
          bit_count(col("_hi").bitwiseXOR(col("_qhi"))))
          .cast("int").as("hamming"))
    val wPre = Window.partitionBy(col(qIdCol))
      .orderBy(col("hamming"), col(idCol))
    val shortlist = scored.withColumn("_r", row_number().over(wPre))
      .filter(col("_r") <= k * rerank)
      .select(col(qIdCol), col(idCol), col("hamming"))
    val wFin = Window.partitionBy(col(qIdCol))
      .orderBy(col("cosine").desc, col(idCol))
    shortlist
      .join(collection.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(qSig.select(col(qIdCol), col(qVecCol))), Seq(qIdCol))
      .withColumn("cosine", round(cosine(col(vecCol), col(qVecCol)), 6))
      .withColumn("rank", row_number().over(wFin))
      .filter(col("rank") <= k)
      .select(col(qIdCol), col(idCol), col("hamming"), col("cosine"), col("rank"))
  }

  // ------------------------------------------------------- range search

  /** Radius query over the IVF layout: every vector in the probed cells
    * whose rounded cosine to the query clears `minCosine` — the "all
    * neighbors within a similarity band" verb (recommendation dedup,
    * near-dup audits) that top-k cannot express. Same probe arithmetic as
    * [[ivfTopK]]; the output is unbounded by design, so the operator
    * never collects — the result stays a filtered, partition-prunable
    * scan of nprobe/ncells of the collection. Approximation lives ONLY in
    * which cells are probed (deterministic quantizer ⇒ full-hash oracle);
    * neighbors outside the probed cells are the documented recall trade,
    * identical to every IVF member of the family. */
  def ivfRangeSearch(collection: DataFrame, vecCol: String, idCol: String,
                     queryVec: Array[Float], minCosine: Double,
                     ncells: Int = 16, nprobe: Int = 4,
                     trainIters: Int = 3): DataFrame = {
    val cents = trainCentroidArrays(collection, vecCol, idCol, ncells, trainIters)
    val qd = queryVec.map(_.toDouble)
    val probed = cents.sortBy(_._1).map { case (cid, c) =>
      var acc = 0.0
      var i = 0
      val n = math.min(qd.length, c.length)
      while (i < n) { val d = qd(i) - c(i).toDouble; acc += d * d; i += 1 }
      (acc, cid)
    }.sortBy(identity).take(nprobe).map(_._2)
    withCellId(collection, vecCol, cents)
      .filter(col("cell_id").isin(probed.map(Int.box).toIndexedSeq: _*))
      .withColumn("cosine", round(cosine(col(vecCol), vecLit(queryVec)), 6))
      .filter(col("cosine") >= minCosine)
      .select(col(idCol), col("cell_id").cast("int").as("cell_id"), col("cosine"))
  }

  /** LSH-bucketed cosine near-dup join — the scale path for
    * [[graft.operators.Dedup.embeddingNearDup]]: `nTables` independent
    * hyperplane signatures; vectors sharing a bucket in ANY table become
    * candidates (recall boosts exponentially with tables), then exact
    * cosine verifies. The shuffle key is (table, bucket) — fixed width —
    * and the quadratic term is confined to per-bucket collision groups.
    */
  def lshNearDupJoin(df: DataFrame, vecCol: String, idCol: String,
                     threshold: Double, nBits: Int = 8, nTables: Int = 8,
                     dim: Int = -1): DataFrame = {
    // EAGER localCheckpoint, not cache(): consumed by nTables signature
    // scans + both verification build sides, so it must be materialized
    // once — but a cache-manager entry the lazy result still references
    // can never be unpersisted by this operator, and a library operator
    // leaking cached relations into long-lived sessions is the bug class
    // the r6 dedup_clusters fix addressed. Checkpoint blocks are
    // GC-managed (ContextCleaner drops them when the plan is
    // unreferenced); the count() below is near-free on the materialized
    // RDD and doubles as the size probe for the broadcast gate.
    val base = df.select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .localCheckpoint(true)
    // dim <= 0 → derive from the data (one agg off the checkpointed
    // base; max() skips null vectors): the hyperplane dot products
    // silently truncate to min(dim, len) components, so a mismatched
    // default would degrade banded recall with no error. An empty (or
    // all-null) input short-circuits to an empty pair relation — .head
    // on it would throw where the old fixed default returned no rows.
    val dimActual =
      if (dim > 0) dim
      else base.agg(max(size(col("_v")))).head match {
        case r if r.isNullAt(0) => -1
        case r => r.getInt(0)
      }
    if (dimActual <= 0)
      return base.select(col("_id").as("id_a"), col("_id").as("id_b"),
        lit(0.0d).as("cosine")).limit(0)
    val estBytes = base.count() * (dimActual * 4L + 48L)
    val tables = (0 until nTables).map { t =>
      cosineLshBuckets(base, "_v", nBits, seed = 42L + t, dim = dimActual)
        .select(col("_id"), lit(t).as("_table"), col("lsh_bucket"))
    }.reduce(_ unionByName _)
    val candidates = tables.as("a")
      .join(tables.as("b"),
        col("a._table") === col("b._table") &&
          col("a.lsh_bucket") === col("b.lsh_bucket") &&
          col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // size-gated broadcast of the (id -> vector) verification side: the
    // relation grows with the corpus, so over the cap the join falls back
    // to hash joins on the id key instead of OOMing (BroadcastGate)
    def side(id: String, vc: String) = BroadcastGate.maybeBroadcast(
      base.withColumnRenamed("_id", id).withColumnRenamed("_v", vc), estBytes)
    candidates
      .join(side("id_a", "_va"), "id_a")
      .join(side("id_b", "_vb"), "id_b")
      // the repo's cross-engine floor-form rounding, NOT round(x, 6):
      // HALF_UP disagrees with the exact branches at negative-cosine
      // boundaries, so one rounding rule must serve every near-dup path
      .withColumn("cosine", floor(cosine(col("_va"), col("_vb")) * 1e6 + 0.5) / 1e6)
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Matryoshka (MRL) two-stage retrieval: embeddings trained with
    * matryoshka representation learning rank usefully under a PREFIX of
    * their dimensions, so the coarse pass scores only the first
    * `coarseDim` dims (a cheap scan — in a production layout the prefix
    * is stored as its own column so the coarse scan READS only
    * coarseDim/dim of the vector bytes; here the slice happens in-plan,
    * which still cuts the arithmetic 4× at coarseDim=16/64), keeps the
    * best `coarseK` candidates, and rescores ONLY those with the full
    * vector. Cost: one prefix-cosine scan + TakeOrdered(coarseK), then
    * O(coarseK) full-dim work — never a second corpus pass.
    *
    * Determinism: both stages round with the floor form at 6 BEFORE
    * ranking and break ties by id, so the coarse survivor SET is exact
    * — the property that lets the gate oracle restate the whole
    * cascade. Output carries both scores (the recall diagnostic: a
    * coarse-vs-full rank flip is visible per row). */
  def matryoshkaTopK(collection: DataFrame, vecCol: String, idCol: String,
                     qv: Array[Float], k: Int, coarseDim: Int,
                     coarseK: Int): DataFrame = {
    require(coarseDim > 0 && coarseDim < qv.length,
      s"coarseDim must be a strict prefix: got $coarseDim of ${qv.length}")
    require(coarseK >= k, "coarseK must be at least k")
    val rounded = (c: Column) => floor(c * 1e6 + 0.5) / 1e6
    val coarse = collection
      .withColumn("coarse",
        rounded(cosine(slice(col(vecCol), 1, coarseDim), vecLit(qv.take(coarseDim)))))
      .orderBy(col("coarse").desc, col(idCol))
      .limit(coarseK)
    coarse
      .withColumn("score", rounded(cosine(col(vecCol), vecLit(qv))))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("coarse"), col("score"))
  }

  /** Recommend-by-examples, average-vector strategy (the classic
    * Rocchio relevance-feedback query form, the shape vector stores
    * expose as `recommend(positive=[ids], negative=[ids])`): the query
    * vector is synthesized FROM STORED POINTS — mean(positives) pushed
    * away from mean(negatives), `q = 2·mean(pos) − mean(neg)` (equals
    * `mean(pos) + (mean(pos) − mean(neg))`, positives-only degenerates
    * to the plain centroid) — then one exact cosine top-k over the
    * collection with the example ids excluded.
    *
    * Scale shape: the example fetch is an id-IN pushdown collect of a
    * handful of rows (never a scan the driver holds), the synthesized
    * query is a LITERAL in the plan, and the ranking is the
    * one-scan broadcast-free codegen'd cosine + TakeOrdered of every
    * exact-kNN verb — no shuffle wider than the top-k heap merge.
    *
    * Determinism: the means use the repo's fixed-point long-sum
    * discipline ([[graft.operators.Clustering.Fp]] — integer addition
    * commutes, so the mean is independent of row arrival order), the
    * double arithmetic deriving `q` is the same op sequence the oracle
    * states, and the result is quantized to float32 so both engines
    * rank against bit-identical query literals (the Lloyd-oracle
    * precedent). Cosine rounds at 6 with the floor form; id tiebreak. */
  def recommendByExamples(collection: DataFrame, vecCol: String, idCol: String,
                          positiveIds: Seq[Long], negativeIds: Seq[Long],
                          k: Int): DataFrame = {
    require(positiveIds.nonEmpty, "recommend needs at least one positive example")
    require(positiveIds.distinct.length == positiveIds.length &&
      negativeIds.distinct.length == negativeIds.length,
      "duplicate ids within an example set would silently weight the mean")
    require(positiveIds.intersect(negativeIds).isEmpty,
      "positive and negative example sets must be disjoint")
    val fp = graft.operators.Clustering.Fp
    val exampleIds = positiveIds ++ negativeIds
    val rows = collection
      .filter(col(idCol).isin(exampleIds: _*))
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .collect()
    require(rows.length == exampleIds.distinct.length,
      s"expected ${exampleIds.distinct.length} example rows, found ${rows.length}")
    val vecs = rows.map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val dim = vecs.head._2.length
    def fpMean(ids: Seq[Long]): Array[Double] = {
      val sums = new Array[Long](dim)
      ids.foreach { id =>
        val v = vecs(id)
        var i = 0
        while (i < dim) { sums(i) += math.floor(v(i).toDouble * fp).toLong; i += 1 }
      }
      sums.map(s => s.toDouble / ids.length / fp)
    }
    val ap = fpMean(positiveIds)
    val qv: Array[Float] =
      if (negativeIds.isEmpty) ap.map(_.toFloat)
      else {
        val an = fpMean(negativeIds)
        Array.tabulate(dim)(i => (2.0 * ap(i) - an(i)).toFloat)
      }
    collection
      .filter(!col(idCol).isin(exampleIds: _*))
      .withColumn("score", floor(cosine(col(vecCol), vecLit(qv)) * 1e6 + 0.5) / 1e6)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("score"))
  }

  /** Named-vectors search (the Qdrant/Weaviate multi-vector point
    * shape): a point carries SEVERAL embedding spaces ("title", "body",
    * an image tower …) and a query addresses a weighted subset of them
    * — `score = Σ_arm w_arm · cosine(vec_arm, q_arm)`, each arm's
    * cosine rounded at 6 BEFORE the weighting (floor form), the mix
    * floor-rounded once more. ONE scan: every arm's distance folds into
    * the same projection (|arms| codegen'd cosines per row, no joins,
    * no shuffle before the top-k heap merge), so adding a named vector
    * costs arithmetic, not passes.
    *
    * `arms` = (vector column, query vector, weight). Weights need not
    * sum to 1 — callers own the calibration. */
  def namedVectorsTopK(collection: DataFrame, idCol: String,
                       arms: Seq[(String, Array[Float], Double)],
                       k: Int): DataFrame = {
    require(arms.nonEmpty, "named-vector search needs at least one arm")
    require(arms.map(_._1).distinct.length == arms.length,
      "duplicate vector columns in the arm list")
    val rounded = (c: Column) => floor(c * 1e6 + 0.5) / 1e6
    val score = arms.map { case (vc, qv, w) =>
      lit(w) * rounded(cosine(col(vc), vecLit(qv)))
    }.reduce(_ + _)
    collection
      .withColumn("score", rounded(score))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("score"))
  }

  /** Discovery search (the vector-store `discover` verb): rank by
    * similarity to a TARGET point, but only among candidates that every
    * context pair places on its positive side — for each `(pos, neg)`
    * pair the candidate must be strictly closer (rounded cosine) to
    * `pos` than to `neg`. Context pairs carve the search space
    * ("things like the target, but in the region my feedback approves
    * of"); with no pairs this degenerates to exact kNN from a stored
    * point.
    *
    * Scale shape: examples are an id-IN pushdown fetch of a handful of
    * rows; every pair sim and the target sim fold into ONE projection
    * over ONE scan (2·|pairs|+1 codegen'd cosines per row, no joins, no
    * shuffle before the top-k heap merge).
    *
    * Determinism: every cosine rounds at 6 with the floor form BEFORE
    * the strict comparison — so the pass/fail cut is on identical
    * rounded micro-units in both engines (a tie fails the pair, a
    * deterministic rule rather than a float knife-edge); id tiebreak on
    * the final order. */
  def discoverTopK(collection: DataFrame, vecCol: String, idCol: String,
                   targetId: Long, pairs: Seq[(Long, Long)], k: Int): DataFrame = {
    require(pairs.forall(p => p._1 != p._2),
      "a context pair must have distinct positive and negative ids")
    val exampleIds = (targetId +: pairs.flatMap(p => Seq(p._1, p._2))).distinct
    val rows = collection
      .filter(col(idCol).isin(exampleIds.map(Long.box): _*))
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .collect()
    require(rows.length == exampleIds.length,
      s"expected ${exampleIds.length} example rows, found ${rows.length}")
    val vecs = rows.map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def simTo(id: Long): Column =
      floor(cosine(col(vecCol), vecLit(vecs(id))) * 1e6 + 0.5) / 1e6
    val inContext = pairs
      .map { case (p, n) => simTo(p) > simTo(n) }
      .foldLeft(lit(true))(_ && _)
    collection
      .filter(!col(idCol).isin(exampleIds.map(Long.box): _*))
      .filter(inContext)
      .withColumn("score", simTo(targetId))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("score"))
  }

  /** Recommend-by-examples, best-score strategy: instead of collapsing
    * the examples into one query point (which averages away multi-modal
    * preference sets), each candidate is scored against EVERY example —
    * `sPos = max cosine over positives`, `sNeg = max over negatives` —
    * and ranked by `if (sPos >= sNeg) sPos else −sNeg`: a candidate
    * closer to any negative than to every positive is pushed to the
    * bottom, ordered by how strongly the nearest negative claims it.
    *
    * Scale shape: ONE scan of the collection against a LITERAL example
    * matrix — the per-row max-over-examples folds inside the projection
    * (`greatest` over codegen'd cosines, no explode, no join, no
    * shuffle before the top-k heap merge), so cost is O(rows · examples)
    * map-side with examples bounded to a handful.
    *
    * Determinism: each pairwise cosine rounds at 6 BEFORE the max
    * (mirroring the oracle's max-of-rounded), `greatest` is exact on
    * the rounded micro-units, id tiebreak on the final order. */
  def recommendBestScore(collection: DataFrame, vecCol: String, idCol: String,
                         positiveIds: Seq[Long], negativeIds: Seq[Long],
                         k: Int): DataFrame = {
    require(positiveIds.nonEmpty, "recommend needs at least one positive example")
    require(positiveIds.distinct.length == positiveIds.length &&
      negativeIds.distinct.length == negativeIds.length,
      "duplicate ids within an example set would silently weight the mean")
    require(positiveIds.intersect(negativeIds).isEmpty,
      "positive and negative example sets must be disjoint")
    val exampleIds = positiveIds ++ negativeIds
    val rows = collection
      .filter(col(idCol).isin(exampleIds: _*))
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .collect()
    require(rows.length == exampleIds.distinct.length,
      s"expected ${exampleIds.distinct.length} example rows, found ${rows.length}")
    val vecs = rows.map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def simTo(id: Long): Column =
      floor(cosine(col(vecCol), vecLit(vecs(id))) * 1e6 + 0.5) / 1e6
    val sPos = positiveIds.map(simTo) match {
      case Seq(one) => one
      case many     => greatest(many: _*)
    }
    val base = collection.filter(!col(idCol).isin(exampleIds: _*))
    val scored =
      if (negativeIds.isEmpty) base.withColumn("score", sPos)
      else {
        val sNeg = negativeIds.map(simTo) match {
          case Seq(one) => one
          case many     => greatest(many: _*)
        }
        base.withColumn("score", when(sPos >= sNeg, sPos).otherwise(-sNeg))
      }
    scored
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("score"))
  }
}
