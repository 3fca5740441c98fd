package graft

import graft.functions.VectorFunctions._
import graft.operators.Similarity
import graft.plans.{AnnCatalog, AnnProbe, AnnProbeRule}
import org.apache.spark.sql.functions._

/** The ANN probe optimizer rule: ORDER BY l2sq LIMIT k over an indexed
  * collection gets a cell_id IN (...) probe filter injected below the
  * sort, turning brute-force kNN into an IVF scan of nprobe/ncells of the
  * data. Registration is per-session and scope-bounded (AnnProbe.withProbe).
  */
class AnnProbeSpec extends SparkSpec {

  override lazy val spark = {
    val s = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.experimental.extraOptimizations =
      s.experimental.extraOptimizations :+ AnnProbeRule
    s
  }

  private def indexed() = {
    val e = Tables.embeddings(spark, sf)
    val cents = Similarity.trainCentroidArrays(e, "embedding", "vec_id", ncells = 8)
    (Similarity.withCellId(e, "embedding", cents), cents)
  }

  private def qv: Array[Float] = {
    val s = spark; import s.implicits._
    Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select("embedding").as[Array[Float]].head()
  }

  test("rule injects probe filter for inline sort key and shrinks the scan") {
    val (idx, cents) = indexed()
    AnnCatalog.register(spark, cents, nprobe = 2)
    try {
      val q = idx.orderBy(l2Sq(col("embedding"), vecLit(qv))).limit(5)
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("cell_id") && optimized.contains("IN ("),
        s"probe filter not injected:\n$optimized")
      val s = spark; import s.implicits._
      val got = q.select("vec_id").as[Long].collect().toSet
      assert(got.size == 5)
      // the query's own vector (distance 0) lives in the nearest cell ->
      // must survive the probe and rank first
      assert(got.contains(0L))
    } finally AnnCatalog.clear(spark)
  }

  test("rule matches the orderBy(dist).limit(k).select(cols) shape (Project between limit and sort)") {
    // column pruning pushes a trailing .select between the limit and
    // the sort — the most natural user spelling. Until round 10 this
    // shape silently ran UNREWRITTEN (exact full scan): right answer,
    // none of the probe pruning — caught when the ann_probe_knn oracle
    // landed and the gate answer was exact-top-10, not probed-top-10.
    val (idx, cents) = indexed()
    AnnCatalog.register(spark, cents, nprobe = 2)
    try {
      val q = idx.orderBy(l2Sq(col("embedding"), vecLit(qv))).limit(5)
        .select("vec_id", "cell_id")
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("cell_id") && optimized.contains("IN ("),
        s"probe filter not injected through the interposed Project:\n$optimized")
      val got = q.collect().map(_.getLong(0)).toSet
      assert(got.size == 5 && got.contains(0L))
    } finally AnnCatalog.clear(spark)
  }

  test("rule matches the withColumn(distance).orderBy shape too") {
    val (idx, cents) = indexed()
    AnnCatalog.register(spark, cents, nprobe = 2)
    try {
      val q = idx.withColumn("distance", l2Sq(col("embedding"), vecLit(qv)))
        .orderBy("distance").limit(5)
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("cell_id") && optimized.contains("IN ("),
        s"probe filter not injected:\n$optimized")
      assert(q.count() == 5)
    } finally AnnCatalog.clear(spark)
  }

  test("no registration -> no rewrite; unindexed plan untouched") {
    AnnCatalog.clear(spark)
    val (idx, _) = indexed()
    val q = idx.orderBy(l2Sq(col("embedding"), vecLit(qv))).limit(5)
    assert(!q.queryExecution.optimizedPlan.toString.contains("IN ("))
    // plain collection without cell_id, with catalog registered
    val (_, cents) = indexed()
    AnnCatalog.register(spark, cents, nprobe = 2)
    try {
      val plain = Tables.embeddings(spark, sf)
        .orderBy(l2Sq(col("embedding"), vecLit(qv))).limit(5)
      assert(!plain.queryExecution.optimizedPlan.toString.contains("IN ("))
      assert(plain.count() == 5)
    } finally AnnCatalog.clear(spark)
  }

  test("probed top-k equals brute force when probes cover the true cells") {
    val (idx, cents) = indexed()
    // nprobe = ncells -> probe everything -> exact result set
    AnnCatalog.register(spark, cents, nprobe = 8)
    try {
      val s = spark; import s.implicits._
      val probed = idx.orderBy(l2Sq(col("embedding"), vecLit(qv))).limit(10)
        .select("vec_id").as[Long].collect().toSet
      AnnCatalog.clear(spark)
      val exact = idx.orderBy(l2Sq(col("embedding"), vecLit(qv))).limit(10)
        .select("vec_id").as[Long].collect().toSet
      assert(probed == exact)
    } finally AnnCatalog.clear(spark)
  }

  test("stored IVF layout: probe filter prunes PARTITIONS, not just rows") {
    val root = java.nio.file.Files.createTempDirectory("annprobe_store").toString
    val store = graft.store.VectorStore(root)
    try {
      val e = Tables.embeddings(spark, sf)
      val cents = Similarity.buildIvfIndex(store, "vectors", e, "embedding", "vec_id",
        ncells = 8)
      AnnCatalog.register(spark, cents, nprobe = 2)
      try {
        val q = store.read(spark, "vectors")
          .orderBy(l2Sq(col("embedding"), vecLit(qv))).limit(5)
        // the injected cell_id IN (...) must land in the parquet scan's
        // PartitionFilters — a DATA filter would still open every file
        val scans = q.queryExecution.executedPlan.collectLeaves().collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
        assert(scans.nonEmpty, "no FileSourceScanExec found")
        val scan = scans.head
        assert(scan.partitionFilters.exists(_.references.exists(_.name == "cell_id")),
          s"cell_id probe is not a partition filter: ${scan.partitionFilters}")
        // and it genuinely prunes: 2 probed cells out of 8 on disk
        assert(scan.selectedPartitions.partitionCount == 2,
          s"expected 2 probed partitions, scanned ${scan.selectedPartitions.partitionCount}")
        val cellDirs = new java.io.File(s"$root/vectors").listFiles()
          .count(_.getName.startsWith("cell_id="))
        assert(cellDirs == 8, s"expected 8 cell partitions on disk, found $cellDirs")
        // the query vector's own cell survives the probe -> vec 0 ranks first
        val s = spark; import s.implicits._
        val got = q.select("vec_id").as[Long].collect()
        assert(got.length == 5 && got.head == 0L)
      } finally AnnCatalog.clear(spark)
    } finally store.destroy()
  }

  test("SQ top-10 recall vs exact kNN; plan is TakeOrderedAndProject") {
    // int8 quantization of unit-scale 64-dim vectors is near-exact:
    // measured overlap with exact l2 top-10 is 0.90 at sf0.001 (the one
    // miss is a sub-1e-4 distance tie at ranks 10/11); pin >= 0.8 so a
    // broken quantizer fails while corpus drift does not
    val q = GraftQueries.all("ann_sq_topk")(spark, sf)
    val p = q.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("TakeOrderedAndProject"), s"top-10 not TakeOrdered:\n$p")
    val sq = q.collect().map(_.getLong(0)).toSet
    val e = Tables.embeddings(spark, sf)
    val qv = broadcast(e.filter(col("vec_id") === 0).select(col("embedding").as("qv")))
    val exact = e.filter(col("vec_id") =!= 0).crossJoin(qv)
      .withColumn("d", graft.functions.VectorFunctions.l2Sq(col("embedding"), col("qv")))
      .orderBy(col("d"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val overlap = sq.intersect(exact).size / 10.0
    info(f"SQ top-10 overlap with exact: $overlap%.2f")
    assert(overlap >= 0.8, f"SQ recall degraded: $overlap%.2f")
  }

  test("stored SQ: probe prunes partitions, code-only scan, recall@10 >= 0.9") {
    val d = "/root/testdata/sf0.1"
    val root = java.nio.file.Files.createTempDirectory("annsq_store").toString
    val store = graft.store.VectorStore(root)
    val e = Tables.embeddings(spark, d).cache()
    try {
      val (cents, mins, maxs) = Similarity.buildIvfSqIndex(
        store, "vsq", e, "embedding", "vec_id")
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head.getSeq[Float](0).map(_.toDouble).toArray
      val stored = Similarity.sqSearchStored(
        store.read(spark, "vsq").filter(col("vec_id") =!= 0),
        "vec_id", cents, mins, maxs, qv, k = 10, nprobe = 4)
      // the literal cell_id IN (probed) must land in PartitionFilters —
      // the scan lists only the probed cells' directories
      val scans = stored.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty, "no FileSourceScanExec over the stored SQ index")
      scans.foreach { scan =>
        assert(scan.partitionFilters.exists(_.references.exists(_.name == "cell_id")),
          s"probe is not a partition filter: ${scan.partitionFilters}")
        assert(scan.selectedPartitions.partitionCount <= 4,
          s"probe scanned ${scan.selectedPartitions.partitionCount} of 8 cells")
        // the byte budget: the ADC scan reads 1-byte/dim codes, never a
        // full-precision vector column
        assert(!scan.schema.fieldNames.contains("embedding"),
          s"stored-SQ scan reads full vectors: ${scan.schema.fieldNames.mkString(",")}")
      }
      val cellDirs = new java.io.File(s"$root/vsq").listFiles()
        .count(_.getName.startsWith("cell_id="))
      assert(cellDirs == 8, s"expected 8 cell partitions on disk, found $cellDirs")
      val got = stored.collect().map(_.getLong(0)).toSet
      val qb = broadcast(e.filter(col("vec_id") === 0).select(col("embedding").as("qv")))
      val exact = e.filter(col("vec_id") =!= 0).crossJoin(qb)
        .withColumn("dd", graft.functions.VectorFunctions.l2Sq(col("embedding"), col("qv")))
        .orderBy(col("dd"), col("vec_id")).limit(10)
        .collect().map(_.getLong(0)).toSet
      val recall = got.intersect(exact).size / 10.0
      info(f"stored-SQ recall@10 vs exact: $recall%.2f (nprobe 4/8)")
      assert(recall >= 0.9, f"stored-SQ recall degraded: $recall%.2f")
    } finally { e.unpersist(); store.destroy() }
  }

  test("graph ANN: recall@10 >= 0.9, beam touches a fraction of probed cells, deterministic") {
    val d = "/root/testdata/sf0.1"
    val e = Tables.embeddings(spark, d).cache()
    try {
      val (graph0, cents) = graft.operators.GraphAnn.buildGraph(
        e.filter(col("vec_id") =!= 0), "embedding", "vec_id", ncells = 8, m = 8,
        centroids = Some(graft.operators.Clustering.trainCentroids(e, 8, 2)))
      // hits and stats both derive from the walk — materialize the graph
      // once so the spec's two actions don't rebuild it
      val graph = graph0.localCheckpoint(true)
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head.getSeq[Float](0).map(_.toDouble).toArray
      val (hits, stats) = graft.operators.GraphAnn.searchWithStats(
        graph, cents, qv, k = 10, nprobe = 4, ef = 48)
      val got = hits.collect().map(_.getLong(0))
      val qb = broadcast(e.filter(col("vec_id") === 0).select(col("embedding").as("qv")))
      val exact = e.filter(col("vec_id") =!= 0).crossJoin(qb)
        .withColumn("dd", graft.functions.VectorFunctions.l2Sq(col("embedding"), col("qv")))
        .orderBy(col("dd"), col("vec_id")).limit(10)
        .collect().map(_.getLong(0)).toSet
      val recall = got.toSet.intersect(exact).size / 10.0
      // diagnostic: how much of the loss is ROUTING (true neighbors in
      // non-probed cells) vs the WALK (missed inside a probed cell)?
      val probedSet = graft.operators.Similarity.sqProbeCells(cents, qv, 4).toSet
      val cellOf = e.filter(col("vec_id") =!= 0)
        .withColumn("_a", graft.operators.Clustering.assignStruct(col("embedding"), cents))
        .select(col("vec_id"), col("_a").getField("cid").as("cid"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val inProbed = exact.count(id => probedSet.contains(cellOf(id)))
      info(s"exact top-10 in probed cells: $inProbed/10 (routing ceiling)")
      // the property that distinguishes a graph walk from IVF's
      // scan-the-cell: per-cell distance evaluations are bounded by the
      // BEAM (ef x avg degree), INDEPENDENT of cell population — at
      // gate-scale cells (~240 nodes) that still touches a majority,
      // but the same walk over a million-node cell does the same
      // absolute work. Pin both forms: strictly fewer than the probed
      // population, and under the ef x (m+2) work bound per cell.
      val st = stats.collect().map(r => (r.getInt(1), r.getInt(2)))
      val nodes = st.map(_._1).sum
      val evals = st.map(_._2).sum
      info(f"graph-ANN recall@10 $recall%.2f; evals $evals of $nodes probed nodes " +
        f"(${evals * 100.0 / nodes}%.0f%%)")
      assert(recall >= 0.9, f"graph-ANN recall degraded: $recall%.2f")
      assert(evals < nodes, s"beam walk evaluated the whole probed population ($evals)")
      st.foreach { case (n, ev) =>
        assert(ev <= 48 * 10, s"cell of $n nodes: $ev evals exceeds the ef*(m+2) work bound")
      }
      // determinism: a second search returns the identical row set
      val hits2 = graft.operators.GraphAnn.search(
        graph, cents, qv, k = 10, nprobe = 4, ef = 48)
      assert(hits2.collect().map(_.getLong(0)).toSeq == got.toSeq)

      // stored layout: write cell-partitioned, probe must prune
      // partitions and return the identical result set
      val root = java.nio.file.Files.createTempDirectory("anngraph_store").toString
      val store = graft.store.VectorStore(root)
      try {
        store.create("graph", graph.toDF(), partitionBy = Seq("cell_id"))
        val sHits = graft.operators.GraphAnn.searchStored(
          store.read(spark, "graph"), cents, qv, k = 10, nprobe = 4, ef = 48)
        // the colocation repartition makes the plan adaptive — descend
        // through AdaptiveSparkPlanExec to reach the real scan
        def allScans(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
          p.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              allScans(a.executedPlan)
          }.flatten
        val scans = allScans(sHits.queryExecution.executedPlan)
        assert(scans.nonEmpty, "no FileSourceScanExec over the stored graph")
        scans.foreach { scan =>
          assert(scan.partitionFilters.exists(_.references.exists(_.name == "cell_id")),
            s"graph probe is not a partition filter: ${scan.partitionFilters}")
          assert(scan.selectedPartitions.partitionCount <= 4,
            s"graph probe scanned ${scan.selectedPartitions.partitionCount} of 8 cells")
        }
        assert(sHits.collect().map(_.getLong(0)).toSeq == got.toSeq,
          "stored graph search diverged from the inline graph")
      } finally store.destroy()
    } finally { e.unpersist(): Unit }
  }

  test("filtered graph ANN: over-fetch + post-filter recall vs exact filtered kNN") {
    val d = "/root/testdata/sf0.1"
    val e = Tables.embeddings(spark, d)
    val got = GraftQueries.all("ann_graph_filtered")(spark, d)
      .collect().map(_.getLong(0))
    assert(got.length == 10)
    val qb = broadcast(e.filter(col("vec_id") === 0).select(col("embedding").as("qv")))
    val exact = e.filter(col("vec_id") =!= 0 && col("label").isin(1, 2, 3))
      .crossJoin(qb)
      .withColumn("dd", graft.functions.VectorFunctions.l2Sq(col("embedding"), col("qv")))
      .orderBy(col("dd"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val recall = got.toSet.intersect(exact).size / 10.0
    info(f"filtered graph-ANN recall@10 vs exact filtered kNN: $recall%.2f")
    // post-filtering pays recall twice (routing + beam membership under
    // selectivity) — pin a floor that catches a broken filter/fetch
    // without tripping on corpus drift
    assert(recall >= 0.7, f"filtered graph-ANN recall degraded: $recall%.2f")
    // semantic guard: every returned row satisfies the filter
    GraftQueries.all("ann_graph_filtered")(spark, d).collect()
      .foreach(r => assert(Set(1, 2, 3).contains(r.getAs[Number](1).intValue)))
  }

  test("graph retrain: retrained store == from-scratch build at the new geometry") {
    import graft.operators.{Clustering, GraphAnn}
    val root = java.nio.file.Files.createTempDirectory("gret_spec").toString
    val store = graft.store.VectorStore(root)
    val e = Tables.embeddings(spark, sf).cache()
    try {
      val corpus = e.filter(col("vec_id") =!= 0)
      val cents8 = Clustering.trainCentroids(e, 8, 2)
      val (g0, _) = GraphAnn.buildGraph(
        corpus.filter(col("vec_id") % 10 =!= 7), "embedding", "vec_id",
        ncells = 8, m = 8, centroids = Some(cents8))
      store.create("graph", g0.toDF(), partitionBy = Seq("cell_id"))
      GraphAnn.insertIntoStored(store, "graph",
        corpus.filter(col("vec_id") % 10 === 7), "embedding", "vec_id", cents8): Unit
      val newCents = GraphAnn.retrainStored(spark, store, "graph", ncells = 4)
      assert(newCents.length == 4)
      // from-scratch reference at the new geometry over the same rows
      val (ref, refCents) = GraphAnn.buildGraph(corpus, "embedding", "vec_id",
        ncells = 4, m = 8)
      assert(newCents.map(_.toSeq).toSeq == refCents.map(_.toSeq).toSeq,
        "retrained router diverged from a from-scratch trainer")
      def nodes(df: org.apache.spark.sql.DataFrame) =
        df.select("id", "cell_id", "neighbors").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toSeq)).toSet
      assert(nodes(store.read(spark, "graph")) == nodes(ref.toDF()),
        "retrained graph diverged from a from-scratch build")
      // the walk with the NEW router answers identically too
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head.getSeq[Float](0).map(_.toDouble).toArray
      val ws = GraphAnn.searchStored(store.read(spark, "graph"), newCents, qv,
        k = 10, nprobe = 2, ef = 48).collect().toSeq
      val wr = GraphAnn.search(ref.localCheckpoint(true), refCents, qv,
        k = 10, nprobe = 2, ef = 48).collect().toSeq
      assert(ws == wr && ws.nonEmpty)
    } finally { e.unpersist(); store.destroy() }
  }

  test("streaming graph ingest: walk answers == batch-incremental maintenance") {
    import graft.operators.{Clustering, GraphAnn}
    val rootA = java.nio.file.Files.createTempDirectory("sgr_stream").toString
    val rootB = java.nio.file.Files.createTempDirectory("sgr_batch").toString
    val sa = graft.store.VectorStore(rootA)
    val sb = graft.store.VectorStore(rootB)
    val e = Tables.embeddings(spark, sf).cache()
    try {
      val cents = Clustering.trainCentroids(e, 8, 2)
      val standing = e.filter(col("vec_id") =!= 0 && col("vec_id") % 10 =!= 7)
      val arrivals = e.filter(col("vec_id") =!= 0 && col("vec_id") % 10 === 7)
      val (g0, _) = GraphAnn.buildGraph(standing, "embedding", "vec_id",
        ncells = 8, m = 8, centroids = Some(cents))
      val gdf = g0.toDF().localCheckpoint(true)
      sa.create("graph", gdf, partitionBy = Seq("cell_id"))
      sb.create("graph", gdf, partitionBy = Seq("cell_id"))
      // A: through the stream (incl. the two deterministic replays)
      graft.streaming.IndexStream.runStreamingGraphIngest(
        spark, s"$sf/embeddings.parquet", sa, "graph", cents)
      // B: the nightly batch verb
      GraphAnn.insertIntoStored(sb, "graph", arrivals, "embedding", "vec_id", cents)
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head.getSeq[Float](0).map(_.toDouble).toArray
      val wa = GraphAnn.searchStored(sa.read(spark, "graph"), cents, qv,
        k = 10, nprobe = 4, ef = 48).collect().toSeq
      val wb = GraphAnn.searchStored(sb.read(spark, "graph"), cents, qv,
        k = 10, nprobe = 4, ef = 48).collect().toSeq
      assert(wa == wb, "stream-maintained walk diverged from batch maintenance")
      assert(wa.nonEmpty)
      // and the store contents agree node-for-node (adjacency included);
      // select by NAME — a partitioned read appends cell_id last
      def nodes(st: graft.store.VectorStore) =
        st.read(spark, "graph").select("id", "cell_id", "neighbors").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toSeq)).toSet
      assert(nodes(sa) == nodes(sb),
        "stream-maintained graph nodes diverged from batch")
    } finally { e.unpersist(); sa.destroy(); sb.destroy() }
  }

  test("SQ/PQ incremental appends: untouched files immutable, search == full build, refusals") {
    import graft.operators.{Clustering, Similarity}
    val e = Tables.embeddings(spark, sf).cache()
    val rootA = java.nio.file.Files.createTempDirectory("sqpq_inc").toString
    val rootB = java.nio.file.Files.createTempDirectory("sqpq_full").toString
    val inc = graft.store.VectorStore(rootA)
    val full = graft.store.VectorStore(rootB)
    try {
      val standing = e.filter(col("vec_id") % 10 =!= 7)
      val arrivals = e.filter(col("vec_id") % 10 === 7)
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head.getSeq[Float](0).map(_.toDouble).toArray
      // ---- SQ: frozen full-corpus quantizer
      val cents = Clustering.trainCentroids(e, 8, 2, "vec_id", "embedding")
      val (mins, maxs) = Similarity.sqMinMax(e, "embedding")
      inc.create("sq", Similarity.sqAssignEncode(standing, "embedding",
        "vec_id", cents, mins, maxs), partitionBy = Seq("cell_id"))
      // key by PATH: dynamic-partition writes reuse one filename across
      // cell directories (same job uuid), so names collide across dirs
      val before = inc.dataFiles("sq")
        .map(f => f.getPath -> (f.length, f.lastModified)).toMap
      val touched = Similarity.insertIntoStoredSq(inc, "sq", arrivals,
        "embedding", "vec_id", cents, mins, maxs)
      assert(touched.nonEmpty)
      inc.dataFiles("sq").foreach { f =>
        before.get(f.getPath).foreach(meta =>
          assert((f.length, f.lastModified) == meta,
            s"SQ append rewrote pre-existing ${f.getPath}")) }
      full.create("sq", Similarity.sqAssignEncode(e, "embedding", "vec_id",
        cents, mins, maxs), partitionBy = Seq("cell_id"))
      val sInc = Similarity.sqSearchStored(inc.read(spark, "sq"), "vec_id",
        cents, mins, maxs, qv, 10, 4).collect().toSeq
      val sFull = Similarity.sqSearchStored(full.read(spark, "sq"), "vec_id",
        cents, mins, maxs, qv, 10, 4).collect().toSeq
      assert(sInc == sFull, "maintained SQ store diverged from a full build")
      intercept[IllegalArgumentException] {
        Similarity.insertIntoStoredSq(inc, "sq", arrivals.limit(1),
          "embedding", "vec_id", cents, mins, maxs)
      }
      // ---- PQ: frozen router + codebooks
      val (pc, cb) = Similarity.trainIvfPq(e, "embedding", "vec_id", ncells = 8)
      inc.create("pq", Similarity.pqEncode(standing, "embedding", "vec_id", pc, cb),
        partitionBy = Seq("cell_id"))
      val beforePq = inc.dataFiles("pq")
        .map(f => f.getPath -> (f.length, f.lastModified)).toMap
      Similarity.insertIntoStoredPq(inc, "pq", arrivals, "embedding", "vec_id", pc, cb): Unit
      inc.dataFiles("pq").foreach { f =>
        beforePq.get(f.getPath).foreach(meta =>
          assert((f.length, f.lastModified) == meta,
            s"PQ append rewrote pre-existing ${f.getPath}")) }
      full.create("pq", Similarity.pqEncode(e, "embedding", "vec_id", pc, cb),
        partitionBy = Seq("cell_id"))
      val q = e.filter(col("vec_id") === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val pInc = Similarity.pqSearchEncoded(inc.read(spark, "pq"), "embedding",
        "vec_id", pc, cb, q, "q_id", "q_vec", 10, 4).collect().toSeq
      val pFull = Similarity.pqSearchEncoded(full.read(spark, "pq"), "embedding",
        "vec_id", pc, cb, q, "q_id", "q_vec", 10, 4).collect().toSeq
      assert(pInc == pFull, "maintained PQ store diverged from a full build")
      intercept[IllegalArgumentException] {
        Similarity.insertIntoStoredPq(inc, "pq",
          arrivals.limit(1).unionAll(arrivals.limit(1)), "embedding", "vec_id", pc, cb)
      }
    } finally { e.unpersist(); inc.destroy(); full.destroy() }
  }

  test("adaptive filtered graph ANN: decision boundary, pre == exact, post recall") {
    import graft.operators.{Clustering, GraphAnn}
    val d = "/root/testdata/sf0.1"
    val root = java.nio.file.Files.createTempDirectory("anngraph_adapt").toString
    val store = graft.store.VectorStore(root)
    val e = Tables.embeddings(spark, d).cache()
    try {
      val corpus = e.filter(col("vec_id") =!= 0)
      val (g, cents) = GraphAnn.buildGraph(corpus, "embedding", "vec_id",
        ncells = 8, m = 8, centroids = Some(Clustering.trainCentroids(e, 8, 2)))
      store.create("graph", g.toDF(), partitionBy = Seq("cell_id"))
      val stored = store.read(spark, "graph")
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head.getSeq[Float](0).map(_.toDouble).toArray
      val qb = broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv")))
      def exactFiltered(pred: org.apache.spark.sql.Column): Set[Long] =
        corpus.filter(pred).crossJoin(qb)
          .withColumn("dd",
            graft.functions.VectorFunctions.l2Sq(col("embedding"), col("qv")))
          .orderBy(col("dd"), col("vec_id")).limit(10)
          .collect().map(_.getLong(0)).toSet
      // SELECTIVE (4% of ids): decision must take 'pre', and the pre
      // branch is EXACT — identity with exact filtered kNN, not a bound
      val selPred = col("vec_id") % 25 === 3
      val pre = GraphAnn.adaptiveFilteredSearch(stored, cents, qv,
        k = 10, nprobe = 4, ef = 48,
        allowed = corpus.filter(selPred).select("vec_id")).collect()
      assert(pre.forall(_.getString(3) == "pre"), "selective filter must pre-filter")
      assert(pre.map(_.getLong(0)).toSet == exactFiltered(selPred),
        "pre branch diverged from exact filtered kNN")
      // BROAD (3 of 5 labels): decision must take 'post' at production
      // config; recall floor matches the fixed-over-fetch pin (0.90
      // observed — assert the 0.9 the verdict bar names)
      val brdPred = col("label").isin(1, 2, 3)
      val post = GraphAnn.adaptiveFilteredSearch(stored, cents, qv,
        k = 10, nprobe = 4, ef = 48,
        allowed = corpus.filter(brdPred).select("vec_id")).collect()
      assert(post.forall(_.getString(3) == "post"), "broad filter must post-filter")
      val recall = post.map(_.getLong(0)).toSet
        .intersect(exactFiltered(brdPred)).size / 10.0
      info(f"adaptive post-branch recall@10: $recall%.2f")
      assert(recall >= 0.9, f"post-branch recall degraded: $recall%.2f")
      // decision boundary: exactly at m == 0.05·n the verb still
      // pre-filters (<=, not <) — pinned with an engineered allowed set
      val n = stored.count()
      val atBoundary = corpus.orderBy("vec_id").limit((n * 0.05).toInt)
        .select("vec_id")
      val boundary = GraphAnn.adaptiveFilteredSearch(stored, cents, qv,
        k = 10, nprobe = 4, ef = 48, allowed = atBoundary).collect()
      assert(boundary.forall(_.getString(3) == "pre"),
        "m == 0.05·n must still take the pre branch (<= boundary)")
    } finally { e.unpersist(); store.destroy() }
  }

  test("stored graph search survives cells sliced across read partitions") {
    // a parquet read partitions by FILE SPLITS: a cell written as many
    // files and read under a tiny maxPartitionBytes arrives sliced
    // across tasks. searchStored must re-colocate before walking —
    // without it, a partial cell walks with dangling adjacency.
    import graft.operators.{Clustering, GraphAnn}
    val root = java.nio.file.Files.createTempDirectory("anngraph_split").toString
    val store = graft.store.VectorStore(root)
    val e = Tables.embeddings(spark, sf).cache()
    val oldMax = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    try {
      val cents = Clustering.trainCentroids(e, 8, 2)
      val (g, _) = GraphAnn.buildGraph(e.filter(col("vec_id") =!= 0),
        "embedding", "vec_id", ncells = 8, m = 8, centroids = Some(cents))
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head.getSeq[Float](0).map(_.toDouble).toArray
      val inlineHits = GraphAnn.search(g.localCheckpoint(true), cents, qv,
        k = 10, nprobe = 4, ef = 48)
      val want = inlineHits.collect().map(_.getLong(0)).toSeq
      // many small files per cell: salt the writer's partitioning
      // explicit numPartitions: AQE must not coalesce the salt away
      store.create("graph",
        g.toDF().repartition(4, col("cell_id"), col("id") % 5),
        partitionBy = Seq("cell_id"))
      val filesPerCell = store.dataFiles("graph")
        .groupBy(_.getParentFile.getName).values.map(_.size)
      assert(filesPerCell.exists(_ > 1), "engineered layout failed to multi-file a cell")
      spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
      val read = store.read(spark, "graph")
      assert(read.rdd.getNumPartitions > 8,
        s"split engineering ineffective: ${read.rdd.getNumPartitions} partitions")
      val sHits = GraphAnn.searchStored(read, cents, qv, k = 10, nprobe = 4, ef = 48)
      assert(sHits.collect().map(_.getLong(0)).toSeq == want,
        "sliced-cell stored search diverged from the inline graph")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", oldMax)
      e.unpersist(); store.destroy()
    }
  }

  test("incremental graph insert: touched-cells-only rewrite, equals full rebuild") {
    import graft.operators.{Clustering, GraphAnn}
    val root = java.nio.file.Files.createTempDirectory("anngraph_inc").toString
    val store = graft.store.VectorStore(root)
    val e = Tables.embeddings(spark, sf).cache()
    try {
      val cents = Clustering.trainCentroids(e, 8, 2)
      // a SMALL batch (3 vectors) so some cells stay untouched — the
      // locality claim needs untouched partitions to observe
      val batchIds = Seq(101L, 202L, 303L)
      val standing = e.filter(!col("vec_id").isin(batchIds: _*))
      val batch = e.filter(col("vec_id").isin(batchIds: _*))
      val (g0, _) = GraphAnn.buildGraph(standing, "embedding", "vec_id",
        ncells = 8, m = 8, centroids = Some(cents))
      store.create("graph", g0.toDF(), partitionBy = Seq("cell_id"))
      val before = store.dataFiles("graph")
        .map(f => f.getPath -> (f.length, f.lastModified)).toMap
      val touched = GraphAnn.insertIntoStored(
        store, "graph", batch, "embedding", "vec_id", cents)
      assert(touched.nonEmpty && touched.size <= 3, s"batch of 3 touched $touched")
      // untouched cells' files must be byte-for-byte the ones written at
      // create time — the rewrite is partition-local
      val after = store.dataFiles("graph")
        .map(f => f.getPath -> (f.length, f.lastModified)).toMap
      val untouchedDirs = (0 until 8).filterNot(touched.contains).map(c => s"cell_id=$c")
      untouchedDirs.foreach { dir =>
        val b = before.filter(_._1.contains(dir))
        val a = after.filter(_._1.contains(dir))
        assert(b == a, s"untouched $dir was rewritten")
      }
      // canonical-build property: the maintained store equals a
      // from-scratch build over the FULL corpus, node for node
      val (gFull, _) = GraphAnn.buildGraph(e, "embedding", "vec_id",
        ncells = 8, m = 8, centroids = Some(cents))
      def nodeSet(df: org.apache.spark.sql.DataFrame) =
        df.select("cell_id", "id", "neighbors").collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toList)).toSet
      assert(nodeSet(store.read(spark, "graph")) == nodeSet(gFull.toDF()),
        "incrementally-maintained graph diverged from the from-scratch build")
    } finally { e.unpersist(); store.destroy() }
  }

  test("IVF recall@10 >= 0.9 vs brute force at sf0.1, nprobe=4/16") {
    // the quality bar for the approximate path, at the bench scale factor:
    // deterministic (seeded centroids + fixed-point training), so this is
    // a stable pin, not a flaky statistical test (measured: 1.00)
    val d = "/root/testdata/sf0.1"
    val e = Tables.embeddings(spark, d).cache()
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "vec_id").collect().groupBy(_.getLong(0))
        .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val exact = topSets(
      Similarity.bruteForceTopK(e, "embedding", "vec_id", q, "q_id", "q_vec", 10))
    val approx = topSets(
      Similarity.ivfTopK(e, "embedding", "vec_id", q, "q_id", "q_vec",
        k = 10, ncells = 16, nprobe = 4))
    val recalls = exact.map { case (k, ex) =>
      approx.getOrElse(k, Set.empty).intersect(ex).size.toDouble / ex.size }
    val avg = recalls.sum / recalls.size
    info(f"recall@10 per query: ${recalls.map(r => f"$r%.2f").mkString(", ")} (avg $avg%.3f)")
    assert(avg >= 0.9, f"IVF recall@10 degraded: $avg%.3f")
    e.unpersist()
  }

  test("hard-negative LSH recall@5 on planted structure; exact form agrees") {
    // Real contrastive hard negatives sit just under the near-dup ceiling
    // (cosine ~0.9), where hyperplane collision probability is high — so
    // recall is pinned on PLANTED structure: 5 negatives per anchor at
    // cosine ~0.9 over a random background. (The harness embeddings are
    // near-random — max non-self cosine ~0.4 — and NO candidate-pruning
    // scheme can have high recall at cosine 0.4; that degradation is a
    // property of structureless data, not of the plan.)
    val rnd = new scala.util.Random(7)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    def blend(a: Array[Float], w: Double): Array[Float] = {
      val noise = unit()
      val v = a.zip(noise).map { case (x, e) => (w * x + (1 - w) * e).toFloat }
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    // blend weight 0.67: cos(anchor, planted) = w/sqrt(w^2+(1-w)^2) ~ 0.9
    // — inside the [0.30, 0.98) negative band, below the near-dup ceiling
    val anchors = (0 until 10).map(i => (i * 1000L, unit()))
    val planted = anchors.flatMap { case (id, av) =>
      (1 to 5).map(j => (id + j, blend(av, 0.67)))
    }
    val background = (0 until 1000).map(i => (100000L + i, unit()))
    val s = spark; import s.implicits._
    val corpus = (anchors ++ planted ++ background).toDF("vec_id", "embedding")
    val aDf = anchors.toDF("anchor_id", "_av")
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("anchor_id", "vec_id").collect().groupBy(_.getLong(0))
        .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    // exact baseline with the mining semantics: band filter BEFORE the
    // rank window (bruteForceTopK ranks first, which would let the
    // anchor's own self-cosine burn a rank slot)
    val exactScored = corpus.crossJoin(broadcast(aDf))
      .filter(col("vec_id") =!= col("anchor_id"))
      .withColumn("cosine", round(cosine(col("embedding"), col("_av")), 6))
      .filter(col("cosine") >= 0.30 && col("cosine") < 0.98)
    val wE = org.apache.spark.sql.expressions.Window.partitionBy("anchor_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    val exact = topSets(exactScored
      .withColumn("rank", row_number().over(wE)).filter(col("rank") <= 5))
    val approx = topSets(Similarity.hardNegativesLsh(
      corpus, "embedding", "vec_id", aDf, "anchor_id", "_av",
      k = 5, lo = 0.30, hi = 0.98))
    val recalls = exact.map { case (k, ex) =>
      approx.getOrElse(k, Set.empty).intersect(ex).size.toDouble / ex.size }
    val avg = recalls.sum / recalls.size
    info(f"hard-negative recall@5 avg $avg%.3f over ${recalls.size} anchors")
    assert(avg >= 0.8, f"banded hard-negative recall degraded: $avg%.3f")
  }

  test("IVF-PQ recall@10 >= 0.85 vs brute force at sf0.1 (8-bit residual ADC)") {
    // the memory-bounded path scores from 8-byte codes, never the full
    // vector; deterministic training (md5-ordered sample, sequential
    // driver k-means) makes this a stable pin
    val d = "/root/testdata/sf0.1"
    val e = Tables.embeddings(spark, d).cache()
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "vec_id").collect().groupBy(_.getLong(0))
        .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val exact = topSets(
      Similarity.bruteForceTopK(e, "embedding", "vec_id", q, "q_id", "q_vec", 10))
    val approx = topSets(
      Similarity.ivfPqTopK(e, "embedding", "vec_id", q, "q_id", "q_vec",
        k = 10, ncells = 16, nprobe = 4))
    val recalls = exact.map { case (k, ex) =>
      approx.getOrElse(k, Set.empty).intersect(ex).size.toDouble / ex.size }
    val avg = recalls.sum / recalls.size
    info(f"IVF-PQ recall@10 per query: ${recalls.map(r => f"$r%.2f").mkString(", ")} (avg $avg%.3f)")
    assert(avg >= 0.85, f"IVF-PQ recall@10 degraded: $avg%.3f")
    e.unpersist()
  }

  test("stored IVF-PQ: probe prunes partitions, matches the inline form, recall@10 >= 0.9") {
    val d = "/root/testdata/sf0.1"
    val root = java.nio.file.Files.createTempDirectory("annpq_store").toString
    val store = graft.store.VectorStore(root)
    val e = Tables.embeddings(spark, d).cache()
    try {
      val (cents, cb) = Similarity.buildIvfPqIndex(store, "vpq", e,
        "embedding", "vec_id", ncells = 16)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val stored = Similarity.pqSearchEncoded(store.read(spark, "vpq"),
        "embedding", "vec_id", cents, cb, q, "q_id", "q_vec", k = 10, nprobe = 4)
      // the literal cell_id IN (probed) must land in PartitionFilters on
      // the stored layout — the scan lists only the probed cells' dirs.
      // (this plan has joins/windows, so AQE wraps it: descend through
      // AdaptiveSparkPlanExec to reach the real scans)
      def allScans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            allScans(a.executedPlan)
        }.flatten
      val scans = allScans(stored.queryExecution.executedPlan)
      assert(scans.nonEmpty, "no FileSourceScanExec over the stored index")
      scans.foreach { scan =>
        assert(scan.partitionFilters.exists(_.references.exists(_.name == "cell_id")),
          s"probe is not a partition filter: ${scan.partitionFilters}")
        assert(scan.selectedPartitions.partitionCount < 16,
          s"probe scanned all ${scan.selectedPartitions.partitionCount} cells")
      }
      // byte-budget pin: the ADC scan (the one reading pq_code) must NOT
      // read the vector column — column pruning is the '8 bytes per
      // candidate' half of the story; the vector column is only touched
      // by the separate bounded rerank-fetch scan
      val adcScans = scans.filter(_.schema.fieldNames.contains("pq_code"))
      assert(adcScans.nonEmpty, s"no scan reads pq_code: ${scans.map(_.schema.fieldNames.mkString("(", ",", ")"))}")
      adcScans.foreach { sc =>
        assert(!sc.schema.fieldNames.contains("embedding"),
          s"ADC scan reads the full vectors: ${sc.schema.fieldNames.mkString(",")}")
      }
      def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
        df.select("q_id", "vec_id").collect().groupBy(_.getLong(0))
          .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
      // stored search == inline search (same training, same scoring)
      val inline = topSets(Similarity.ivfPqTopK(e, "embedding", "vec_id",
        q, "q_id", "q_vec", k = 10, ncells = 16, nprobe = 4))
      val storedSets = topSets(stored)
      assert(storedSets == inline,
        s"stored/inline divergence: ${storedSets.toSet.diff(inline.toSet)}")
      val exact = topSets(
        Similarity.bruteForceTopK(e, "embedding", "vec_id", q, "q_id", "q_vec", 10))
      val recalls = exact.map { case (k, ex) =>
        storedSets.getOrElse(k, Set.empty).intersect(ex).size.toDouble / ex.size }
      val avg = recalls.sum / recalls.size
      info(f"stored IVF-PQ recall@10 avg $avg%.3f")
      assert(avg >= 0.9, f"stored IVF-PQ recall@10 degraded: $avg%.3f")
    } finally { e.unpersist(); store.destroy() }
  }

  test("ANN registry queries leave no cached relation behind (long-lived sessions)") {
    // r5 ADVICE class: .cache() without unpersist accumulates in the
    // session cache manager; bench's clearCache masks it, real sessions
    // don't. All three caching ANN queries now eagerize + unpersist.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Seq("ann_ivf", "ann_probe_knn", "ann_ivfpq").foreach { name =>
      val out = SparkEntry.queries(name)(spark, sf)
      assert(out.count() > 0)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"$name left persistent RDDs behind: $leaked")
    }
  }

  test("withProbe scope unregisters the rule and catalog on exit") {
    val base = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    // a session with NO manually-registered rule
    val s2 = base.newSession()
    val e = Tables.embeddings(s2, sf)
    val cents = Similarity.trainCentroidArrays(e, "embedding", "vec_id", ncells = 8)
    val idx = Similarity.withCellId(e, "embedding", cents)
    val inScope = AnnProbe.withProbe(s2, cents, nprobe = 2) {
      idx.orderBy(l2Sq(col("embedding"), vecLit(qv))).limit(5)
        .queryExecution.optimizedPlan.toString
    }
    assert(inScope.contains("cell_id") && inScope.contains("IN ("))
    // after the scope: rule gone, catalog empty -> identical query NOT rewritten
    assert(AnnCatalog.get(s2).isEmpty)
    assert(!s2.experimental.extraOptimizations.contains(AnnProbeRule))
    val after = idx.orderBy(l2Sq(col("embedding"), vecLit(qv))).limit(5)
      .queryExecution.optimizedPlan.toString
    assert(!after.contains("IN ("))
  }

  test("giant-cell guard: engineered mega-cell splits to bounded per-task members") {
    import graft.operators.GraphAnn
    val s = spark; import s.implicits._
    // 500 near-dup vectors (boilerplate cluster) + 100 background: with
    // ncells=4 the cluster concentrates one cell far over the cap — the
    // exact degenerate case the guard exists for
    val rnd = new scala.util.Random(42)
    def unit(dim: Int): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val base = unit(16)
    val cluster = (0 until 500).map { i =>
      val v = base.zip(unit(16)).map { case (b, e) => b + 0.05f * e }
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      (i.toLong, v.map(_ / n))
    }
    val background = (0 until 100).map(i => (1000L + i, unit(16)))
    val corpus = (cluster ++ background).toDF("vec_id", "embedding")
    val cap = 100
    val (graph, cents) = GraphAnn.buildGraph(corpus, "embedding", "vec_id",
      ncells = 4, m = 8, maxCellSize = cap)
    val g = graph.localCheckpoint(true)
    // the guard's whole point: no single task materializes an unbounded
    // cell — every cell's population is at or under the cap
    val sizes = g.toDF().groupBy("cell_id").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    info(s"cells after guard: ${sizes.toSeq.sortBy(_._1).mkString(", ")} (cents ${cents.length})")
    assert(cents.length > 4, "guard did not sub-quantize the mega-cell")
    assert(sizes.values.max <= cap,
      s"guard left an oversized cell: ${sizes.values.max} > $cap")
    assert(sizes.values.sum == 600L, "guard lost/duplicated members")
    // search quality survives the split: query at the cluster center
    val qv = base.map(_.toDouble)
    val hits = GraphAnn.search(g, cents, qv, k = 10, nprobe = 6, ef = 48)
    val got = hits.collect().map(_.getLong(0)).toSet
    val exact = corpus
      .withColumn("dd", graft.functions.VectorFunctions.l2Sq(col("embedding"),
        graft.functions.VectorFunctions.vecLit(base)))
      .orderBy(col("dd"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val recall = got.intersect(exact).size / 10.0
    info(f"mega-cell recall@10 after split: $recall%.2f")
    assert(recall >= 0.8, f"guarded graph recall degraded: $recall%.2f")
    // bit-identity when nothing exceeds the cap: a cap above the biggest
    // cell leaves the build byte-for-byte the unguarded one
    def nodeSet(df: org.apache.spark.sql.Dataset[GraphAnn.Node]) =
      df.toDF().select("cell_id", "id", "neighbors").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toList)).toSet
    val (gCapped, cCapped) = GraphAnn.buildGraph(corpus, "embedding", "vec_id",
      ncells = 4, m = 8, maxCellSize = 1000)
    val (gUncapped, cUncapped) = GraphAnn.buildGraph(corpus, "embedding", "vec_id",
      ncells = 4, m = 8, maxCellSize = Int.MaxValue)
    assert(cCapped.map(_.toSeq).toSeq == cUncapped.map(_.toSeq).toSeq,
      "non-triggering cap changed the centroid set")
    assert(nodeSet(gCapped) == nodeSet(gUncapped),
      "non-triggering cap changed the graph")
    // determinism of the guarded build
    val (g2, c2) = GraphAnn.buildGraph(corpus, "embedding", "vec_id",
      ncells = 4, m = 8, maxCellSize = cap)
    assert(c2.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq && nodeSet(g2) == nodeSet(g),
      "guarded build is not deterministic")
  }

  test("giant-cell guard terminates on an unsplittable all-identical cell, minting no dead centroids") {
    import graft.operators.GraphAnn
    val s = spark; import s.implicits._
    // 300 EXACT copies of one vector (cap 100): no centroid can separate
    // them — the guard must terminate via the progress check, append no
    // duplicate centroids, and keep every member (documented limit:
    // exact dups are the dedup tier's job, upstream of indexing)
    val v = Array.tabulate(8)(i => (i + 1) * 0.1f)
    val dup = (0 until 300).map(i => (i.toLong, v))
    val rnd = new scala.util.Random(7)
    // a SPLITTABLE oversized cluster coexisting with the unsplittable
    // one: the per-cell progress tracking must keep splitting it after
    // the identical cell is marked unsplittable (a global progress
    // measure keyed on the max — the identical cell — would stop early
    // and leave this one over the cap)
    val base2 = Array.tabulate(8)(i => -(i + 1) * 0.1f)
    val jittered = (0 until 250).map { i =>
      val u = Array.fill(8)(rnd.nextGaussian().toFloat)
      val w = base2.zip(u).map { case (b, e) => b + 0.05f * e }
      (500L + i, w)
    }
    val spreadOut = (0 until 60).map { i =>
      val u = Array.fill(8)(rnd.nextGaussian().toFloat)
      (1000L + i, u)
    }
    val corpus = (dup ++ jittered ++ spreadOut).toDF("vec_id", "embedding")
    val (graph, cents) = GraphAnn.buildGraph(corpus, "embedding", "vec_id",
      ncells = 4, m = 8, maxCellSize = 100)
    val sizes = graph.toDF().groupBy("cell_id").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    info(s"unsplittable: cents ${cents.length}, cells ${sizes.toSeq.sortBy(_._1).mkString(", ")}")
    assert(sizes.values.sum == 610L, "guard lost/duplicated members")
    // no centroid appears twice (no dead duplicates minted)
    assert(cents.map(_.toSeq).distinct.length == cents.length,
      "duplicate centroids appended for an unsplittable cell")
    // the identical-vector cell is intact (over cap, by design)...
    assert(sizes.values.max >= 300L)
    // ...while every OTHER cell — including the splittable jittered
    // cluster a global-max progress guard would have abandoned at 250 —
    // is bounded near the cap (SOFT bound: flat re-assignment can churn
    // boundary members back over by a fraction before the round
    // backstop; the guard's job is bounding task memory to cap x a
    // small constant, and 1.2x is the measured envelope here)
    val others = sizes.values.filter(_ < 300L)
    assert(others.max <= 120L,
      s"splittable oversized cell left unbounded: ${others.max}")
  }

  test("batch graph search: equals N single runs, one cell load per (cell, batch)") {
    import graft.operators.{Clustering, GraphAnn}
    val e = Tables.embeddings(spark, sf).cache()
    try {
      val cents0 = Clustering.trainCentroids(e, 8, 2)
      val (graph0, cents) = GraphAnn.buildGraph(
        e.filter(col("vec_id") >= 3), "embedding", "vec_id", ncells = 8, m = 8,
        centroids = Some(cents0))
      val graph = graph0.localCheckpoint(true)
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      GraphAnn.counters.reset()
      val batch = GraphAnn.searchMany(graph, cents, queries, "qid", "qvec",
        k = 10, nprobe = 4, ef = 48)
        .collect().groupBy(_.getLong(0))
        .map { case (q, rows) =>
          q -> rows.sortBy(_.getAs[Int]("rank"))
            .map(r => (r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
        }
      val batchLoads = GraphAnn.counters.cellLoads.get()
      val batchWalks = GraphAnn.counters.beamWalks.get()
      // amortization: 3 queries x 4 probes = 12 walks, but the walk
      // structures load once per DISTINCT probed cell (<= 8)
      val qvs = e.filter(col("vec_id") < 3).orderBy("vec_id")
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      val distinctProbed = qvs.flatMap { case (_, v) =>
        graft.operators.Similarity.sqProbeCells(cents, v, 4) }.toSet
      info(s"batch: $batchLoads cell loads / $batchWalks walks " +
        s"(distinct probed cells: ${distinctProbed.size})")
      assert(batchWalks == 12, s"expected 12 beam walks, got $batchWalks")
      assert(batchLoads == distinctProbed.size,
        s"expected one load per distinct probed cell, got $batchLoads")
      assert(batchLoads < batchWalks,
        "batch search did not amortize cell loads across queries")
      // per-query equality with single-query runs
      qvs.foreach { case (qid, v) =>
        val single = GraphAnn.search(graph, cents, v, k = 10, nprobe = 4, ef = 48).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
        assert(batch(qid) == single, s"batch result for query $qid diverged")
      }
      // the stored path: same batch over the cell-partitioned layout
      // must prune to the probed cells and return the identical rows
      val root = java.nio.file.Files.createTempDirectory("anngraph_batch_store").toString
      val store = graft.store.VectorStore(root)
      try {
        store.create("graph", graph.toDF(), partitionBy = Seq("cell_id"))
        val stored = GraphAnn.searchManyStored(store.read(spark, "graph"),
          cents, queries, "qid", "qvec", k = 10, nprobe = 4, ef = 48)
        def allScans(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
          p.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              allScans(a.executedPlan)
          }.flatten
        val scans = allScans(stored.queryExecution.executedPlan)
        assert(scans.nonEmpty, "no FileSourceScanExec over the stored graph batch")
        scans.foreach { scan =>
          assert(scan.partitionFilters.exists(_.references.exists(_.name == "cell_id")),
            s"batch probe is not a partition filter: ${scan.partitionFilters}")
          assert(scan.selectedPartitions.partitionCount <= distinctProbed.size,
            s"batch probe scanned ${scan.selectedPartitions.partitionCount} cells")
        }
        val storedRows = stored.collect().groupBy(_.getLong(0))
          .map { case (q, rows) =>
            q -> rows.sortBy(_.getAs[Int]("rank"))
              .map(r => (r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
          }
        assert(storedRows == batch, "stored batch search diverged from the inline batch")
      } finally store.destroy()
    } finally { e.unpersist(): Unit }
  }

  test("batch probe report equals per-query single reports, n_evals included") {
    import graft.operators.{Clustering, GraphAnn}
    val e = Tables.embeddings(spark, sf).cache()
    try {
      val cents0 = Clustering.trainCentroids(e, 8, 2)
      val (graph0, cents) = GraphAnn.buildGraph(
        e.filter(col("vec_id") >= 3), "embedding", "vec_id", ncells = 8, m = 8,
        centroids = Some(cents0))
      val graph = graph0.localCheckpoint(true)
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val batch = GraphAnn.probeReportMany(graph, cents, queries, "qid", "qvec",
          k = 10, nprobe = 4, ef = 48)
        .collect().groupBy(_.getLong(0))
        .map { case (q, rows) =>
          q -> rows.sortBy(_.getInt(1))
            .map(r => (r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4),
              r.getLong(5))).toSeq // (rank, cell, n_nodes, n_emitted, n_evals)
        }
      assert(batch.keySet == Set(0L, 1L, 2L))
      // per query: identical derivation to the single-query anchor —
      // same probes in the same order, same populations, same emitted
      // counts, and the SAME beam eval counts (the walk per (query,
      // cell) is the same beamSearch from the same min-id entry)
      e.filter(col("vec_id") < 3).orderBy("vec_id")
        .select("vec_id", "embedding").collect()
        .foreach { r =>
          val qid = r.getLong(0)
          val qv = r.getSeq[Float](1).map(_.toDouble).toArray
          val single = GraphAnn.probeReport(graph, cents, qv,
              k = 10, nprobe = 4, ef = 48)
            .collect()
            .map(x => (x.getInt(0), x.getInt(1), x.getLong(2), x.getLong(3),
              x.getLong(4))).toSeq
          assert(batch(qid) == single, s"batch probe report for $qid diverged")
        }
    } finally { e.unpersist(): Unit }
  }

  test("search executes the walk once when both hits and stats are consumed") {
    import graft.operators.{Clustering, GraphAnn}
    val e = Tables.embeddings(spark, sf).cache()
    try {
      val (graph0, cents) = GraphAnn.buildGraph(
        e.filter(col("vec_id") =!= 0), "embedding", "vec_id", ncells = 8, m = 8,
        centroids = Some(Clustering.trainCentroids(e, 8, 2)))
      val graph = graph0.localCheckpoint(true)
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head.getSeq[Float](0).map(_.toDouble).toArray
      GraphAnn.counters.reset()
      val (hits, stats) = GraphAnn.searchWithStats(graph, cents, qv, k = 10, nprobe = 4, ef = 48)
      assert(hits.collect().length == 10)
      assert(stats.collect().nonEmpty)
      val walks = GraphAnn.counters.beamWalks.get()
      // 4 probed cells -> 4 walks TOTAL across both consumers (the lazy
      // checkpoint inside search); a recompute would double it to 8
      assert(walks == 4, s"dual consumption re-executed the walk: $walks walks for 4 probed cells")
    } finally { e.unpersist(): Unit }
  }

  test("exhaustive configuration equals exact kNN (walk-kernel oracle anchor)") {
    // nprobe = all cells and ef >= the corpus size make the beam walk
    // exhaustive by construction: the result-set never fills, so the
    // walk never prunes, visits every reachable node (NSW insertion
    // keeps each cell connected), and the per-cell top-k merge IS exact
    // kNN. The DuckDB gate cannot express the walk; this identity is
    // the in-suite oracle for the walk kernel itself.
    import graft.operators.{Clustering, GraphAnn}
    val e = Tables.embeddings(spark, sf).cache()
    try {
      val (graph0, cents) = GraphAnn.buildGraph(
        e.filter(col("vec_id") =!= 0), "embedding", "vec_id", ncells = 8, m = 8,
        centroids = Some(Clustering.trainCentroids(e, 8, 2)))
      val graph = graph0.localCheckpoint(true)
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head.getSeq[Float](0).map(_.toDouble).toArray
      val hits = GraphAnn.search(graph, cents, qv,
        k = 10, nprobe = cents.length, ef = 1000)
      val got = hits.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      val qb = broadcast(e.filter(col("vec_id") === 0).select(col("embedding").as("qv")))
      val exact = e.filter(col("vec_id") =!= 0).crossJoin(qb)
        .withColumn("dist", floor(graft.functions.VectorFunctions
          .l2Sq(col("embedding"), col("qv")) * 1e6 + 0.5) / 1e6)
        .orderBy(col("dist"), col("vec_id")).limit(10)
        .select("vec_id", "dist")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == exact,
        s"exhaustive graph walk != exact kNN:\n  walk:  $got\n  exact: $exact")
    } finally { e.unpersist(): Unit }
  }

  test("ann_graph_walk's construction is genuinely SELECTIVE (beam prunes)") {
    // the gate's ann_graph_walk oracle replays the beam over a kNN
    // adjacency with ef=24 << n — this pin proves that configuration
    // actually exercises the pruning regime (evals strictly below the
    // cell population), i.e. the SQL anchor covers what the exhaustive
    // identity cannot: a beam that stops early.
    import graft.operators.GraphAnn
    val e = Tables.embeddings(spark, sf).filter(col("vec_id") < 500)
    val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
      .head.getSeq[Float](0).map(_.toDouble).toArray
    // the SAME builder the gate query uses — this spec must pin the
    // graph the oracle actually checks, not a local copy of it
    val nodes = GraphAnn.knnGraph(
      e.filter(col("vec_id") =!= 0), "embedding", "vec_id", m = 6)
    val (hits, stats) = GraphAnn.searchWithStats(
      nodes, Array(Array.fill(64)(0.0f)), qv, k = 10, nprobe = 1, ef = 24)
    assert(hits.count() == 10)
    val st = stats.collect().head
    val (nNodes, nEvals) = (st.getInt(1), st.getInt(2))
    assert(nEvals < nNodes,
      s"walk evaluated $nEvals of $nNodes nodes — not selective; the SQL " +
        "anchor would only re-prove the exhaustive identity")
  }

  test("stored-IVF incremental append: untouched partitions byte-identical, search equals full build, dup ids rejected") {
    import graft.operators.Similarity
    val root = java.nio.file.Files.createTempDirectory("ivf_inc_spec").toString
    val store = graft.store.VectorStore(root)
    val e = Tables.embeddings(spark, sf).cache()
    try {
      val cents = Similarity.trainCentroidArrays(e, "embedding", "vec_id", ncells = 16)
      val batchIds = Seq(101L, 202L, 303L)
      val standing = e.filter(!col("vec_id").isin(batchIds: _*))
      val batch = e.filter(col("vec_id").isin(batchIds: _*))
      store.create("v", Similarity.withCellId(standing, "embedding", cents),
        partitionBy = Seq("cell_id"))
      val before = store.dataFiles("v")
        .map(f => f.getPath -> (f.length, f.lastModified)).toMap
      val touched = Similarity.insertIntoStoredIvf(
        store, "v", batch, "embedding", "vec_id", cents)
      assert(touched.nonEmpty && touched.size <= 3, s"batch of 3 touched $touched")
      // APPEND-only: every pre-existing file must survive untouched —
      // even in touched cells (no rebuild, unlike the graph tier)
      val after = store.dataFiles("v")
        .map(f => f.getPath -> (f.length, f.lastModified)).toMap
      before.foreach { case (p, meta) =>
        assert(after.get(p).contains(meta), s"pre-existing file changed: $p")
      }
      assert(after.size > before.size, "append produced no new files")
      // the maintained store answers identically to a from-scratch build
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      def top10(name: String) = graft.plans.AnnProbe.withProbe(spark, cents, nprobe = 4) {
        store.read(spark, name)
          .orderBy(graft.functions.VectorFunctions.l2Sq(col("embedding"),
            graft.functions.VectorFunctions.vecLit(qv)), col("vec_id"))
          .limit(10).select("vec_id", "cell_id")
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      }
      store.create("v_full", Similarity.withCellId(e, "embedding", cents),
        partitionBy = Seq("cell_id"))
      assert(top10("v") == top10("v_full"),
        "incrementally-maintained IVF diverged from the full build")
      // append contract: re-inserting an existing id throws
      val ex = intercept[IllegalArgumentException] {
        Similarity.insertIntoStoredIvf(store, "v",
          e.filter(col("vec_id") === 101L), "embedding", "vec_id", cents)
      }
      assert(ex.getMessage.contains("re-inserts"))
    } finally { e.unpersist(); store.destroy() }
  }

  test("stored-IVF retrain: new geometry equals a from-scratch rebuild; identity survives the swap") {
    import graft.operators.Similarity
    val root = java.nio.file.Files.createTempDirectory("ivf_rt_spec").toString
    val store = graft.store.VectorStore(root)
    val e = Tables.embeddings(spark, sf).cache()
    try {
      // build at 16 cells, absorb an append under the frozen router,
      // attach user metadata (the identity that must survive the swap)
      val cents0 = Similarity.trainCentroidArrays(e, "embedding", "vec_id", ncells = 16)
      store.create("v",
        Similarity.withCellId(e.filter(col("vec_id") % 10 =!= 7), "embedding", cents0),
        partitionBy = Seq("cell_id"))
      store.modify("v", metadata = Some(Map("purpose" -> "retrain-spec"))): Unit
      // a streaming-fed index carries a commit watermark — the swap
      // must not reset it (every _*.properties sidecar travels)
      graft.store.StreamCommits.commit(store, "v", 41L)
      Similarity.insertIntoStoredIvf(store, "v",
        e.filter(col("vec_id") % 10 === 7), "embedding", "vec_id", cents0)
      // retrain at a NEW geometry on the store's own content
      val cents1 = Similarity.retrainStoredIvf(spark, store, "v",
        "embedding", "vec_id", ncells = 8)
      assert(cents1.length == 8)
      // the rewritten layout is row-identical to a from-scratch 8-cell
      // assignment of the same corpus — drift history is fully erased
      val viaRetrain = store.read(spark, "v").select("vec_id", "cell_id")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val fromScratch = Similarity.withCellId(e, "embedding",
          Similarity.trainCentroidArrays(e, "embedding", "vec_id", ncells = 8))
        .select("vec_id", "cell_id")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(viaRetrain == fromScratch)
      // cell_id stays a PARTITION column after the swap (the pruning
      // the stored probe relies on) and user metadata survived
      assert(store.dataFileStatuses("v").forall(
        _.getPath.getParent.getName.startsWith("cell_id=")))
      assert(store.metadata("v").get("purpose").contains("retrain-spec"))
      assert(graft.store.StreamCommits.lastBatchId(store, "v") == 41L,
        "retrain swap reset the streaming commit watermark")
      // a mutable collection refuses the raw swap
      val mc = store.createMutable("m",
        e.limit(5).select(col("vec_id"), col("embedding")), "vec_id")
      mc.countLive(spark): Unit
      val ex = intercept[IllegalArgumentException](
        store.replace("m", store.read(spark, "m")))
      assert(ex.getMessage.contains("mutable"))
    } finally { e.unpersist(); store.destroy() }
  }

  test("mutable-IVF: O(delta) refresh, partition-pruned probe, watermark consistency, crash-dup dedup") {
    import graft.operators.MutableIvf
    val root = java.nio.file.Files.createTempDirectory("mivf_spec").toString
    val store = graft.store.VectorStore(root)
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding")).cache()
    try {
      val mc = store.createMutable("vecs", e, "vec_id")
      MutableIvf.attach(spark, store, "vecs", "embedding", "vecs_ivf", ncells = 8)
      def top(k: Int) = {
        val qv = e.filter(col("vec_id") === 0).select("embedding")
          .head.getSeq[Float](0).toArray
        MutableIvf.search(spark, store, "vecs", "vecs_ivf", qv, k, nprobe = 2)
          .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      }
      val t0 = top(10)
      assert(t0.head._1 == 0L && t0.head._2 == 0.0) // self at distance 0
      // the probe is PARTITION-pruned: the index scan carries
      // `cell_id IN (a,b)` as a PartitionFilter (2 probed cells of the
      // 8 on disk; the scan sits under AQE because of the tombstone
      // join, so assert on the plan text rather than collectLeaves)
      val qv0 = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      val planStr = MutableIvf.search(spark, store, "vecs", "vecs_ivf",
        qv0, 10, nprobe = 2).queryExecution.executedPlan.toString
      val pf = "PartitionFilters: \\[cell_id#\\d+ IN \\((\\d+),(\\d+)\\)\\]".r
      assert(pf.findFirstIn(planStr).isDefined,
        s"probe must land as a 2-cell PartitionFilter:\n${planStr.take(2000)}")
      val cellDirs = new java.io.File(s"$root/vecs_ivf").listFiles()
        .count(_.getName.startsWith("cell_id="))
      assert(cellDirs == 8, s"expected 8 cell partitions on disk, found $cellDirs")
      // watermark consistency: a delete is INVISIBLE until refresh —
      // search answers as of the last refresh, never a torn mixture
      val victim = t0(1)._1
      mc.deleteIds(spark, Seq(victim))
      assert(top(10).map(_._1).contains(victim),
        "un-refreshed delete leaked into the indexed search")
      // O(delta) refresh: the delta scan carries a pushed seq range and
      // pre-existing index files survive byte-identical
      val before = store.dataFiles("vecs_ivf")
        .map(f => f.getPath -> (f.length, f.lastModified)).toMap
      MutableIvf.refresh(spark, store, "vecs", "vecs_ivf")
      store.dataFiles("vecs_ivf").filter(f => before.contains(f.getPath)).foreach(f =>
        assert(before(f.getPath) == (f.length, f.lastModified),
          s"refresh rewrote a pre-existing index file: ${f.getPath}"))
      val t1 = top(10)
      assert(!t1.map(_._1).contains(victim), "refreshed delete still visible")
      // crash-duplicate guard: re-append an already-indexed row (the
      // state a refresh crash leaves after its re-run) — search still
      // returns one row per id, results unchanged
      val dupRow = store.read(spark, "vecs_ivf")
        .filter(col("vec_id") === t1.head._1).limit(1)
      store.append("vecs_ivf", dupRow, partitionBy = Seq("cell_id"))
      assert(top(10) == t1, "crash duplicate changed the search answer")
      // an upsert that MOVES a vector re-routes it on refresh: version
      // resolution keeps exactly the newest
      val moved = t1(1)._1
      mc.upsert(e.filter(col("vec_id") === moved)
        .withColumn("embedding", reverse(col("embedding"))))
      MutableIvf.refresh(spark, store, "vecs", "vecs_ivf")
      val t2 = top(10)
      assert(t2.count(_._1 == moved) <= 1)
      assert(t2 != t1 || !t2.map(_._1).contains(moved),
        "moved vector still ranked by its old embedding")
    } finally { e.unpersist(); store.destroy() }
  }

  test("mutable-IVF filtered search tests CURRENT versions, not stale indexed ones") {
    import graft.operators.MutableIvf
    val root = java.nio.file.Files.createTempDirectory("mivf_fspec").toString
    val store = graft.store.VectorStore(root)
    val e = Tables.embeddings(spark, sf).cache()
    try {
      val mc = store.createMutable("vecs", e, "vec_id")
      MutableIvf.attach(spark, store, "vecs", "embedding", "vecs_ivf", ncells = 8)
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      // vec 0 itself: label moves out of the filter range on upsert,
      // vector unchanged — so WITHOUT the filter it still ranks first,
      // WITH the filter it must vanish even though the index holds a
      // stale version whose OLD label matches
      mc.upsert(e.filter(col("vec_id") === 0)
        .withColumn("label", col("label") + 100))
      MutableIvf.refresh(spark, store, "vecs", "vecs_ivf")
      def ids(where: Option[String]) =
        MutableIvf.search(spark, store, "vecs", "vecs_ivf", qv,
          k = 5, nprobe = 8, where = where).collect().map(_.getLong(0)).toSeq
      assert(ids(None).head == 0L)
      assert(!ids(Some("""{"label": {"$lt": 100}}""")).contains(0L),
        "filter admitted a STALE version's label — version resolution leaked")
    } finally { e.unpersist(); store.destroy() }
  }

  test("insertIntoStored rejects a batch that re-inserts an existing id") {
    import graft.operators.{Clustering, GraphAnn}
    val root = java.nio.file.Files.createTempDirectory("anngraph_dup").toString
    val store = graft.store.VectorStore(root)
    val e = Tables.embeddings(spark, sf).cache()
    try {
      val cents = Clustering.trainCentroids(e, 8, 2)
      val standing = e.filter(col("vec_id") % 10 =!= 7)
      val (g0, _) = GraphAnn.buildGraph(standing, "embedding", "vec_id",
        ncells = 8, m = 8, centroids = Some(cents))
      store.create("graph", g0.toDF(), partitionBy = Seq("cell_id"))
      // a batch that contains one EXISTING id (violates append semantics)
      val bad = e.filter(col("vec_id") % 10 === 7 || col("vec_id") === 2)
      val ex = intercept[IllegalArgumentException] {
        GraphAnn.insertIntoStored(store, "graph", bad, "embedding", "vec_id", cents)
      }
      assert(ex.getMessage.contains("append semantics"))
      // a re-inserted id whose DRIFTED vector assigns to a different
      // cell must be caught too (the check is against the whole index,
      // not just the batch's touched cells)
      val drifted = e.filter(col("vec_id") === 2)
        .withColumn("embedding", org.apache.spark.sql.functions.transform(
          col("embedding"), x => -x))
      val ex2 = intercept[IllegalArgumentException] {
        GraphAnn.insertIntoStored(store, "graph", drifted, "embedding", "vec_id", cents)
      }
      assert(ex2.getMessage.contains("append semantics"))
      // batch-internal duplicate ids are rejected before any write
      val twice = e.filter(col("vec_id") % 10 === 7)
        .unionByName(e.filter(col("vec_id") === 7))
      val ex3 = intercept[IllegalArgumentException] {
        GraphAnn.insertIntoStored(store, "graph", twice, "embedding", "vec_id", cents)
      }
      assert(ex3.getMessage.contains("duplicate ids"))
      // and the store is untouched by the rejected insert
      val clean = e.filter(col("vec_id") % 10 === 7 && col("vec_id") =!= 2)
      GraphAnn.insertIntoStored(store, "graph", clean, "embedding", "vec_id", cents)
    } finally { e.unpersist(); store.destroy() }
  }

  test("sessions are isolated: registering in one does not rewrite another") {
    val s2 = spark.newSession()
    s2.experimental.extraOptimizations =
      s2.experimental.extraOptimizations :+ AnnProbeRule
    val (idx, cents) = indexed()
    AnnCatalog.register(spark, cents, nprobe = 2)
    try {
      // s2 has the rule but no centroids -> its plans stay exact
      val e2 = Tables.embeddings(s2, sf)
      val idx2 = Similarity.withCellId(e2, "embedding", cents)
      val plan2 = idx2.orderBy(l2Sq(col("embedding"), vecLit(qv))).limit(5)
        .queryExecution.optimizedPlan.toString
      assert(!plan2.contains("IN ("))
    } finally AnnCatalog.clear(spark)
  }

  test("batch stored-IVF search: per-query == inline ivfTopK; union probe prunes") {
    val root = java.nio.file.Files.createTempDirectory("ivf_batch_spec").toString
    val store = graft.store.VectorStore(root)
    try {
      val e = Tables.embeddings(spark, sf)
      val cents = Similarity.buildIvfIndex(store, "vectors", e, "embedding",
        "vec_id", ncells = 8)
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val batch = Similarity.ivfSearchStoredMany(store.read(spark, "vectors"),
        "embedding", "vec_id", cents, q, "q_id", "q_vec", k = 5, nprobe = 2)
      // partition pruning: the scan lists at most |union of probes| <= 6
      // of the 8 cell directories (AQE wraps the join plan — descend)
      def allScans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            allScans(a.executedPlan)
        }.flatten
      val scans = allScans(batch.queryExecution.executedPlan)
        .filter(f => f.schema.fieldNames.contains("embedding") &&
          f.partitionFilters.nonEmpty)
      assert(scans.nonEmpty, "no partition-filtered scan over the stored index")
      scans.foreach { scan =>
        assert(scan.partitionFilters.exists(_.references.exists(_.name == "cell_id")),
          s"union probe is not a partition filter: ${scan.partitionFilters}")
        assert(scan.selectedPartitions.partitionCount <= 6,
          s"scanned ${scan.selectedPartitions.partitionCount} of 8 cells")
      }
      // per-query rows equal the inline operator at the same geometry
      // (deterministic training on the same input -> same router)
      val stored = batch.orderBy("q_id", "rank")
        .select("q_id", "vec_id", "cosine", "rank").collect().toSeq
      val inline = Similarity.ivfTopK(e, "embedding", "vec_id", q, "q_id",
          "q_vec", k = 5, ncells = 8, nprobe = 2)
        .orderBy("q_id", "rank").collect().toSeq
      assert(stored == inline, "stored batch search diverged from inline ivfTopK")
      // edge inputs against the same inline operator and router: one
      // query, an empty query frame, and nprobe = ncells (the union
      // covers every cell)
      def agrees(qs: org.apache.spark.sql.DataFrame, nprobe: Int): Int = {
        val got = Similarity.ivfSearchStoredMany(store.read(spark, "vectors"),
            "embedding", "vec_id", cents, qs, "q_id", "q_vec", k = 5, nprobe = nprobe)
          .orderBy("q_id", "rank")
          .select("q_id", "vec_id", "cosine", "rank").collect().toSeq
        val want = Similarity.ivfTopK(e, "embedding", "vec_id", qs, "q_id",
            "q_vec", k = 5, ncells = 8, nprobe = nprobe, centsOpt = Some(cents))
          .orderBy("q_id", "rank").collect().toSeq
        assert(got == want, s"diverged from ivfTopK at nprobe=$nprobe")
        got.length
      }
      assert(agrees(q.filter(col("q_id") === 1), 2) == 5)
      assert(agrees(q.limit(0), 2) == 0)
      assert(agrees(q, 8) == 15)
      // the fixed cost stays pinned: on a local query frame the whole
      // verb, routing included, is one scan-and-rank query of <= 2 jobs
      val local = spark.createDataFrame(java.util.Arrays.asList(q.collect(): _*), q.schema)
      val vectors = store.read(spark, "vectors")
      val (rows, jobs) = jobsOf(Similarity.ivfSearchStoredMany(vectors,
        "embedding", "vec_id", cents, local, "q_id", "q_vec", k = 5, nprobe = 2).collect())
      info(s"batch stored-IVF search on a local frame: $jobs Spark jobs")
      assert(jobs <= 2, s"batch stored-IVF search ran $jobs Spark jobs")
      assert(rows.length == stored.length)
    } finally store.destroy()
  }

  test("adaptive filtered kNN: decision boundary, pre == exact, post ⊆ probed cells") {
    val e = Tables.embeddings(spark, sf)
    val qv0 = e.filter(col("vec_id") === 0).select("embedding")
      .collect().head.getSeq[Float](0).toArray
    // selective predicate -> pre path, and pre IS the exact filtered top-k
    val selPred = col("label") === 3 && col("vec_id") % 7 === 0
    val pre = Similarity.adaptiveFilteredKnn(e, "embedding", "vec_id",
      selPred, qv0, k = 5, ncells = 8, nprobe = 2).collect()
    assert(pre.forall(_.getString(3) == "pre"), "selective predicate chose post")
    val exact = e.filter(selPred)
      .withColumn("cosine", round(cosine(col("embedding"), vecLit(qv0)), 6))
      .orderBy(col("cosine").desc, col("vec_id")).limit(5)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(pre.map(_.getLong(0)).toSeq == exact, "pre path is not the exact answer")
    // broad predicate -> post path; its survivors all sit in probed cells
    val post = Similarity.adaptiveFilteredKnn(e, "embedding", "vec_id",
      col("label") >= 2, qv0, k = 5, ncells = 8, nprobe = 2).collect()
    assert(post.forall(_.getString(3) == "post"), "broad predicate chose pre")
    val cents = Similarity.trainCentroidArrays(e, "embedding", "vec_id", 8, 3)
    val probedIds = Similarity.withCellId(e, "embedding", cents)
      .filter(col("label") >= 2)
      .select("vec_id", "cell_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cellsUsed = post.map(r => probedIds(r.getLong(0))).distinct
    assert(cellsUsed.length <= 2,
      s"post-path results came from ${cellsUsed.length} cells at nprobe=2")
    // the decision is a pure threshold: fraction just under/over flips it
    val n = e.count()
    val half = col("vec_id") % 2 === 0 // ~50% -> far over any 5% threshold
    val flipped = Similarity.adaptiveFilteredKnn(e, "embedding", "vec_id",
      half, qv0, k = 3, ncells = 8, nprobe = 2, maxPreFraction = 0.6).collect()
    assert(flipped.forall(_.getString(3) == "pre"),
      s"raising the threshold above the ~50% match fraction (n=$n) must re-select pre")
  }

  test("stored router round-trips float-exact; searchAuto picks by family priority") {
    val root = java.nio.file.Files.createTempDirectory("ivf_router_spec").toString
    val store = graft.store.VectorStore(root)
    try {
      val e = Tables.embeddings(spark, sf)
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      // exact fallback: no index at all
      store.create("plain", e.select(col("vec_id"), col("label")))
      val exact = Similarity.searchAuto(spark, store, Seq("plain"), e,
        "embedding", "vec_id", qv, k = 5, nprobe = 2)
      assert(exact.collect().forall(_.getString(3) == "exact"))
      // bq only -> bq
      Similarity.buildBqIndex(store, "bq", e, "embedding", "vec_id")
      val viaBq = Similarity.searchAuto(spark, store, Seq("plain", "bq"), e,
        "embedding", "vec_id", qv, k = 5, nprobe = 2)
      assert(viaBq.collect().forall(_.getString(3) == "bq"))
      // ivf present -> ivf wins; the persisted router IS the build router
      val cents = Similarity.buildIvfIndex(store, "ivf", e, "embedding",
        "vec_id", ncells = 8)
      val persisted = Similarity.readStoredRouter(store, "ivf").get
      assert(persisted.length == cents.length &&
        persisted.zip(cents).forall { case ((i1, c1), (i2, c2)) =>
          i1 == i2 && c1.sameElements(c2) },
        "persisted router is not bit-identical to the build router")
      val viaIvf = Similarity.searchAuto(spark, store,
        Seq("plain", "bq", "ivf"), e, "embedding", "vec_id", qv,
        k = 5, nprobe = 2)
      val rows = viaIvf.collect()
      assert(rows.forall(_.getString(3) == "ivf"))
      // query vector's own cell survives the probe -> vec 0 at rank 1
      assert(rows.head.getLong(0) == 0L && rows.head.getDouble(1) == 1.0)
    } finally store.destroy()
  }

  test("recall report: monotone in nprobe; probing every cell is exact") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val rep = Similarity.recallReport(e, "embedding", "vec_id", q, "q_id",
        "q_vec", k = 5, ncells = 8, nprobes = Seq(1, 2, 8))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(rep.length == 9, s"expected 3 queries x 3 settings, got ${rep.length}")
    rep.groupBy(_._1).foreach { case (qid, rows) =>
      val byP = rows.sortBy(_._2)
      // recall and candidate volume never shrink as the probe widens
      assert(byP.map(_._5).sliding(2).forall(s => s.head <= s.last),
        s"recall not monotone for query $qid: ${byP.toSeq}")
      assert(byP.map(_._3).sliding(2).forall(s => s.head < s.last),
        s"candidates not growing for query $qid: ${byP.toSeq}")
      // nprobe = ncells probes everything -> IVF IS exact -> recall 1.0
      assert(byP.last._5 == 1.0,
        s"full probe not exact for query $qid: ${byP.last}")
      assert(byP.last._4 == 5L)
    }
  }

  test("graded eval: full probe scores perfect MRR/NDCG; metrics bounded and monotone-capped") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val rep = Similarity.gradedEvalReport(e, "embedding", "vec_id", q, "q_id",
        "q_vec", k = 5, ncells = 8, nprobes = Seq(1, 8))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rep.length == 6, s"expected 3 queries x 2 settings, got ${rep.length}")
    rep.foreach { case (qid, p, hits, mrr, ndcg) =>
      assert(mrr >= 0.0 && mrr <= 1.0 && ndcg >= 0.0 && ndcg <= 1.0,
        s"metric out of [0,1] for ($qid, $p): mrr=$mrr ndcg=$ndcg")
      assert((hits == 0) == (ndcg == 0.0),
        s"ndcg/hits inconsistent for ($qid, $p): hits=$hits ndcg=$ndcg")
    }
    // probing every cell makes the IVF ranking THE exact ranking: the
    // query vector itself is rank 1 (cosine 1.0) and the whole graded
    // order matches, so both metrics are exactly 1.0
    rep.filter(_._2 == 8).foreach { case (qid, _, hits, mrr, ndcg) =>
      assert(hits == 5L && mrr == 1.0 && ndcg == 1.0,
        s"full probe not perfect for query $qid: hits=$hits mrr=$mrr ndcg=$ndcg")
    }
    // NDCG at the narrow probe can never exceed the full-probe 1.0
    assert(rep.filter(_._2 == 1).forall(_._5 <= 1.0))
  }

  test("index advisor: flat is the perfect-recall fallback, exactly one recommendation, cheapest-meeting wins") {
    val e = Tables.embeddings(spark, sf).cache()
    try {
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      val out = Similarity.indexAdvisor(e, "embedding", "vec_id", qv,
          k = 10, targetRecall = 0.7, selfId = Some(0L))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getBoolean(4), r.getBoolean(5)))
      assert(out.map(_._1).sorted.toSeq ==
        Seq("bq", "flat", "ivf_flat", "ivf_pq", "ivf_sq"))
      val flat = out.find(_._1 == "flat").get
      assert(flat._3 == 10L && flat._4 == 1.0 && flat._5,
        s"flat must be the perfect-recall fallback: $flat")
      // exactly one recommendation, it meets the bar, and no MEETING
      // family is cheaper (the decision rule, restated)
      val recs = out.filter(_._6)
      assert(recs.length == 1, s"expected one recommendation: ${out.toSeq}")
      val rec = recs.head
      assert(rec._5, s"recommended family does not meet: $rec")
      assert(out.filter(_._5).forall(f => f._2 > rec._2 ||
        (f._2 == rec._2 && f._1 >= rec._1)),
        s"a cheaper meeting family exists: ${out.toSeq} vs $rec")
      // meets is exactly the integer bar
      out.foreach { f => assert(f._5 == (f._3 >= 7L), s"meets drifted: $f") }
      // an unreachable bar still recommends (flat meets at any target <= 1)
      val strict = Similarity.indexAdvisor(e, "embedding", "vec_id", qv,
          k = 10, targetRecall = 1.0, selfId = Some(0L))
        .collect().map(r => (r.getString(0), r.getBoolean(4), r.getBoolean(5)))
      assert(strict.count(_._3) == 1 && strict.filter(_._3).forall(_._2))
    } finally e.unpersist()
  }

  test("LSH percolate: subset of the exact form, bucket-keyed plan (no cartesian), decent recall") {
    val e = Tables.embeddings(spark, sf)
    val standing = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val docs = e.filter(col("vec_id") >= 20)
    val exact = Similarity.vectorPercolate(docs, "embedding", "vec_id",
        standing, "q_id", "q_vec", threshold = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.vectorPercolateLsh(docs, "embedding", "vec_id",
      standing, "q_id", "q_vec", threshold = 0.25)
    // the candidate stage must be the bucket-keyed equi-join, never a
    // docs x subscriptions product
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"LSH percolate fell back to a cross product:\n$plan")
    val got = lsh.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical verify rule -> every LSH match is an exact match
    assert(got.subsetOf(exact), s"LSH emitted non-matches: ${got -- exact}")
    // recall is pinned where LSH operates — identical vectors bucket
    // identically in EVERY table, so self-subscriptions all surface
    // (low-threshold recall is the documented LSH trade, not a bug)
    val n = e.count()
    val selfs = Similarity.vectorPercolateLsh(e, "embedding", "vec_id",
        e.select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        "q_id", "q_vec", threshold = 0.999)
      .filter(col("vec_id") === col("q_id")).count()
    assert(selfs == n, s"self-matches missing: $selfs of $n")
  }

  test("percolate crossover advisor: both branches run, boundary arithmetic exact") {
    val e = Tables.embeddings(spark, sf)
    val standing = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val docs = e.filter(col("vec_id") >= 20)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // default cap (256 MB): 20 subscriptions broadcast; rows == exact form
    val auto = Similarity.vectorPercolateAuto(docs, "embedding", "vec_id",
      standing, "q_id", "q_vec", threshold = 0.3)
    assert(auto.select("path").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("broadcast"))
    assert(rows(auto.drop("path")) == rows(Similarity.vectorPercolate(
      docs, "embedding", "vec_id", standing, "q_id", "q_vec", 0.3)))
    // starved cap: the SAME call crosses over to LSH; rows == LSH form
    val autoLsh = Similarity.vectorPercolateAuto(docs, "embedding", "vec_id",
      standing, "q_id", "q_vec", threshold = 0.3, limitBytes = 100L)
    assert(autoLsh.select("path").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("lsh"))
    assert(rows(autoLsh.drop("path")) == rows(Similarity.vectorPercolateLsh(
      docs, "embedding", "vec_id", standing, "q_id", "q_vec", 0.3)))
    // the boundary is EXACT: 20 rows x (4*64 + 24) = 5600 bytes —
    // a cap at the estimate broadcasts, one byte under flips to LSH
    def pathAt(cap: Long) = Similarity.vectorPercolateAuto(docs, "embedding",
        "vec_id", standing, "q_id", "q_vec", 0.3, limitBytes = cap)
      .select("path").head.getString(0)
    assert(pathAt(5600L) == "broadcast" && pathAt(5599L) == "lsh",
      "crossover boundary drifted from rows*(4*dim+24)")
  }

  test("vector percolate: map-only broadcast plan, self-match at cosine 1.0") {
    val e = Tables.embeddings(spark, sf)
    val standing = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val out = Similarity.vectorPercolate(e, "embedding", "vec_id",
      standing, "q_id", "q_vec", threshold = 0.999)
    // the document stream percolates without ANY shuffle: the standing
    // side BroadcastExchanges, and no shuffle Exchange (hash/range/
    // single-partition) may appear in the physical plan
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"standing side not broadcast:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning") &&
      !plan.contains("Exchange SinglePartition"),
      s"percolate plan shuffles — expected map-only broadcast:\n$plan")
    val rows = out.collect()
    // each standing vector matches at least itself (cosine exactly 1.0)
    val selfs = rows.filter(r => r.getLong(0) == r.getLong(1))
    assert(selfs.length == 5 && selfs.forall(_.getDouble(2) == 1.0),
      s"missing self-matches: ${selfs.toSeq}")
    assert(rows.forall(_.getDouble(2) >= 0.999))
  }
}
