package graft

import graft.operators.{MutableBq, MutableGraph, MutableIvf, MutablePq, MutableSq}
import graft.store.{StoreFs, VectorStore}

import scala.jdk.CollectionConverters._

/** The on-disk sidecars of the five live-index families, pinned: file
  * names, `Properties` comment lines, exact key sets, and the
  * `cell.<id> = f1,f2,...` centroid format (Float.toString, decoding to
  * bit-identical floats). Stores written by one build must stay
  * readable by the next, so any change here is a format change. */
class SidecarLayoutSpec extends SparkSpec {

  private def props(store: VectorStore, index: String, file: String) =
    StoreFs.forPath(store.root).readProps(s"${store.root}/$index/$file")
      .getOrElse(fail(s"$index carries no $file"))

  private def keys(p: java.util.Properties) = p.stringPropertyNames().asScala.toSet

  private def comment(store: VectorStore, index: String, file: String) =
    scala.io.Source.fromFile(s"${store.root}/$index/$file").getLines().next()

  private def sidecars(store: VectorStore, index: String) =
    new java.io.File(s"${store.root}/$index").listFiles().map(_.getName)
      .filter(n => n.startsWith("_") && n.endsWith(".properties")).toSet

  /** The `cell.*` keys of `p` are exactly `cents`, each written with
    * Float.toString and decoding to the same float bits. */
  private def assertCells(p: java.util.Properties, cents: Seq[(Int, Array[Float])]): Unit = {
    assert(keys(p).filter(_.startsWith("cell.")) == cents.map(c => s"cell.${c._1}").toSet)
    cents.foreach { case (cid, c) =>
      val v = p.getProperty(s"cell.$cid")
      assert(v == c.map(_.toString).mkString(","))
      assert(v.split(",").map(s => java.lang.Float.floatToRawIntBits(s.toFloat)).toSeq ==
        c.map(java.lang.Float.floatToRawIntBits).toSeq, s"cell.$cid is not bit-exact")
    }
  }

  test("live-index sidecars: names, comments, key sets, bit-exact centroids") {
    val store = VectorStore(
      java.nio.file.Files.createTempDirectory("graft_sidecar_spec").toString)
    try {
      val mc = store.createMutable("vecs", Tables.embeddings(spark, sf), "vec_id")
      val seq = mc.currentSeq
      val ivf = MutableIvf.attach(spark, store, "vecs", "embedding", "ivf", ncells = 4)
      val (sqCents, mins, maxs) =
        MutableSq.attach(spark, store, "vecs", "embedding", "sq", ncells = 4)
      val (pqCents, cb) = MutablePq.attach(spark, store, "vecs", "embedding", "pq",
        ncells = 4, m = 4, ksub = 8)
      MutableBq.attach(spark, store, "vecs", "embedding", "bq")
      val graph = MutableGraph.attach(spark, store, "vecs", "embedding", "graph",
        ncells = 4)

      val common = Set("vecCol", "idCol")
      for ((index, family) <- Seq("ivf" -> "ivf", "sq" -> "sq", "pq" -> "pq",
          "bq" -> "bq", "graph" -> "graph")) {
        val w = props(store, index, "_indexed.properties")
        assert(keys(w) == Set("seq", "collection"))
        assert(w.getProperty("seq") == seq.toString && w.getProperty("collection") == "vecs")
        assert(comment(store, index, "_indexed.properties") ==
          s"#graft mutable-$family indexed watermark")
      }

      assert(sidecars(store, "ivf") == Set("_router.properties", "_indexed.properties"))
      val ivfP = props(store, "ivf", "_router.properties")
      assert(comment(store, "ivf", "_router.properties") == "#graft mutable-ivf router")
      assert(keys(ivfP) == common ++ ivf.map(c => s"cell.${c._1}"))
      assert(ivfP.getProperty("vecCol") == "embedding" && ivfP.getProperty("idCol") == "vec_id")
      assertCells(ivfP, ivf.toSeq)

      assert(sidecars(store, "sq") == Set("_sq_quantizer.properties", "_indexed.properties"))
      val sqP = props(store, "sq", "_sq_quantizer.properties")
      assert(comment(store, "sq", "_sq_quantizer.properties") == "#graft mutable-sq quantizer")
      assert(keys(sqP) == common ++ Set("dim") ++ sqCents.indices.map(i => s"cell.$i") ++
        mins.indices.flatMap(i => Seq(s"min.$i", s"max.$i")))
      assert(sqP.getProperty("dim") == mins.length.toString)
      assertCells(sqP, sqCents.toSeq.zipWithIndex.map(_.swap))
      mins.indices.foreach { i =>
        assert(sqP.getProperty(s"min.$i") == mins(i).toString)
        assert(sqP.getProperty(s"max.$i") == maxs(i).toString)
      }

      assert(sidecars(store, "pq") == Set("_pq_quantizer.properties", "_indexed.properties"))
      val pqP = props(store, "pq", "_pq_quantizer.properties")
      assert(comment(store, "pq", "_pq_quantizer.properties") == "#graft mutable-pq quantizer")
      assert(keys(pqP) == common ++ Set("m", "dsub", "ksub") ++
        pqCents.map(c => s"cell.${c._1}") ++
        (for (j <- 0 until cb.m; c <- cb.cents(j).indices) yield s"cb.$j.$c"))
      assert(Seq("m", "dsub", "ksub").map(pqP.getProperty) ==
        Seq(cb.m, cb.dsub, cb.ksub).map(_.toString))
      assertCells(pqP, pqCents.toSeq)
      for (j <- 0 until cb.m; c <- cb.cents(j).indices)
        assert(pqP.getProperty(s"cb.$j.$c") == cb.cents(j)(c).map(_.toString).mkString(","))

      assert(sidecars(store, "bq") == Set("_bq_meta.properties", "_indexed.properties"))
      val bqP = props(store, "bq", "_bq_meta.properties")
      assert(comment(store, "bq", "_bq_meta.properties") == "#graft mutable-bq meta")
      assert(keys(bqP) == common ++ Set("dim"))
      assert(bqP.getProperty("dim") == "64")

      assert(sidecars(store, "graph") == Set("_router.properties", "_indexed.properties"))
      val gP = props(store, "graph", "_router.properties")
      assert(comment(store, "graph", "_router.properties") == "#graft mutable-graph router")
      assert(keys(gP) == common ++ Set("m", "efConstruction") ++
        graph.indices.map(i => s"cell.$i"))
      assert(gP.getProperty("m") == "8" && gP.getProperty("efConstruction") == "32")
      assertCells(gP, graph.toSeq.zipWithIndex.map(_.swap))
    } finally store.destroy()
  }
}
