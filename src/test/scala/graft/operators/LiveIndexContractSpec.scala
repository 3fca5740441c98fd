package graft.operators

import graft.{SparkSpec, Tables}
import graft.store.{MutableCollection, VectorStore}
import org.apache.spark.sql.functions._

/** The [[LiveIndex]] contract, checked once per merge-on-read family
  * (IVF, SQ, PQ, BQ) from one table: point-in-time visibility of
  * un-refreshed deletes, O(delta) refresh that leaves every indexed
  * file byte-identical, crash-duplicate and crashed-refresh
  * invisibility, and a no-op refresh that writes nothing. */
class LiveIndexContractSpec extends SparkSpec {

  private final case class Fam(name: String, cellPartitioned: Boolean,
      attach: VectorStore => Unit, refresh: VectorStore => Long,
      search: VectorStore => Seq[Seq[Any]])

  private val Index = "idx"

  private lazy val qv: Array[Float] = Tables.embeddings(spark, sf)
    .filter(col("vec_id") === 0).select("embedding")
    .head.getSeq[Float](0).toArray

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  private val families = Seq(
    Fam("ivf", cellPartitioned = true,
      st => MutableIvf.attach(spark, st, "vecs", "embedding", Index, ncells = 8): Unit,
      st => MutableIvf.refresh(spark, st, "vecs", Index),
      st => rows(MutableIvf.search(spark, st, "vecs", Index, qv, k = 10, nprobe = 8))),
    Fam("sq", cellPartitioned = true,
      st => MutableSq.attach(spark, st, "vecs", "embedding", Index, ncells = 8): Unit,
      st => MutableSq.refresh(spark, st, "vecs", Index),
      st => rows(MutableSq.search(spark, st, "vecs", Index, qv.map(_.toDouble),
        k = 10, nprobe = 8))),
    Fam("pq", cellPartitioned = true,
      st => MutablePq.attach(spark, st, "vecs", "embedding", Index, ncells = 8,
        m = 8, ksub = 16): Unit,
      st => MutablePq.refresh(spark, st, "vecs", Index),
      st => rows(MutablePq.search(spark, st, "vecs", Index, qv, k = 10, nprobe = 8))),
    Fam("bq", cellPartitioned = false,
      st => MutableBq.attach(spark, st, "vecs", "embedding", Index),
      st => MutableBq.refresh(spark, st, "vecs", Index),
      st => rows(MutableBq.search(spark, st, "vecs", Index, qv, k = 10))))

  /** path -> content digest of every file under `dir` (sidecars, data
    * files, checksums). */
  private def digest(dir: String): Map[String, String] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).map { f =>
      f.getPath -> md.digest(java.nio.file.Files.readAllBytes(f.toPath))
        .map("%02x".format(_)).mkString
    }.toMap
  }

  private def moveVector(mc: MutableCollection, id: Any): Unit =
    mc.upsert(Tables.embeddings(spark, sf).filter(col("vec_id") === id)
      .withColumn("embedding", reverse(col("embedding"))))

  families.foreach { fam =>
    test(s"live-index contract: ${fam.name}") {
      val store = VectorStore(
        java.nio.file.Files.createTempDirectory(s"graft_live_${fam.name}").toString)
      val idxDir = s"${store.root}/$Index"
      val partitionBy = if (fam.cellPartitioned) Seq("cell_id") else Nil
      try {
        val mc = store.createMutable("vecs", Tables.embeddings(spark, sf), "vec_id")
        fam.attach(store)
        val q0 = fam.search(store)
        assert(q0.length == 10)

        // point-in-time: an un-refreshed delete stays visible
        val victim = q0(1).head
        mc.deleteIds(spark, Seq(victim.asInstanceOf[Long]))
        moveVector(mc, q0(2).head)
        assert(fam.search(store) == q0, "un-refreshed mutation leaked into search")

        // O(delta): refresh leaves every pre-existing index file as it was
        val dataBefore = digest(idxDir).filter { case (p, _) =>
          new java.io.File(p).getName.startsWith("part-") }
        fam.refresh(store)
        val dataAfter = digest(idxDir)
        dataBefore.foreach { case (p, d) =>
          assert(dataAfter.get(p).contains(d), s"refresh rewrote an indexed file: $p")
        }
        val q1 = fam.search(store)
        assert(!q1.map(_.head).contains(victim), "refreshed delete still visible")

        // crash duplicate: re-appending an already-indexed row changes nothing
        store.append(Index, store.read(spark, Index)
          .filter(col("vec_id") === q1.head.head).limit(1), partitionBy)
        assert(fam.search(store) == q1, "crash duplicate changed the answer")

        // crashed refresh: the delta is appended but the watermark never
        // advances (refresh, then the watermark restored to its old value —
        // exactly the files a crash between the two steps leaves)
        moveVector(mc, q1(1).head)
        mc.deleteIds(spark, Seq(q1(2).head.asInstanceOf[Long]))
        val wPrev = LiveIndex.readWatermark(store, Index)
        fam.refresh(store)
        val qClean = fam.search(store)
        LiveIndex.writeWatermark(store, Index, wPrev, "vecs", fam.name)
        assert(fam.search(store) == q1, "a crashed refresh's rows leaked into search")
        val pending = store.read(spark, Index)
          .filter(col(MutableCollection.SeqCol) > wPrev).count()
        fam.refresh(store) // the re-run appends the delta a second time
        assert(store.read(spark, Index)
          .filter(col(MutableCollection.SeqCol) > wPrev).count() == 2 * pending)
        assert(fam.search(store) == qClean, "re-run after a crash changed the answer")

        // no-op refresh: same watermark, no file written
        val w = LiveIndex.readWatermark(store, Index)
        val before = digest(idxDir)
        val mtimes = before.keys.map(p => p -> new java.io.File(p).lastModified).toMap
        assert(fam.refresh(store) == w)
        assert(digest(idxDir) == before, "no-op refresh wrote a file")
        assert(mtimes.forall { case (p, t) => new java.io.File(p).lastModified == t })
      } finally store.destroy()
    }
  }
}
