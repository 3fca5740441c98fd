package perfbench

import graft.embed.{Embedders, HashEmbedder}
import graft.ingest.IngestPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The traced ingest pass runs ingestDocuments' steps one span each;
  * both must store the same rows. */
class IngestMirrorSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  test("traced ingest steps produce exactly ingestDocuments' rows") {
    import spark.implicits._
    val g = new IngestInputs.Generator(4L)
    val in = (0 until 2).flatMap(g.batch).map(d => (d.id, d.text, d.source)).toDF("doc_id", "text", "source")
    val emb = HashEmbedder(dim = 16)
    val fused = IngestPipeline.ingestDocuments(in, emb, deterministicIds = true, 600, 50)
    val chunks = IngestPipeline.chunk(in.filter(length(trim(col("text"))) > 0), "text", "doc_id", 600, 50)
      .withColumn("id", sha2(col("chunk_id").cast("binary"), 256))
    val split = Embedders.embed(chunks, "chunk", "embedding", emb)
    assert(fused.columns.toSeq == split.columns.toSeq)
    assert(fused.exceptAll(split).isEmpty && split.exceptAll(fused).isEmpty)
    assert(fused.count() > 0)
  }
}
