package graft

import graft.store.VectorStore
import org.apache.spark.sql.types.{BinaryType, StringType}

/** The parquet schema cache behind [[VectorStore.read]] replays an
  * inferred schema only under the session confs it was inferred with:
  * the same files read under a different inference-shaping conf
  * re-infer. */
class SchemaCacheSpec extends SparkSpec {

  /** One parquet file holding an un-annotated BINARY column, written
    * without Spark's schema footer (as external writers do) — the file
    * shape whose inferred type `binaryAsString` decides. */
  private def writeExternal(dir: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required binary payload; }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/part-00000.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("payload", "hi"))
    finally w.close()
  }

  test("schema cache: a flipped binaryAsString re-infers the same store path") {
    val store = VectorStore(
      java.nio.file.Files.createTempDirectory("graft_schema_cache").toString)
    val conf = "spark.sql.parquet.binaryAsString"
    val saved = spark.conf.getOption(conf)
    try {
      writeExternal(s"${store.root}/blobs")
      def payloadType() = store.read(spark, "blobs").schema("payload").dataType
      spark.conf.set(conf, "false")
      assert(payloadType() == BinaryType)
      spark.conf.set(conf, "true")
      assert(payloadType() == StringType, "a schema cached under binaryAsString=false " +
        "was replayed after the conf flipped")
      assert(store.read(spark, "blobs").head().getString(1) == "hi")
      spark.conf.set(conf, "false")
      assert(payloadType() == BinaryType)
    } finally {
      saved.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
      store.destroy()
    }
  }
}
