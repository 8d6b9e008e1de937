package graft.lineage

import graft.TestSpark
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The lineage store's direct parquet writes: side tables persist their
  * declared column types even with no rows, and a replace that fails
  * part-way leaves the previous entity readable. */
class LineageStoreWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_store").toString

  test("an empty writeDashboards persists the declared column types") {
    val path = s"${freshDir()}/ts_dboard"
    SideTables.writeDashboards(spark, Seq.empty, path)
    val df = spark.read.parquet(path)
    assert(df.count() == 0)
    assert(df.schema("native_id").dataType == LongType)
    assert(df.schema("native_created_ts").dataType == LongType)
    assert(df.schema("title").dataType == StringType)
  }

  test("a writer failing mid-write leaves the previous entity readable") {
    val root = freshDir()
    val path = s"$root/dataset"
    val schema = StructType.fromDDL("id BIGINT, name STRING")
    LineageStore.writeEntity(path, schema,
      Seq(Seq[Any](1L, "a"), Seq[Any](2L, "b")))
    // the second row carries a value the writer cannot encode: the
    // replacement fails after its file was opened and a row written
    intercept[UnsupportedOperationException] {
      LineageStore.writeEntity(path, schema,
        Seq(Seq[Any](3L, "c"), Seq[Any](4L, Integer.valueOf(4))))
    }
    val back = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(back == Seq(1L -> "a", 2L -> "b"))
    // no staging residue next to the entity
    assert(new java.io.File(root).list().toSeq == Seq("dataset"))
    // and a later replace still succeeds
    LineageStore.writeEntity(path, schema, Seq(Seq[Any](5L, "e")))
    assert(spark.read.parquet(path).collect().map(_.getLong(0)).toSeq ==
      Seq(5L))
  }
}
