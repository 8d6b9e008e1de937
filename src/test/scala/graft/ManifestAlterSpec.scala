package graft

import org.scalatest.funsuite.AnyFunSuite

/** ALTER TABLE through ManifestCatalog (q440's mechanism): ADD COLUMN
  * as pure metadata, RENAME COLUMN as a manifest rewrite (data files
  * resolve columns by position in the manifest's `cols`), era'd schemas
  * for time travel, and loud refusal of everything the storage layer
  * can't serve exactly.
  */
class ManifestAlterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshCatalog(): (String, String) = {
    val base = java.nio.file.Files.createTempDirectory("graft_alt").toString
    val name = "alt_" + math.abs(base.hashCode)
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.ManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.base", base)
    (name, base)
  }

  test("ADD COLUMN: both eras readable, time travel keeps old schema") {
    val (cat, base) = freshCatalog()
    val t = s"$cat.db.t"
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"ALTER TABLE $t ADD COLUMN score BIGINT")
    spark.sql(s"INSERT INTO $t VALUES (3, 'c', 30)")
    // current: era-1 rows surface NULL score
    val cur = spark.sql(s"SELECT k, v, score FROM $t ORDER BY k").collect()
    assert(cur.map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq ==
      Seq((1L, "a", -1L), (2L, "b", -1L), (3L, "c", 30L)))
    // era 1 reads with the PRE-ALTER schema
    val v1 = spark.sql(s"SELECT * FROM $t VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("k", "v"))
    assert(v1.count() == 2)
    // filters on the new column evaluate (old files = all-NULL column)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE score IS NULL")
      .collect().head.getLong(0) == 2)
    // frozen-era file exists
    assert(new java.io.File(s"$base/db/t/_schema-upto-v1.ddl").exists())
  }

  test("RENAME COLUMN on a parquet table rewrites only the manifest") {
    val (cat, base) = freshCatalog()
    val t = s"$cat.db.r"
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    def dataFiles() = new java.io.File(s"$base/db/r").listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).toSet
    val before = dataFiles()
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO label")
    assert(dataFiles() == before, "a rename must not rewrite data files")
    val rows = spark.sql(s"SELECT k, label FROM $t ORDER BY k").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq(1L -> "a", 2L -> "b"), "renamed column must keep its data")
    // pushed filters and file skipping see the renamed column too
    assert(spark.sql(s"SELECT k FROM $t WHERE label = 'b'").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    // era 1 still reads under the old name
    val v1 = spark.sql(s"SELECT * FROM $t VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("k", "v"))
    assert(v1.collect().map(_.getString(1)).sorted.toSeq == Seq("a", "b"))
  }

  test("unsupported changes refuse loudly") {
    val (cat, _) = freshCatalog()
    val t = s"$cat.db.x"
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING) USING parquet")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a')")
    // a rename on a parquet table keeps the data under the new name
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO w")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN w TO v")
    intercept[Exception] { // type change
      spark.sql(s"ALTER TABLE $t ALTER COLUMN k TYPE INT")
    }
    intercept[Exception] { // drop
      spark.sql(s"ALTER TABLE $t DROP COLUMN v")
    }
    intercept[Exception] { // duplicate name
      spark.sql(s"ALTER TABLE $t ADD COLUMN V BIGINT")
    }
    intercept[Exception] { // unsupported type
      spark.sql(s"ALTER TABLE $t ADD COLUMN m MAP<STRING, STRING>")
    }
    // and the table is still intact after every refusal
    assert(spark.sql(s"SELECT k, v FROM $t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq(1L -> "a"))
  }

  test("ADD COLUMN then DML: merge sees NULLs, updates fill them") {
    val (cat, _) = freshCatalog()
    val t = s"$cat.db.d"
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"ALTER TABLE $t ADD COLUMN score BIGINT")
    spark.sql(s"UPDATE $t SET score = k * 10 WHERE k = 2")
    val rows = spark.sql(s"SELECT k, coalesce(score, -1) FROM $t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq(1L -> -1L, 2L -> 20L))
  }
}
