package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.io.{Catalog, ParquetTable}

/** Explicit log-derived partition registration
  * ([[org.apache.spark.sql.GraftCatalogPartitions]] via
  * [[Catalog.registerTable]]): the catalog entry must expose EXACTLY the
  * live leaf partitions — an unregistered partition's rows are silently
  * invisible to SQL reads, which is why the implementation falls back to
  * recoverPartitions on any parse gap rather than registering a subset.
  */
class CatalogPartitionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sqlRows(name: String): Set[(Long, String, Long)] =
    spark.sql(s"SELECT id, status, cents FROM $name")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getLong(2)))
      .toSet

  private def tableRows(t: ParquetTable): Set[(Long, String, Long)] =
    t.read(spark).select("id", "status", "cents")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getLong(2)))
      .toSet

  test("SQL reads through the explicit registration see every live " +
      "partition across overwrite, replace and append commits") {
    val dir = java.nio.file.Files.createTempDirectory("graft_catparts")
    val t = new ParquetTable(s"$dir/t", partitionColumns = Seq("status"))
    t.overwrite(Seq((1L, "O", 10L), (2L, "F", 20L), (3L, "P", 30L))
      .toDF("id", "status", "cents"))
    Catalog.ensureDatabase(spark, "graft_catparts")
    Catalog.registerTable(spark, "graft_catparts", "t", t)
    assert(sqlRows("graft_catparts.t") == tableRows(t))
    val parts = spark.sql("SHOW PARTITIONS graft_catparts.t")
      .collect().map(_.getString(0)).toSet
    assert(parts == Set("status=O", "status=F", "status=P"))

    // replace one leaf (adds a NEW value), hard-link the rest
    t.replacePartitions(Seq((4L, "N", 40L), (2L, "F", 21L))
      .toDF("id", "status", "cents"))
    Catalog.registerTable(spark, "graft_catparts", "t", t)
    assert(sqlRows("graft_catparts.t") == tableRows(t))
    assert(sqlRows("graft_catparts.t").map(_._1) == Set(1L, 2L, 3L, 4L))

    // append-chain commit: linked leaves + a delta leaf
    t.appendVersion(Seq((5L, "X", 50L)).toDF("id", "status", "cents"))
    Catalog.registerTable(spark, "graft_catparts", "t", t)
    assert(sqlRows("graft_catparts.t") == tableRows(t))
    assert(spark.sql("SHOW PARTITIONS graft_catparts.t")
      .collect().map(_.getString(0)).toSet ==
      Set("status=O", "status=F", "status=P", "status=N", "status=X"))
  }

  test("a NULL partition value registers and reads back as NULL " +
      "through the SQL path (hive default-partition dir)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_catparts_n")
    val t = new ParquetTable(s"$dir/t", partitionColumns = Seq("status"))
    t.overwrite(Seq((1L, "O", 10L), (2L, null.asInstanceOf[String], 20L))
      .toDF("id", "status", "cents"))
    Catalog.ensureDatabase(spark, "graft_catparts_n")
    Catalog.registerTable(spark, "graft_catparts_n", "t", t)
    assert(sqlRows("graft_catparts_n.t") == tableRows(t))
    assert(sqlRows("graft_catparts_n.t")
      .exists { case (id, st, _) => id == 2L && st == null })
  }

  test("a commit log that cannot resolve the live version fails " +
      "registration loudly, naming the table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_catparts_f")
    val t = new ParquetTable(s"$dir/t", partitionColumns = Seq("status"))
    t.overwrite(Seq((1L, "O", 10L), (2L, "F", 20L))
      .toDF("id", "status", "cents"))
    // the live version's record is gone: registration must not list the
    // directory in its place
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$dir/t/_log/r_00001.txt"))
    Catalog.ensureDatabase(spark, "graft_catparts_f")
    val e = intercept[IllegalStateException] {
      Catalog.registerTable(spark, "graft_catparts_f", "t", t)
    }
    assert(e.getMessage.contains(t.path) && e.getMessage.contains("v_00001"))
  }
}
