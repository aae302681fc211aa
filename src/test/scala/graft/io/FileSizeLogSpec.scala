package graft.io

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Commit-log file sizes ([[VersionLog.FileEntry.size]]): captured at
  * census time, they let the catalog's live-bytes statistic serve from
  * cached log reads instead of a per-statement filesystem walk — so
  * log-recorded sizes must agree EXACTLY with the files on disk, across
  * overwrite, hard-link append, replace, restore and clone commits
  * (linked files share the inode; their recorded size rides the
  * original census).
  */
class FileSizeLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("resolved log sizes sum to the live version's walked data bytes " +
      "across overwrite, append, replace, restore and clone commits") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fsz")
    val t = new ParquetTable(s"$dir/t", partitionColumns = Seq("status"))
    t.overwrite(Seq((1L, "O", 10L), (2L, "F", 20L))
      .toDF("id", "status", "cents"))
    def check(tbl: ParquetTable = t): Unit =
      assert(LogOracle.resolvedLive(tbl).contains(LogOracle.walkedLive(tbl)),
        "the log's rel paths and sizes must be exactly the live dir's " +
          "data files")
    check()
    t.appendVersion(Seq((3L, "P", 30L)).toDF("id", "status", "cents"))
    check() // linked base files + the delta's own
    t.replacePartitions(Seq((4L, "F", 40L)).toDF("id", "status", "cents"))
    check() // replaced leaf rewritten, the rest linked
    t.restoreVersion(1)
    check() // v1's rel paths mirrored as links; sizes ride v1's record
    check(t.cloneTo(s"$dir/clone")) // the clone's own path and log
  }
}
