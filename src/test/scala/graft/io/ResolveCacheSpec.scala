package graft.io

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[ParquetTable.resolveCache]] eviction laws: a bounded LRU, not the
  * former clear-on-overflow — hot serving tables stay warm while cold
  * entries rotate out, and eviction is never a correctness event (a
  * miss just re-resolves from the commit log).
  */
class ResolveCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("overflow evicts the eldest entry only; hot entries stay warm") {
    val cache = ParquetTable.resolveCache
    val before = new java.util.HashMap(cache) // restore after the test
    try {
      cache.clear()
      val hot = "/__lru_spec__/hot@1"
      cache.put(hot, None)
      (1 to 520).foreach { i =>
        cache.put(s"/__lru_spec__/cold$i@1", None)
        cache.get(hot) // keep the hot entry recently used
      }
      assert(cache.size() <= 513,
        s"cache must stay bounded, size ${cache.size()}")
      assert(cache.containsKey(hot),
        "a hot entry must survive overflow (LRU, not clear-on-overflow)")
      assert(!cache.containsKey("/__lru_spec__/cold1@1"),
        "the eldest untouched entry must be the one evicted")
    } finally {
      cache.clear(); cache.putAll(before)
    }
  }

  test("a commit invalidates the path's cached resolutions: " +
      "delete-and-recreate at the same path (reused version numbers) " +
      "stats-skips FRESH instead of silently disabling pruning") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lruinv").toString
    def build(mult: Long): ParquetTable = {
      val t = new ParquetTable(s"$dir/t")
      t.overwrite((1L to 4000L).map(i => (i * mult, s"v$i")).toDF("id", "v"))
      t.compact(spark, 8, sortCols = Seq("id"))
      t
    }
    def scannedVsKept(t: ParquetTable, lo: Long, hi: Long): (Long, Int) = {
      val (kept, total) = t.prunedFileCensus(
        Seq(ColumnBound("id", Some(lo), Some(hi))))
      assert(kept < total, s"fixture must prune (kept $kept of $total)")
      val out = t.read(spark).filter(col("id").between(lo, hi))
      out.collect()
      (org.apache.spark.sql.GraftScanBridge.scannedFileCount(out), kept)
    }
    val t1 = build(1L)
    val (s1, k1) = scannedVsKept(t1, 10L, 20L)
    assert(s1 == k1, s"first build must prune exactly ($s1 vs $k1)")
    // the q122 re-run shape: same path, same version numbers, new data
    graft.io.FsUtil.deleteRecursively(java.nio.file.Paths.get(s"$dir/t"))
    val t2 = build(3L)
    val (s2, k2) = scannedVsKept(t2, 30L, 60L)
    assert(s2 == k2,
      s"a recreated table must stats-skip fresh, not serve the stale " +
        s"resolution (scanned $s2 of kept $k2) — commit-time " +
        "invalidation failed")
  }

  test("eviction is never a correctness event: a read after full " +
      "eviction re-resolves from the commit log") {
    val cache = ParquetTable.resolveCache
    val before = new java.util.HashMap(cache)
    try {
      val dir = Files.createTempDirectory("graft_lru").toString
      val t = new ParquetTable(s"$dir/t")
      import spark.implicits._
      t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
      val resolved = VersionLog.resolveFiles(s"$dir/t", 1)
      assert(resolved.nonEmpty)
      cache.clear()
      assert(t.read(spark).count() == 2L,
        "a read after full eviction must re-resolve and serve")
      assert(ParquetTable.resolveFilesCached(s"$dir/t", 1) == resolved,
        "re-resolution must reproduce the evicted entry")
    } finally {
      cache.clear(); cache.putAll(before)
    }
  }
}
