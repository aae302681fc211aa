package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.io.ParquetTable

/** S2/S3 — versioned parquet table (Delta-semantics emulation). */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("createIfNotExists writes once, overwrite bumps the version") {
    val dir = Files.createTempDirectory("graft_tbl").toString
    val t = new ParquetTable(s"$dir/t1")
    assert(!t.exists)
    t.createIfNotExists(Seq((1, "a")).toDF("id", "v"))
    assert(t.exists)
    // second create is a no-op
    t.createIfNotExists(Seq((99, "zz")).toDF("id", "v"))
    TestSpark.assertSameRows(t.read(spark), Seq(Seq(1, "a")))
    // overwrite replaces content; old version dir remains for in-flight readers
    t.overwrite(Seq((2, "b")).toDF("id", "v"))
    TestSpark.assertSameRows(t.read(spark), Seq(Seq(2, "b")))
  }

  test("partitioned write keeps partition columns readable") {
    val dir = Files.createTempDirectory("graft_tbl").toString
    val t = new ParquetTable(s"$dir/t2", partitionColumns = Seq("year"))
    t.overwrite(Seq((1, 2023), (2, 2024)).toDF("id", "year"))
    TestSpark.assertSameRows(t.read(spark).select("id", "year"),
      Seq(Seq(1, 2023), Seq(2, 2024)))
  }

  test("empty partitioned write stays readable with its schema") {
    val dir = Files.createTempDirectory("graft_tbl").toString
    val t = new ParquetTable(s"$dir/t_empty", partitionColumns = Seq("year"))
    val empty = Seq((1, 2024, "x")).toDF("id", "year", "v").filter("id < 0")
    t.overwrite(empty)
    // a naive partitioned write of zero rows creates no parquet files and
    // the table becomes uninferable — the DLQ loop hits this whenever a
    // batch has nothing invalid
    assert(t.read(spark).count() == 0)
    assert(t.read(spark).columns.toSet == Set("id", "year", "v"))
    // and a later non-empty overwrite restores the partitioned layout
    t.overwrite(Seq((1, 2024, "x")).toDF("id", "year", "v"))
    assert(t.read(spark).count() == 1)
  }

  test("time travel reads retained versions; vacuum drops all but the live one") {
    val dir = Files.createTempDirectory("graft_tbl").toString
    val t = new ParquetTable(s"$dir/t3")
    t.overwrite(Seq((1, "a")).toDF("id", "v"))
    t.overwrite(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    assert(t.version == 2)
    TestSpark.assertSameRows(t.readVersion(spark, 1), Seq(Seq(1, "a")))
    TestSpark.assertSameRows(t.read(spark), Seq(Seq(1, "a"), Seq(2, "b")))
    t.vacuum()
    intercept[IllegalArgumentException](t.readVersion(spark, 1))
    TestSpark.assertSameRows(t.read(spark), Seq(Seq(1, "a"), Seq(2, "b")))
  }

  test("appendVersion unions via hard links; data survives vacuuming the " +
      "linked-from version") {
    val dir = Files.createTempDirectory("graft_tbl_app").toString
    val t = new ParquetTable(s"$dir/t", partitionColumns = Seq("p"))
    t.overwrite(Seq((1, "a", 0), (2, "b", 1)).toDF("id", "v", "p"))
    t.appendVersion(Seq((3, "c", 1), (4, "d", 2)).toDF("id", "v", "p"))
    assert(t.version == 2)
    // new version = delta + every existing row, old version untouched
    TestSpark.assertSameRows(t.read(spark).select("id", "v", "p"), Seq(
      Seq(1, "a", 0), Seq(2, "b", 1), Seq(3, "c", 1), Seq(4, "d", 2)))
    TestSpark.assertSameRows(t.readVersion(spark, 1).select("id", "v", "p"),
      Seq(Seq(1, "a", 0), Seq(2, "b", 1)))
    // a sidecar (underscore model file) rides into the appended version
    graft.io.Sidecar.write(
      java.nio.file.Paths.get(s"$dir/t/v_00002"), "_model.csv", Seq("x=1"))
    t.appendVersion(Seq((5, "e", 0)).toDF("id", "v", "p"))
    assert(graft.io.Sidecar.read(s"$dir/t", Seq("p"), "_model.csv")
      .contains(Vector("x=1")))
    // vacuum unlinks the old versions' NAMES; shared inodes keep the
    // live version fully readable
    t.vacuum()
    intercept[IllegalArgumentException](t.readVersion(spark, 1))
    assert(t.read(spark).count() == 5)
  }

  test("replacePartitions rewrites only the named partitions; the rest " +
      "ride as hard links; stale replacers fail") {
    val dir = Files.createTempDirectory("graft_tbl_rp").toString
    val t = new ParquetTable(s"$dir/t", partitionColumns = Seq("p"))
    t.overwrite(Seq((1, "a", 0), (2, "b", 1), (3, "c", 1), (4, "d", 2))
      .toDF("id", "v", "p"))
    t.replacePartitions(Seq((20, "B2", 1), (21, "B3", 1)).toDF("id", "v", "p"))
    assert(t.version == 2)
    TestSpark.assertSameRows(t.read(spark).select("id", "v", "p"), Seq(
      Seq(1, "a", 0), Seq(4, "d", 2), Seq(20, "B2", 1), Seq(21, "B3", 1)))
    // time travel intact: v1 still holds the original partition content
    TestSpark.assertSameRows(
      t.readVersion(spark, 1).select("id", "v", "p").filter("p = 1"),
      Seq(Seq(2, "b", 1), Seq(3, "c", 1)))
    // the untouched partitions' files are HARD LINKS of the previous
    // version's (same inode) — the O(delta) write claim, mechanically
    def inodes(v: Int, part: String): Set[Any] = {
      val d = java.nio.file.Paths.get(s"$dir/t", f"v_$v%05d", part)
      Files.list(d).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => Files.getAttribute(p, "unix:ino")).toSet
    }
    assert(inodes(2, "p=0") == inodes(1, "p=0"),
      "untouched partition must ride as hard links, not copies")
    assert(inodes(2, "p=1").intersect(inodes(1, "p=1")).isEmpty,
      "replaced partition must hold fresh files")
    // replacing a partition that did not exist yet just adds it
    t.replacePartitions(Seq((30, "N", 7)).toDF("id", "v", "p"))
    assert(t.read(spark).count() == 5)
    // multi-column partitioning replaces at LEAF granularity: only the
    // exact (a, b) tuple is rewritten, sibling leaves under the same
    // first-level value ride as links
    val t2 = new ParquetTable(s"$dir/t2", partitionColumns = Seq("a", "b"))
    t2.overwrite(Seq((1, 10, 1), (2, 10, 2), (3, 20, 1)).toDF("x", "a", "b"))
    t2.replacePartitions(Seq((9, 10, 2)).toDF("x", "a", "b"))
    TestSpark.assertSameRows(t2.read(spark).select("x", "a", "b"),
      Seq(Seq(1, 10, 1), Seq(3, 20, 1), Seq(9, 10, 2)))
  }

  test("vacuum ages out a hard-killed writer's orphaned staging dir but " +
      "protects a recent in-flight one") {
    val dir = Files.createTempDirectory("graft_tbl_vac").toString
    val t = new ParquetTable(s"$dir/t")
    t.overwrite(Seq((1, "a")).toDF("id", "v"))
    t.overwrite(Seq((2, "b")).toDF("id", "v"))
    t.overwrite(Seq((3, "c")).toDF("id", "v")) // live = v3
    // a writer hard-killed mid-stage leaves its private staging dir
    val orphan = java.nio.file.Paths.get(s"$dir/t", "_stage_killed")
    Files.createDirectories(orphan.resolve("k=1"))
    Files.writeString(orphan.resolve("k=1").resolve("part-0.parquet"), "")
    // a recent one may be an in-flight writer — protected
    t.vacuum()
    assert(Files.exists(orphan), "recent staging dir must survive")
    assert(graft.io.LogOracle.versionDirs(t) == Seq("v_00003"))
    // age it past the TTL — now it is residue and is collected
    Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 48L * 3600 * 1000))
    t.vacuum()
    assert(!Files.exists(orphan),
      "aged-out orphaned staging dir must be collected")
    assert(t.read(spark).count() == 1) // live version untouched
  }

  test("appendVersion fails loudly when a partitioned handle reopens a " +
      "table whose base holds real unpartitioned rows") {
    val dir = Files.createTempDirectory("graft_tbl_mix").toString
    // base written through an UNPARTITIONED handle: data rows at root
    new ParquetTable(s"$dir/t")
      .overwrite(Seq((1, "a", 0), (2, "b", 1)).toDF("id", "v", "p"))
    val repart = new ParquetTable(s"$dir/t", partitionColumns = Seq("p"))
    val e = intercept[IllegalStateException] {
      repart.appendVersion(Seq((3, "c", 2)).toDF("id", "v", "p"))
    }
    assert(e.getMessage.contains("unpartitioned"))
    // the failed append must not have committed anything
    assert(new ParquetTable(s"$dir/t").version == 1)
    assert(new ParquetTable(s"$dir/t").read(spark).count() == 2)
  }

  test("overwriteIf is an optimistic-concurrency commit: stale writers " +
      "fail without clobbering, leaving no staged dir") {
    val dir = Files.createTempDirectory("graft_tbl_occ").toString
    val t = new ParquetTable(s"$dir/t")
    // expected 0 = the table must not exist yet
    t.overwriteIf(Seq((1, "a")).toDF("id", "v"), 0)
    assert(t.version == 1)
    // the OCC loop: read version, compute, commit at the read version
    t.overwriteIf(Seq((1, "a2")).toDF("id", "v"), 1)
    assert(t.version == 2)
    // a commit computed against v1 AFTER v2 landed must fail fast and
    // leave both the pointer and the content untouched
    val e = intercept[java.util.ConcurrentModificationException] {
      t.overwriteIf(Seq((9, "stale")).toDF("id", "v"), 1)
    }
    assert(e.getMessage.contains("expected version 1"))
    assert(t.version == 2)
    TestSpark.assertSameRows(t.read(spark), Seq(Seq(1, "a2")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/t", "v_00003")),
      "a failed commit must not leave its staged version dir behind")
    // interleaved writers: B reads, A commits, B's conditional commit fails
    val vB = t.version
    new ParquetTable(s"$dir/t").overwrite(Seq((2, "b")).toDF("id", "v"))
    intercept[java.util.ConcurrentModificationException] {
      t.overwriteIf(Seq((3, "c")).toDF("id", "v"), vB)
    }
    TestSpark.assertSameRows(t.read(spark), Seq(Seq(2, "b")))
  }

  test("a failed stage leaves no trace for every commit kind: pointer, " +
      "version, staged dirs, log records and rows stay as they were") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, lit, udf}
    import scala.jdk.CollectionConverters._
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("stage-boom"); x
    }
    def base = Seq((1L, "A", 10L), (2L, "B", 20L)).toDF("id", "status", "cents")
    // the repartition keeps the optimizer from folding the UDF over the
    // local relation at planning time: it raises in the write's tasks
    def bad = Seq((3L, "A", 30L)).toDF("id", "status", "cents")
      .repartition(1).withColumn("cents", boom(col("cents")))
    def feed(d: DataFrame) = d.withColumn("_change_type", lit("insert"))
    val kinds: Seq[(String, ParquetTable => Unit)] = Seq(
      "overwrite" -> (_.overwrite(bad)),
      "overwriteWithChanges" -> (t => t.overwriteWithChanges(bad, feed(bad))),
      "appendVersion" -> (_.appendVersion(bad)),
      "replacePartitions" -> (_.replacePartitions(bad)),
      "replacePartitionsWithChangesCovering" -> (t =>
        t.replacePartitionsWithChangesCovering(bad, feed(bad),
          Array(org.apache.spark.sql.Row("A")))))
    val dir = Files.createTempDirectory("graft_tbl_fail")
    kinds.foreach { case (kind, run) =>
      val t = new ParquetTable(s"$dir/$kind", partitionColumns = Seq("status"))
      t.overwrite(base)
      val root = java.nio.file.Paths.get(t.path)
      def names(d: java.nio.file.Path) = {
        val l = Files.list(d)
        try l.iterator().asScala.map(_.getFileName.toString).toSet
        finally l.close()
      }
      def records = names(root.resolve("_log"))
        .filter(n => n.startsWith("r_") && n.endsWith(".txt"))
      val pointer = Files.readString(root.resolve("_current"))
      val (v, recs, rows) = (t.version, records, TestSpark.rows(t.read(spark)))
      val e = intercept[Exception](run(t))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(x => String.valueOf(x.getMessage))
      assert(msgs.exists(_.contains("stage-boom")),
        s"$kind must fail in its write stage, got $e")
      assert(Files.readString(root.resolve("_current")) == pointer, kind)
      assert(t.version == v, kind)
      val above = names(root).filter(n =>
        (n.startsWith("v_") && n.drop(2).toInt > v) ||
          n.startsWith("_stage_"))
      assert(above.isEmpty, s"$kind left staged dir(s) $above")
      assert(records == recs, s"$kind wrote a log record")
      assert(TestSpark.rows(t.read(spark)) == rows, kind)
    }
  }

  test("compact collapses small files and preserves content") {
    val dir = Files.createTempDirectory("graft_tbl").toString
    val t = new ParquetTable(s"$dir/t5")
    t.overwrite(spark.range(1000).toDF("id").repartition(16))
    def partFiles = {
      val v = Files.list(java.nio.file.Paths.get(s"$dir/t5"))
        .filter(_.getFileName.toString.startsWith("v_")).sorted().toArray.last
      Files.list(v.asInstanceOf[java.nio.file.Path]).filter(
        _.getFileName.toString.endsWith(".parquet")).count()
    }
    assert(partFiles == 16)
    val before = TestSpark.rows(t.read(spark))
    t.compact(spark, targetPartitions = 2, sortCols = Seq("id"))
    assert(partFiles == 2)
    assert(TestSpark.rows(t.read(spark)) == before)
    // z-order rewrite: same multiset, helper column gone, file budget kept
    t.compactZOrder(spark, targetPartitions = 4, zCols = Seq("id"))
    assert(partFiles == 4)
    assert(TestSpark.rows(t.read(spark)) == before)
    assert(!t.read(spark).columns.contains("__z"))
  }

  test("sorted compact works on a table carrying a map column") {
    // the skew tiebreaker hashes rows; xxhash64 on a MapType is an
    // AnalysisException, so the hash must skip unhashable columns rather
    // than fail the whole compaction
    val dir = Files.createTempDirectory("graft_tbl").toString
    val t = new ParquetTable(s"$dir/t5m")
    t.overwrite(spark.range(100).toDF("id")
      .withColumn("attrs", org.apache.spark.sql.functions.map(
        org.apache.spark.sql.functions.lit("k"),
        org.apache.spark.sql.functions.col("id")))
      .repartition(8))
    t.compact(spark, targetPartitions = 2, sortCols = Seq("id"))
    assert(t.read(spark).count() == 100)
    assert(t.read(spark).select("attrs").first().getMap[String, Long](0)
      .nonEmpty)
  }

  test("normalizeTs: NTZ fails loudly outside UTC; instant timestamps " +
      "are zone-independent and normalize anywhere") {
    val instantDf = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "ts")
    val ntzDf = Seq((1L, java.time.LocalDateTime.of(2024, 1, 1, 0, 0)))
      .toDF("id", "ts")
    assert(ntzDf.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    // UTC session: both normalize to long ns
    assert(graft.io.Tables.normalizeTs(instantDf).schema("ts").dataType
      .typeName == "long")
    assert(graft.io.Tables.normalizeTs(ntzDf).schema("ts").dataType
      .typeName == "long")
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      // the NTZ→instant cast reads the session zone → must refuse
      val e = intercept[IllegalArgumentException] {
        graft.io.Tables.normalizeTs(ntzDf)
      }
      assert(e.getMessage.contains("UTC"))
      // instant semantics are session-zone-INDEPENDENT: same ns value
      // in any zone — rejecting this would spuriously fail valid reads
      val nyNs = graft.io.Tables.normalizeTs(instantDf)
        .collect()(0).getLong(1)
      spark.conf.set("spark.sql.session.timeZone", prev)
      val utcNs = graft.io.Tables.normalizeTs(instantDf)
        .collect()(0).getLong(1)
      assert(nyNs === utcNs)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
    // non-ts frames pass through untouched regardless of zone
    assert(graft.io.Tables.normalizeTs(Seq((1, "x")).toDF("id", "v"))
      .columns.toSeq == Seq("id", "v"))
  }

  test("changesBetween emits insert/delete pairs, null-safe on every column") {
    val dir = Files.createTempDirectory("graft_tbl").toString
    val t = new ParquetTable(s"$dir/t4")
    // v1: an unchanged NULL-bearing row, a row that will be updated, one deleted
    t.overwrite(Seq(
      (1L, Option.empty[String]), (2L, Some("old")), (3L, Some("gone")))
      .toDF("id", "v"))
    // v2: NULL row untouched, id=2 updated, id=3 deleted, id=4 inserted
    t.overwrite(Seq(
      (1L, Option.empty[String]), (2L, Some("new")), (4L, Some("add")))
      .toDF("id", "v"))
    val changes = t.changesBetween(spark, 1, 2)
    TestSpark.assertSameRows(changes, Seq(
      Seq(2L, "new", "insert"),
      Seq(4L, "add", "insert"),
      Seq(2L, "old", "delete"),
      Seq(3L, "gone", "delete")))
  }

  test("changesBetween has multiset semantics: copy-count deltas are reported") {
    val dir = Files.createTempDirectory("graft_tbl").toString
    val t = new ParquetTable(s"$dir/t6")
    t.overwrite(Seq((1L, "x")).toDF("id", "v"))
    // the same row now appears 3 times, plus a doubled brand-new row
    t.overwrite(Seq((1L, "x"), (1L, "x"), (1L, "x"), (2L, "y"), (2L, "y"))
      .toDF("id", "v"))
    TestSpark.assertSameRows(t.changesBetween(spark, 1, 2), Seq(
      Seq(1L, "x", "insert"), Seq(1L, "x", "insert"),
      Seq(2L, "y", "insert"), Seq(2L, "y", "insert")))
    // and the reverse direction reports the symmetric deletes
    TestSpark.assertSameRows(t.changesBetween(spark, 2, 1), Seq(
      Seq(1L, "x", "delete"), Seq(1L, "x", "delete"),
      Seq(2L, "y", "delete"), Seq(2L, "y", "delete")))
  }

  test("changesBetween append-chain fast path: a hard-link append chain " +
      "yields the delta rows as inserts while scanning ONLY the new " +
      "files (O(batch), never the accumulated corpus); a rewrite in the " +
      "chain falls back to the generic full diff") {
    val dir = Files.createTempDirectory("graft_tbl").toString
    val t = new ParquetTable(s"$dir/chain")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.appendVersion(Seq((3L, "c")).toDF("id", "v"))
    t.appendVersion(Seq((4L, "d"), (5L, "e")).toDF("id", "v"))
    // multi-append jump v1→v3: exactly the three appended rows, inserts
    val changes = t.changesBetween(spark, 1, 3)
    TestSpark.assertSameRows(changes, Seq(
      Seq(3L, "c", "insert"), Seq(4L, "d", "insert"), Seq(5L, "e", "insert")))
    // the O(delta) claim, structurally: the scan reads only files that
    // are NOT v1's linked names — the accumulated base is never touched
    val v1Names = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/chain/v_00001"))
        .iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
    }
    val scanned = changes.inputFiles.map(f => f.split('/').last).toSet
    assert(scanned.nonEmpty && scanned.forall(n => !v1Names.contains(n)),
      s"fast-path CDF must not scan the base version's files; scanned " +
        s"$scanned vs base $v1Names")
    // an overwrite in the chain breaks the subset property → generic
    // diff, with deletes visible again
    t.overwrite(Seq((1L, "a"), (3L, "c")).toDF("id", "v"))
    TestSpark.assertSameRows(t.changesBetween(spark, 3, 4), Seq(
      Seq(2L, "b", "delete"), Seq(4L, "d", "delete"),
      Seq(5L, "e", "delete")))
    // a vacuumed fromV fails through readVersion's descriptive message,
    // not a raw filesystem error from the fast path's file walk
    t.vacuum()
    val gone = intercept[IllegalArgumentException] {
      t.changesBetween(spark, 1, 4).count()
    }
    assert(gone.getMessage.contains("does not exist"))
    // PARTITIONED fast path: the delta read must carry the COMMITTED
    // schema — dir-layout inference would type bucket=3 as int where
    // the table committed long (the PackStream.recover regression)
    val pt = new ParquetTable(s"$dir/pchain", partitionColumns = Seq("bucket"))
    pt.overwrite(Seq((1L, "a", 0L)).toDF("id", "v", "bucket"))
    pt.appendVersion(Seq((2L, "b", 3L)).toDF("id", "v", "bucket"))
    val pc = pt.changesBetween(spark, 1, 2)
    assert(pc.schema("bucket").dataType ==
      org.apache.spark.sql.types.LongType,
      "fast-path CDF must read partition columns at the committed type")
    TestSpark.assertSameRows(pc, Seq(Seq(2L, "b", 3L, "insert")))
  }

  test("write-side change feed: changesBetween serves persisted feeds, " +
      "nets insert/delete across the span, and never reads the old " +
      "snapshot (the overwrite-chain CDF cost collapse)") {
    import org.apache.spark.sql.functions.lit
    val dir = Files.createTempDirectory("graft_tbl").toString
    val t = new ParquetTable(s"$dir/feed")
    // spec mode: every declared feed is recomputed and cross-checked
    spark.conf.set("graft.cdf.verifyDeclaredChanges", "true")
    try {
      val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      t.overwriteWithChanges(v1, v1.withColumn("_change_type", lit("insert")))
      // v2: update id=2 (delete+insert pair), insert id=3
      t.overwriteWithChanges(
        Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("id", "v"),
        Seq((2L, "b", "delete"), (2L, "B", "insert"), (3L, "c", "insert"))
          .toDF("id", "v", "_change_type"))
      // v3: delete id=3 (inserted in v2 — must NET away over 1→3), add id=4
      t.overwriteWithChanges(
        Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("id", "v"),
        Seq((3L, "c", "delete"), (4L, "d", "insert"))
          .toDF("id", "v", "_change_type"))
      // feeds are commit metadata: table reads never see them
      TestSpark.assertSameRows(t.read(spark), Seq(
        Seq(1L, "a"), Seq(2L, "B"), Seq(4L, "d")))
      // single step = the feed's content
      TestSpark.assertSameRows(t.changesBetween(spark, 2, 3), Seq(
        Seq(3L, "c", "delete"), Seq(4L, "d", "insert")))
      // the span nets: id=3's insert-then-delete cancels, exactly the
      // generic diff's multiset semantics
      TestSpark.assertSameRows(t.changesBetween(spark, 1, 3), Seq(
        Seq(2L, "b", "delete"), Seq(2L, "B", "insert"),
        Seq(4L, "d", "insert")))
      // structural no-snapshot proof: the CDF scan touches ONLY feed files
      val scanned = t.changesBetween(spark, 1, 3).inputFiles
      assert(scanned.nonEmpty && scanned.forall(_.contains("/_changes/")),
        s"feed-path CDF must read only _changes files, scanned " +
          scanned.mkString(", "))
      // stronger: with the old snapshots' DATA gone entirely (vacuumed
      // history), feed-covered spans still serve — no fallback diff
      graft.io.FsUtil.deleteRecursively(
        java.nio.file.Paths.get(s"$dir/feed/v_00001"))
      assert(t.changesBetween(spark, 1, 3).count() == 3)
    } finally spark.conf.unset("graft.cdf.verifyDeclaredChanges")
  }

  test("write-side change feed: a mixed feed/append chain is served " +
      "step-wise; an appended version never inherits the base's feed") {
    import org.apache.spark.sql.functions.lit
    val dir = Files.createTempDirectory("graft_tbl").toString
    val t = new ParquetTable(s"$dir/mix")
    val v1 = Seq((1L, "a")).toDF("id", "v")
    t.overwriteWithChanges(v1, v1.withColumn("_change_type", lit("insert")))
    t.overwriteWithChanges(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      Seq((2L, "b", "insert")).toDF("id", "v", "_change_type"))
    t.appendVersion(Seq((3L, "c")).toDF("id", "v"))
    // the hard-link walk must NOT have carried v2's feed into v3
    assert(!Files.exists(
      java.nio.file.Paths.get(s"$dir/mix/v_00003/_changes")),
      "append must not inherit the base version's change feed")
    // and the appended version still CDFs correctly after a feed commit
    // (feed files excluded from the file-subset census)
    TestSpark.assertSameRows(t.changesBetween(spark, 2, 3),
      Seq(Seq(3L, "c", "insert")))
    // mixed span: feed step (v2) + append step (v3), one netted result
    TestSpark.assertSameRows(t.changesBetween(spark, 1, 3), Seq(
      Seq(2L, "b", "insert"), Seq(3L, "c", "insert")))
    // a plain overwrite (no feed) breaks coverage → generic diff still
    // correct (deletes reappear)
    t.overwrite(Seq((1L, "a")).toDF("id", "v"))
    TestSpark.assertSameRows(t.changesBetween(spark, 1, 4), Seq.empty)
    TestSpark.assertSameRows(t.changesBetween(spark, 2, 4), Seq(
      Seq(2L, "b", "delete")))
  }

  test("write-side change feed: verify mode rejects a divergent feed; " +
      "shape violations fail before any I/O; empty feeds stay readable") {
    import org.apache.spark.sql.functions.lit
    val dir = Files.createTempDirectory("graft_tbl").toString
    val t = new ParquetTable(s"$dir/guard")
    val v1 = Seq((1L, "a")).toDF("id", "v")
    t.overwriteWithChanges(v1, v1.withColumn("_change_type", lit("insert")))
    // a WRONG declared feed (claims an insert that is not in the diff)
    // is caught under verify mode and the commit rolls back
    spark.conf.set("graft.cdf.verifyDeclaredChanges", "true")
    try {
      val bad = intercept[IllegalArgumentException] {
        t.overwriteWithChanges(
          Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
          Seq((9L, "x", "insert")).toDF("id", "v", "_change_type"))
      }
      assert(bad.getMessage.contains("diverges"))
      assert(t.version == 1, "failed feed verification must not commit")
      // shape: missing data column
      val shape = intercept[IllegalArgumentException] {
        t.overwriteWithChanges(
          Seq((1L, "a")).toDF("id", "v"),
          Seq((1L, "insert")).toDF("id", "_change_type"))
      }
      assert(shape.getMessage.contains("must be exactly"))
      // an EMPTY feed (no-change commit) writes, reads and spans fine
      t.overwriteWithChanges(Seq((1L, "a")).toDF("id", "v"),
        Seq.empty[(Long, String, String)].toDF("id", "v", "_change_type"))
      assert(t.version == 2)
      assert(t.changesBetween(spark, 1, 2).count() == 0)
      val scanned = t.changesBetween(spark, 1, 2).inputFiles
      assert(scanned.forall(_.contains("/_changes/")))
    } finally spark.conf.unset("graft.cdf.verifyDeclaredChanges")
  }

  test("write-side change feed on a PARTITIONED table: partition " +
      "discovery ignores the feed dir, the step path serves it") {
    import org.apache.spark.sql.functions.lit
    val dir = Files.createTempDirectory("graft_tbl").toString
    val t = new ParquetTable(s"$dir/pfeed", partitionColumns = Seq("year"))
    val v1 = Seq((1L, "a", 2024)).toDF("id", "v", "year")
    t.overwriteWithChanges(v1, v1.withColumn("_change_type", lit("insert")))
    t.overwriteWithChanges(
      Seq((1L, "a", 2024), (2L, "b", 2025)).toDF("id", "v", "year"),
      Seq((2L, "b", 2025, "insert")).toDF("id", "v", "year", "_change_type"))
    TestSpark.assertSameRows(t.read(spark).select("id", "v", "year"), Seq(
      Seq(1L, "a", 2024), Seq(2L, "b", 2024 + 1)))
    TestSpark.assertSameRows(
      t.changesBetween(spark, 1, 2).select("id", "v", "year", "_change_type"),
      Seq(Seq(2L, "b", 2025, "insert")))
  }

  test("property: changesBetween equals the independent multiset diff " +
      "over a seeded random mix of feed-committed overwrites, appends " +
      "and plain overwrites, for every version span") {
    import org.apache.spark.sql.functions.lit
    val rng = new scala.util.Random(20260815L)
    val dir = Files.createTempDirectory("graft_tbl").toString
    val t = new ParquetTable(s"$dir/prop")
    spark.conf.set("graft.cdf.verifyDeclaredChanges", "true")
    try {
      // state as a Scala map id → value; duplicates exercised via a
      // fixed always-present doubled row
      var state = Map(1L -> "a", 2L -> "b")
      def toDf(m: Map[Long, String]) =
        (m.toSeq :+ (99L, "dup") :+ (99L, "dup"))
          .toDF("id", "v")
      def mutated(step: Int): Map[Long, String] = {
        var m = state
        for (_ <- 1 to 1 + rng.nextInt(3)) rng.nextInt(3) match {
          case 0 => m = m + (rng.nextInt(10).toLong -> s"v$step")
          case 1 if m.nonEmpty => m = m - m.keys.toSeq(rng.nextInt(m.size))
          case _ if m.nonEmpty =>
            val k = m.keys.toSeq(rng.nextInt(m.size))
            m = m + (k -> s"u$step")
          case _ => ()
        }
        m
      }
      t.overwrite(toDf(state))
      for (step <- 1 to 7) rng.nextInt(3) match {
        case 2 => // pure-insert step through the hard-link append
          val added = (100L + step).toLong -> s"n$step"
          t.appendVersion(Seq(added).toDF("id", "v"))
          state = state + added
        case c =>
          val nextState = mutated(step)
          if (c == 0) t.overwrite(toDf(nextState)) // legacy: no feed
          else { // feed-declared overwrite (exact diff, verify-mode ON)
            val old = toDf(state); val nw = toDf(nextState)
            t.overwriteWithChanges(nw,
              nw.exceptAll(old).withColumn("_change_type", lit("insert"))
                .unionByName(old.exceptAll(nw)
                  .withColumn("_change_type", lit("delete"))))
          }
          state = nextState
      }
      val top = t.version
      for (from <- 1 to top; to <- 1 to top if from != to) {
        val expected = t.readVersion(spark, to)
            .exceptAll(t.readVersion(spark, from))
            .withColumn("_change_type", lit("insert"))
          .unionByName(t.readVersion(spark, from)
            .exceptAll(t.readVersion(spark, to))
            .withColumn("_change_type", lit("delete")))
        val got = t.changesBetween(spark, from, to)
        assert(got.exceptAll(expected).isEmpty &&
          expected.exceptAll(got).isEmpty,
          s"span $from->$to diverges from the independent diff")
      }
    } finally spark.conf.unset("graft.cdf.verifyDeclaredChanges")
  }

  test("schema evolution: an appended column reads as null on old rows, " +
      "time travel keeps old schemas, history is not corrupted") {
    val dir = Files.createTempDirectory("graft_tbl").toString
    val t = new ParquetTable(s"$dir/evo")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.appendVersion(Seq((3L, "c", 30)).toDF("id", "v", "score"))
    // live read: evolved schema, base rows null-filled, DETERMINISTIC —
    // footer inference over the mixed-schema version dir could pick a
    // base file and silently drop `score`
    val live = t.read(spark)
    assert(live.columns.toSeq === Seq("id", "v", "score"))
    TestSpark.assertSameRows(live, Seq(
      Seq(1L, "a", null), Seq(2L, "b", null), Seq(3L, "c", 30)))
    // time travel: v1 keeps its own committed 2-column schema (the
    // evolved rewrite must not have mutated the hard-link-shared sidecar)
    val v1 = t.readVersion(spark, 1)
    assert(v1.columns.toSeq === Seq("id", "v"))
    TestSpark.assertSameRows(v1, Seq(Seq(1L, "a"), Seq(2L, "b")))
    // CDF across the evolution, aligned on the new schema: the column
    // add alone changes nothing — only the genuinely new row surfaces
    TestSpark.assertSameRows(t.changesBetween(spark, 1, 2),
      Seq(Seq(3L, "c", 30, "insert")))
    // type conflicts refuse loudly instead of silently coercing
    val err = intercept[IllegalArgumentException] {
      t.appendVersion(Seq(("oops", "d")).toDF("id", "v"))
    }
    assert(err.getMessage.contains("conflicts"))
  }

  test("replacePartitions refuses the data-loss and silent-duplicate " +
      "classes: root-level data rows, NULL / escape-needing partition " +
      "values, schema drift") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tbl_rp_guard").toString
    // (1) a table first written through an UNPARTITIONED handle and later
    // reopened with partitionColumns has real data rows at root level —
    // replacePartitions must refuse rather than silently drop them from
    // the new version (the appendVersion guard, applied here too)
    new ParquetTable(s"$dir/t")
      .overwrite(Seq((1, "a", 0), (2, "b", 1)).toDF("id", "v", "p"))
    val reopened = new ParquetTable(s"$dir/t", partitionColumns = Seq("p"))
    val err = intercept[IllegalStateException] {
      reopened.replacePartitions(Seq((9, "z", 1)).toDF("id", "v", "p"))
    }
    assert(err.getMessage.contains("unpartitioned"))
    assert(reopened.version == 1, "failed replace must not commit")
    assert(reopened.read(spark).count() == 2, "no rows may be lost")

    val t = new ParquetTable(s"$dir/t2", partitionColumns = Seq("p"))
    t.overwrite(Seq((1, "a", "x"), (2, "b", "y")).toDF("id", "v", "p"))
    // (2) NULL partition value: Spark writes __HIVE_DEFAULT_PARTITION__,
    // which a toString render would never match — the old files would
    // silently ride along next to the new rows. Refused loudly.
    val nullErr = intercept[IllegalArgumentException] {
      t.replacePartitions(
        Seq((3, "c", null.asInstanceOf[String])).toDF("id", "v", "p"))
    }
    assert(nullErr.getMessage.contains("NULL"))
    // (3) a value needing hive path-escaping ('=' writes as %3D on disk)
    val escErr = intercept[IllegalArgumentException] {
      t.replacePartitions(Seq((3, "c", "a=b")).toDF("id", "v", "p"))
    }
    assert(escErr.getMessage.contains("escap"))
    // (4) schema drift: renamed / missing / retyped columns would commit
    // files disagreeing with the _schema.json sidecar — reads of the
    // replaced partitions would silently return NULLs
    val renamed = intercept[IllegalArgumentException] {
      t.replacePartitions(Seq((3, "c", "x")).toDF("id", "renamed", "p"))
    }
    assert(renamed.getMessage.contains("not in the committed schema"))
    val missing = intercept[IllegalArgumentException] {
      t.replacePartitions(Seq((3, "x")).toDF("id", "p"))
    }
    assert(missing.getMessage.contains("missing"))
    val retyped = intercept[IllegalArgumentException] {
      t.replacePartitions(Seq((3L, "c", "x")).toDF("id", "v", "p"))
    }
    assert(retyped.getMessage.contains("conflicts"))
    assert(t.version == 1, "no failed attempt may have committed")
  }

  test("readPruned skips files by commit-metadata stats — no footer " +
      "opens at plan time — and stays a superset of the filter") {
    import org.apache.spark.sql.functions.col
    import graft.io.ColumnBound
    val dir = Files.createTempDirectory("graft_tbl").toString
    val t = new ParquetTable(s"$dir/pr")
    t.overwrite(spark.range(0, 8000).selectExpr("id",
      "cast(id % 97 as string) as tag", "cast(id as double) / 7 as score"))
    // range-clustered compaction: each file owns a contiguous id range,
    // recorded in the commit log at write time
    t.compact(spark, 8, sortCols = Seq("id"))
    val bounds = Seq(ColumnBound("id", Some(2500L), Some(2600L)))
    val (kept, total) = t.prunedFileCensus(bounds)
    assert(total == 8 && kept < total,
      s"stats must prune disjoint files (kept $kept of $total)")
    // the pruned scan reads exactly the surviving files…
    val pruned = t.readPruned(spark, bounds)
    assert(pruned.inputFiles.length == kept)
    // …and filtering it equals filtering the full table (superset law)
    val want = t.read(spark).filter(col("id").between(2500, 2600))
    val got = pruned.filter(col("id").between(2500, 2600))
    assert(got.count() == 101 && want.exceptAll(got).isEmpty &&
      got.exceptAll(want).isEmpty)
    // a bound on a column with no stats never prunes (absent ≠ empty)
    assert(t.prunedFileCensus(
      Seq(ColumnBound("nope", Some(1L), None)))._1 == total)
  }

  test("vacuumKeepingFeeds: pre-horizon versions reclaimed entirely, " +
      "post-horizon snapshots emptied but feeds serve, and an IVM " +
      "consumer behind live still advances to rebuild parity") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.gold.GoldMaintenance
    val dir = Files.createTempDirectory("graft_tbl").toString
    val t = new ParquetTable(s"$dir/src")
    val v1 = Seq((1L, "g1"), (2L, "g1")).toDF("id", "g")
    t.overwriteWithChanges(v1, v1.withColumn("_change_type", lit("insert")))
    // a consumer applies v1, then falls behind two feed commits
    val gold = new ParquetTable(s"$dir/gold")
    GoldMaintenance.advance(spark, t, gold, Seq("g"), col("id"))
    t.overwriteWithChanges(
      Seq((1L, "g1"), (2L, "g2"), (3L, "g2")).toDF("id", "g"),
      Seq((2L, "g1", "delete"), (2L, "g2", "insert"), (3L, "g2", "insert"))
        .toDF("id", "g", "_change_type"))
    t.overwriteWithChanges(
      Seq((1L, "g1"), (2L, "g2"), (3L, "g2"), (4L, "g1")).toDF("id", "g"),
      Seq((4L, "g1", "insert")).toDF("id", "g", "_change_type"))
    val horizon = GoldMaintenance.feedHorizon(t, Seq(gold))
    assert(horizon == 2, s"consumer at v1 needs feeds from v2 (got $horizon)")
    t.vacuumKeepingFeeds(horizon)
    // v1 (below horizon) is gone entirely; v2 keeps ONLY feed + schema
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/src/v_00001")))
    val v2dir = java.nio.file.Paths.get(s"$dir/src/v_00002")
    assert(Files.exists(v2dir.resolve("_changes")))
    assert(graft.io.FsUtil.listDir(v2dir)
      .forall(p => !p.getFileName.toString.endsWith(".parquet")),
      "v2's snapshot data files must be reclaimed")
    // time travel onto the emptied snapshot fails loudly, never reads
    // an empty frame as if it were the data
    val gone = intercept[IllegalArgumentException] {
      t.readVersion(spark, 2)
    }
    assert(gone.getMessage.contains("data-vacuumed"))
    // the consumer still advances 1→3 through the retained feeds…
    GoldMaintenance.advance(spark, t, gold, Seq("g"), col("id"))
    // …and lands exactly on the from-scratch rebuild
    TestSpark.assertSameRows(
      gold.read(spark).orderBy("g"),
      Seq(Seq("g1", 2L, 5L), Seq("g2", 2L, 5L)))
  }

  test("restoreVersion: rollback is a NORMAL commit — content equals " +
      "the restored snapshot, history stays intact, CDF diffs across " +
      "it, stats ride the log, and vacuumed/live edges behave") {
    import graft.io.{ColumnBound, ParquetTable}
    val dir = java.nio.file.Files.createTempDirectory("graft_restore")
    val t = new ParquetTable(s"$dir/t")
    def df(rows: (Long, String)*) = rows.toSeq.toDF("id", "v")
    t.overwrite(df((1L, "a"), (2L, "b")))            // v1
    t.overwrite(df((1L, "a"), (3L, "c"), (4L, "d"))) // v2
    t.overwrite(df((9L, "z")))                       // v3 (bad deploy)
    t.restoreVersion(1)                              // v4 ≡ v1
    assert(t.version == 4, "restore commits a NEW version")
    assert(TestSpark.rows(t.read(spark)) ==
      TestSpark.rows(t.readVersion(spark, 1)))
    // history is untouched: the bad deploy remains auditable
    assert(TestSpark.rows(t.readVersion(spark, 3)) ==
      TestSpark.rows(df((9L, "z"))))
    // CDF across the restore is the exact diff v3 -> v1-content
    val cdf = t.changesBetween(spark, 3, 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(cdf == Set((9L, "z", "delete"), (1L, "a", "insert"),
      (2L, "b", "insert")))
    // the restored commit resolves from the log WITH stats — pruning
    // works immediately (no footer re-opens needed to plan)
    val census = t.prunedFileCensus(
      Seq(ColumnBound("id", Some(100L), Some(200L))))
    assert(census._1 == 0 && census._2 > 0,
      s"restored version must carry prunable stats, census $census")
    // restore of the live version is a no-op
    val v = t.version
    t.restoreVersion(v)
    assert(t.version == v)
    // a data-vacuumed snapshot refuses loudly
    val t2 = new ParquetTable(s"$dir/t2")
    val v1 = df((1L, "a"))
    t2.overwriteWithChanges(v1,
      v1.withColumn("_change_type", org.apache.spark.sql.functions.lit("insert")))
    val v2b = df((1L, "a"), (2L, "b"))
    t2.overwriteWithChanges(v2b,
      df((2L, "b")).withColumn("_change_type",
        org.apache.spark.sql.functions.lit("insert")))
    t2.vacuumKeepingFeeds(keepFeedsFrom = 1)
    intercept[IllegalArgumentException] { t2.restoreVersion(1) }
  }

  test("cloneTo: zero-copy clone shares inodes, carries stats, evolves " +
      "independently, and survives source vacuum") {
    import graft.io.{ColumnBound, ParquetTable}
    val dir = java.nio.file.Files.createTempDirectory("graft_clone")
    val src = new ParquetTable(s"$dir/src")
    val rows = (0L until 100L).map(i => (i, s"r$i"))
    src.overwrite(rows.toDF("id", "v"))
    src.compact(spark, targetPartitions = 4, sortCols = Seq("id"))
    val dst = src.cloneTo(s"$dir/dst")
    assert(TestSpark.rows(dst.read(spark)) == TestSpark.rows(src.read(spark)))
    // ZERO-copy: the clone's data files are the SAME inodes
    def firstParquet(p: String) = {
      val d = java.nio.file.Paths.get(p)
      graft.io.FsUtil.listDir(
          java.nio.file.Paths.get(new ParquetTable(p).currentPath))
        .filter(_.getFileName.toString.endsWith(".parquet")).minBy(_.toString)
    }
    def ino(p: java.nio.file.Path): Any =
      java.nio.file.Files.getAttribute(p, "unix:ino")
    assert(ino(firstParquet(s"$dir/src")) == ino(firstParquet(s"$dir/dst")),
      "clone must hard-link, not copy")
    // stats ride: the clone prunes from its first read
    val census = dst.prunedFileCensus(
      Seq(ColumnBound("id", Some(0L), Some(10L))))
    assert(census._1 < census._2,
      s"clone must carry the source's stats, census $census")
    // independence: the clone evolves without touching the source…
    dst.appendVersion(Seq((999L, "new")).toDF("id", "v"))
    assert(src.read(spark).count() == 100L)
    assert(dst.read(spark).count() == 101L)
    // …and survives the source being vacuumed THEN rewritten (shared
    // inodes persist while the clone links them)
    src.overwrite(Seq((1L, "only")).toDF("id", "v"))
    src.vacuum()
    assert(dst.read(spark).count() == 101L,
      "clone must survive source vacuum")
    // a second clone at an occupied path refuses
    intercept[IllegalArgumentException] { src.cloneTo(s"$dir/dst") }
  }

  test("restore is a normal commit to consumers: incremental gold " +
      "maintenance folds ACROSS a restore and lands on the rebuild") {
    import graft.gold.GoldMaintenance
    import graft.io.ParquetTable
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_rgold")
    val src = new ParquetTable(s"$dir/src")
    val gold = new ParquetTable(s"$dir/gold")
    def df(rows: (Long, String, Long)*) = rows.toSeq.toDF("id", "grp", "cents")
    val v1 = df((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L))
    src.overwrite(v1)
    GoldMaintenance.advance(spark, src, gold, Seq("grp"), col("cents"))
    src.overwrite(df((9L, "z", 1L))) // the bad deploy
    GoldMaintenance.advance(spark, src, gold, Seq("grp"), col("cents"))
    src.restoreVersion(1)            // rollback, v3
    GoldMaintenance.advance(spark, src, gold, Seq("grp"), col("cents"))
    val got = gold.read(spark).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val ref = GoldMaintenance.aggregate(v1, Seq("grp"), col("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == ref,
      "gold maintained across a restore must equal the rebuild of the " +
        "restored state")
    assert(gold.applied == Map("source" -> 3),
      "the restore commit must be folded as a normal version")
  }

  test("timestamp time travel: latest-commit<=ts resolution, boundary " +
      "ties, monotonic stamps under a backwards clock, loud refusals") {
    import graft.io.{ParquetTable, VersionLog}
    import spark.implicits._
    var now = 1000L
    // thread-scoped injection: commits of unrelated tables on other
    // threads keep the real clock (the withClock contract)
    VersionLog.withClock(() => now) {
      val dir = Files.createTempDirectory("graft_ts").toString
      val t = new ParquetTable(s"$dir/t")
      t.overwrite(Seq((1L, "a")).toDF("id", "v"))                // v1 @1000
      now = 2000L
      t.appendVersion(Seq((2L, "b")).toDF("id", "v"))            // v2 @2000
      now = 1500L // host clock steps BACKWARDS before v3
      t.overwrite(Seq((9L, "z")).toDF("id", "v"))                // v3 @2001

      // boundary tie: ts equal to a commit's stamp IS that commit
      assert(t.versionAtTimestamp(1000L) == 1)
      assert(t.versionAtTimestamp(1999L) == 1)
      assert(t.versionAtTimestamp(2000L) == 2)
      // monotonic adjustment: v3 must stamp AFTER v2 despite clock=1500
      assert(VersionLog.recordOf(s"$dir/t", 3).flatMap(_.ts).contains(2001L),
        "a backwards host clock must adjust to prev+1 (Delta semantics)")
      assert(t.versionAtTimestamp(2001L) == 3)
      // a future timestamp resolves to the live version
      assert(t.versionAtTimestamp(999999L) == 3)
      // before table birth: loud refusal, never a guess
      val birth = intercept[IllegalArgumentException] {
        t.versionAtTimestamp(999L)
      }
      assert(birth.getMessage.contains("birth"))

      // state-at-timestamp equals the resolved version's closed form
      assert(t.readAsOf(spark, 1999L).collect().map(_.getLong(0)).toSet ==
        Set(1L))
      assert(t.readAsOf(spark, 2000L).collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L))

      // restoreToTimestamp ≡ restoreVersion of the resolved version —
      // and the restore is itself a stamped, normal commit
      now = 3000L
      t.restoreToTimestamp(2000L) // restore v2's state, committed as v4
      assert(t.version == 4)
      assert(t.read(spark).collect().map(_.getLong(0)).toSet == Set(1L, 2L))
      assert(VersionLog.recordOf(s"$dir/t", 4).flatMap(_.ts).contains(3000L))
      assert(t.versionAtTimestamp(3000L) == 4)

      // timestamp-addressed CDF: changesSince(ts) ≡ changesBetween of
      // the resolved anchor version and the live version
      val since = t.changesSince(spark, 2000L).collect()
        .map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      val span = t.changesBetween(spark, 2, 4).collect()
        .map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      assert(since == span, "changesSince must anchor at the version " +
        "the timestamp resolves to")

      // the SQL surface: VERSION/TIMESTAMP AS OF as temp views
      graft.io.Catalog.registerAsOfView(spark, "t_asof_2000", t, 2000L)
      assert(spark.sql("SELECT id FROM t_asof_2000").collect()
        .map(_.getLong(0)).toSet == Set(1L, 2L))
      graft.io.Catalog.registerVersionView(spark, "t_v3", t, 3)
      assert(spark.sql("SELECT id FROM t_v3").collect()
        .map(_.getLong(0)).toSet == Set(9L))
      spark.catalog.dropTempView("t_asof_2000")
      spark.catalog.dropTempView("t_v3")

      // vacuum horizon: resolving INTO a vacuumed snapshot refuses at
      // the read, like readVersion
      t.vacuum(stagingTtlMs = 0L)
      val gone = intercept[IllegalArgumentException] {
        t.readAsOf(spark, 1000L) // v1 was vacuumed
      }
      assert(gone.getMessage.contains("vacuumed"))

      // a record without a stamp (damaged: every commit is stamped)
      // bounds the retained stamps like the retention horizon — refuse
      // below it, never guess around it
      val dir2 = Files.createTempDirectory("graft_ts2").toString
      val u = new ParquetTable(s"$dir2/t")
      now = 100L
      u.overwrite(Seq((1L, "a")).toDF("id", "v"))     // v1 @100
      now = 200L
      u.appendVersion(Seq((2L, "b")).toDF("id", "v")) // v2 @200
      now = 300L
      u.appendVersion(Seq((3L, "c")).toDF("id", "v")) // v3 @300
      // strip v2's stamp
      val r2 = java.nio.file.Paths.get(s"$dir2/t/_log/r_00002.txt")
      val stripped = java.nio.file.Files.readString(r2).linesIterator
        .filterNot(_.startsWith("ts=")).mkString("\n")
      java.nio.file.Files.writeString(r2, stripped)
      Seq(250L, 150L, 50L).foreach { ts =>
        // the answer could be v2 (or below it): unknown
        val below = intercept[IllegalArgumentException] {
          u.versionAtTimestamp(ts)
        }
        assert(below.getMessage.contains("address by version"), ts)
      }
      // but a boundary above the unstamped record still resolves
      assert(u.versionAtTimestamp(300L) == 3)
    }
  }

  test("livePartitionLeafCount reads the hive layout without a Spark job; None on flat/empty layouts") {
    val dir = Files.createTempDirectory("graft_leafcount").toString
    val t = new ParquetTable(s"$dir/t", partitionColumns = Seq("status"))
    t.overwrite(Seq((1L, "A", 10L), (2L, "B", 20L), (3L, "A", 30L))
      .toDF("id", "status", "cents"))
    // two distinct status values -> two leaf dirs
    assert(t.livePartitionLeafCount.contains(2))
    // must agree with the Spark-side distinct count (the job it replaces)
    assert(t.livePartitionLeafCount.get.toLong ==
      t.read(spark).select("status").distinct().count())
    // unpartitioned handle: no hive layout -> None
    val flat = new ParquetTable(s"$dir/flat")
    flat.overwrite(Seq((1L, "x")).toDF("id", "v"))
    assert(flat.livePartitionLeafCount.isEmpty)
    // empty partitioned write -> schema-only flat fallback -> None
    val empty = new ParquetTable(s"$dir/empty", partitionColumns = Seq("status"))
    empty.overwrite(Seq.empty[(Long, String, Long)]
      .toDF("id", "status", "cents"))
    assert(empty.livePartitionLeafCount.isEmpty)
  }

  test("replacePartitionsWithChangesCovering replaces exactly the covered leaves (hard links elsewhere) like the DataFrame form") {
    val dir = Files.createTempDirectory("graft_covering").toString
    val t = new ParquetTable(s"$dir/t", partitionColumns = Seq("status"))
    t.overwrite(Seq((1L, "A", 10L), (2L, "B", 20L), (3L, "C", 30L))
      .toDF("id", "status", "cents"))
    val df = Seq((1L, "A", 11L)).toDF("id", "status", "cents")
    val feed = Seq((1L, "A", 10L, "delete"), (1L, "A", 11L, "insert"))
      .toDF("id", "status", "cents", "_change_type")
    val vals = df.select("status").distinct().collect()
    t.replacePartitionsWithChangesCovering(df, feed, vals)
    TestSpark.assertSameRows(
      t.read(spark).select("id", "status", "cents"),
      Seq(Seq(1L, "A", 11L), Seq(2L, "B", 20L), Seq(3L, "C", 30L)))
    // the untouched B/C leaves rode along as hard links (inode census)
    import scala.jdk.CollectionConverters._
    def leafFiles(v: String, leaf: String) = {
      val d = java.nio.file.Paths.get(s"$dir/t/$v/$leaf")
      val l = java.nio.file.Files.list(d)
      try l.iterator().asScala.toList
        .filter(_.getFileName.toString.endsWith(".parquet"))
      finally l.close()
    }
    def ino(p: java.nio.file.Path) = java.nio.file.Files
      .readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
      .fileKey()
    val oldB = leafFiles("v_00001", "status=B").map(ino).toSet
    val newB = leafFiles("v_00002", "status=B").map(ino).toSet
    assert(oldB == newB && oldB.nonEmpty,
      "untouched leaf must be hard-linked, not rewritten")
  }

  /** The data files a table's live commit wrote, by leaf dir. */
  private def writtenByLeaf(t: ParquetTable): Map[String, Seq[String]] =
    graft.io.VersionLog.readRecord(t.path, t.version).get.adds.map(_.rel)
      .groupBy(_.split('/').init.mkString("/"))

  /** The writing task's partition id, from a `part-NNNNN-<uuid>` name. */
  private def taskOf(rel: String): String = rel.split('/').last.split('-')(1)

  test("a partitioned overwrite or append writes one file per leaf from " +
      "several tasks; a declared layout and the replace REBALANCE are kept") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_leaf").toString
    // four input partitions, each holding rows of all three leaves
    def spread(from: Long) = spark.range(from, from + 40, 1, 4)
      .select(col("id"), (col("id") % 3).as("p"))
    val leaves = Set("p=0", "p=1", "p=2")
    def oneFilePerLeafFromSeveralTasks(t: ParquetTable): Unit = {
      val written = writtenByLeaf(t)
      assert(written.keySet == leaves)
      assert(written.values.forall(_.size == 1), written)
      assert(written.values.flatten.map(taskOf).toSet.size > 1, written)
    }
    val t = new ParquetTable(s"$dir/t", partitionColumns = Seq("p"))
    t.overwrite(spread(0))
    oneFilePerLeafFromSeveralTasks(t)
    t.appendVersion(spread(100))
    oneFilePerLeafFromSeveralTasks(t)
    assert(t.read(spark).count() == 80)

    // a declared layout is written as declared: every writer task of a
    // range split or a sorted frame writes into every leaf
    val ranged = new ParquetTable(s"$dir/ranged", partitionColumns = Seq("p"))
    ranged.overwrite(spread(0).repartitionByRange(2, col("id")))
    assert(writtenByLeaf(ranged).values.forall(_.size == 2))
    val sorted = new ParquetTable(s"$dir/sorted", partitionColumns = Seq("p"))
    sorted.overwrite(spread(0).sortWithinPartitions("id"))
    assert(writtenByLeaf(sorted).values.forall(_.size == 4))

    // the replace path keeps its REBALANCE, which AQE sizes to one task
    // for these few KB
    t.replacePartitions(spread(200).filter(col("p") =!= 2))
    val replaced = writtenByLeaf(t)
    assert(replaced.keySet == Set("p=0", "p=1"))
    assert(replaced.values.flatten.map(taskOf).toSet.size == 1, replaced)
    // leaf p=2 keeps its 26 rows; p=0 and p=1 now hold spread(200)'s 26
    assert(t.read(spark).count() == 52)
  }
}
