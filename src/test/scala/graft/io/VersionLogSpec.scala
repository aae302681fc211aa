package graft.io

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The commit log + checkpoint manifest ([[VersionLog]]): manifest ≡
  * walk ([[LogOracle]]), checkpoint coverage, torn-file safety.
  * In-package so the private[io] resolution API is testable directly;
  * the public-surface laws (CDF off the log, pruned reads,
  * feed-retaining vacuum) live in TablesSpec.
  */
class VersionLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("manifest ≡ walk: resolveFiles matches the version-dir walk " +
      "across overwrite/append/replace chains, through a checkpoint") {
    val dir = Files.createTempDirectory("graft_vlog").toString
    val t = new ParquetTable(s"$dir/t", partitionColumns = Seq("bucket"))
    t.overwrite(Seq((1L, "a", 0L), (2L, "b", 1L)).toDF("id", "v", "bucket"))
    t.appendVersion(Seq((3L, "c", 2L)).toDF("id", "v", "bucket"))
    t.replacePartitions(Seq((9L, "B", 1L)).toDF("id", "v", "bucket"))
    def check(): Unit = {
      val (resolved, walked) = (LogOracle.resolvedLive(t),
        LogOracle.walkedLive(t))
      assert(resolved.contains(walked),
        s"log resolution $resolved must equal the walk $walked " +
          s"at v${t.version}")
    }
    check()
    // drive past the checkpoint cadence and re-verify — the live set
    // must now resolve THROUGH the checkpoint, not a full record chain
    (1 to VersionLog.CheckpointEvery).foreach { i =>
      t.appendVersion(Seq((100L + i, s"x$i", i.toLong % 3))
        .toDF("id", "v", "bucket"))
    }
    val ckpts = graft.io.FsUtil.listDir(Paths.get(s"$dir/t/_log"))
      .map(_.getFileName.toString).filter(_.startsWith("ckpt_"))
    assert(ckpts.nonEmpty, "a checkpoint must exist past the cadence")
    check()
  }

  test("resolveSteps classifies every step of a long mixed span; " +
      "stats ride the records") {
    import org.apache.spark.sql.functions.lit
    val dir = Files.createTempDirectory("graft_vlog").toString
    val t = new ParquetTable(s"$dir/m")
    val v1 = Seq((1L, "a")).toDF("id", "v")
    t.overwriteWithChanges(v1, v1.withColumn("_change_type", lit("insert")))
    t.appendVersion(Seq((2L, "b")).toDF("id", "v"))
    t.overwriteWithChanges(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      Seq((3L, "c", "insert")).toDF("id", "v", "_change_type"))
    val steps = VersionLog.resolveSteps(s"$dir/m", 1, 3)
    assert(steps.isDefined, "every step carries a record")
    val byV = steps.get.map(r => r.v -> r).toMap
    assert(byV(2).kind == "append" && byV(2).adds.nonEmpty &&
      byV(2).feed.isEmpty)
    assert(byV(3).kind == "overwrite" && byV(3).feed.nonEmpty)
    // commit-time footer stats: the append's added file knows its id
    // range and null profile without any footer re-open
    val st = byV(2).adds.head.stats
    assert(st.get("id").exists(s => s.tpe == "long" && s.min == "2" &&
      s.max == "2" && !s.hasNulls), s"id stats captured: $st")
    assert(st.get("v").exists(s => s.tpe == "string" && s.min == "b"),
      s"string stats captured: $st")
  }

  test("maintenance markers round-trip through a loose record, a " +
      "checkpoint and record compaction; a record without one renders " +
      "no marker line") {
    val p = Files.createTempDirectory("graft_vlog").toString + "/mk"
    // every third commit carries no marker; keys need URL-encoding
    def marker(v: Int) =
      if (v % 3 == 0) Map.empty[String, Int]
      else Map("orders" -> v, "a b=c\td" -> v * 10)
    val n = 2 * VersionLog.CheckpointEvery + 1
    (1 to n).foreach { v =>
      VersionLog.append(p, VersionLog.Record(v, "overwrite",
        Seq(VersionLog.FileEntry(s"part-$v.parquet", Map.empty, v.toLong)),
        Nil, Nil, ts = Some(1000L + v), applied = marker(v)))
      VersionLog.maintain(p, v)
    }
    def loose(v: Int) = Paths.get(p, "_log", f"r_$v%05d.txt")
    // the first checkpoint's interval was compacted away: its markers
    // now resolve from the checkpoint, the rest from loose records
    assert(!Files.exists(loose(1)) && Files.exists(loose(n)))
    (1 to n).foreach { v =>
      assert(VersionLog.recordOf(p, v).map(_.applied).contains(marker(v)),
        s"v$v's marker must round-trip")
    }
    assert(Files.readString(loose(n)) == Seq(s"v=$n", "kind=overwrite",
      "dropflat=0", s"ts=${1000 + n}",
      s"addz=$n\tpart-$n.parquet").mkString("\n"),
      "a record without a marker renders no applied= line")
    assert(Files.readString(loose(n - 1)).split("\n").toSeq
      .filter(_.startsWith("applied=")) ==
      Seq(s"applied=a+b%3Dc%09d\t${(n - 1) * 10}",
        s"applied=orders\t${n - 1}"))
  }

  test("torn-log safety: a corrupted live record fails resolution " +
      "and every live-version reader loudly, naming the table; CDF takes " +
      "the snapshot diff; a corrupted checkpoint degrades to the loose " +
      "records") {
    import org.apache.spark.sql.functions.lit
    val dir = Files.createTempDirectory("graft_vlog").toString
    val t = new ParquetTable(s"$dir/torn", partitionColumns = Seq("k"))
    val v1 = Seq((1L, "a")).toDF("id", "k")
    t.overwriteWithChanges(v1, v1.withColumn("_change_type", lit("insert")))
    t.overwriteWithChanges(
      Seq((1L, "a"), (2L, "b")).toDF("id", "k"),
      Seq((2L, "b", "insert")).toDF("id", "k", "_change_type"))
    // corrupt v2's record (bit rot: the atomic rename rules out a torn
    // write)
    Files.writeString(Paths.get(s"$dir/torn/_log/r_00002.txt"),
      "v=2\nkind=")
    assert(VersionLog.resolveSteps(s"$dir/torn", 1, 2).isEmpty,
      "a malformed record must fail resolution, not parse partially")
    assert(VersionLog.resolveFiles(s"$dir/torn", 2).isEmpty)
    ParquetTable.invalidateResolved(t.path)
    val readers: Seq[(String, () => Any)] = Seq(
      "read" -> (() => t.read(spark)),
      "readPruned" -> (() => t.readPruned(spark, Nil)),
      "prunedFileCensus" -> (() => t.prunedFileCensus(Nil)),
      "registerTable" -> (() => Catalog.registerTable(spark, "default",
        "graft_vlog_torn", t)))
    try readers.foreach { case (name, run) =>
      val e = intercept[IllegalStateException](run())
      assert(e.getMessage.contains(t.path) &&
        e.getMessage.contains("v_00002"), s"$name: ${e.getMessage}")
    } finally spark.sql("DROP TABLE IF EXISTS default.graft_vlog_torn")
    // the CDF answer is unchanged — served by the snapshot diff
    TestSpark.assertSameRows(t.changesBetween(spark, 1, 2),
      Seq(Seq(2L, "b", "insert")))
    // a corrupted checkpoint likewise degrades, never corrupts
    val t2 = new ParquetTable(s"$dir/ck")
    t2.overwrite(Seq((1L, "x")).toDF("id", "v"))
    (1 to VersionLog.CheckpointEvery).foreach { i =>
      t2.appendVersion(Seq((10L + i, s"y$i")).toDF("id", "v"))
    }
    val ck = graft.io.FsUtil.listDir(Paths.get(s"$dir/ck/_log"))
      .find(_.getFileName.toString.startsWith("ckpt_")).get
    Files.writeString(ck, "ckpt=999\nR1:v=garbage")
    // resolution survives through loose records
    assert(LogOracle.resolvedLive(t2).contains(LogOracle.walkedLive(t2)))
  }

  test("the pre-size record format is refused, never read as a record " +
      "without files") {
    val p = Files.createTempDirectory("graft_vlog").toString + "/old"
    Files.createDirectories(Paths.get(p, "_log"))
    Files.writeString(Paths.get(p, "_log", "r_00001.txt"),
      "v=1\nkind=overwrite\nts=5\nadd=part-0.parquet")
    assert(VersionLog.recordOf(p, 1).isEmpty)
    assert(VersionLog.resolveFiles(p, 1).isEmpty)
  }

  test("record compaction: loose records below the second-newest " +
      "checkpoint are reclaimed and resolution stays ≡ walk across " +
      "the compaction horizon, including time travel into it") {
    import org.apache.spark.sql.functions.lit
    val dir = Files.createTempDirectory("graft_vlog").toString
    val p = s"$dir/cmp"
    val t = new ParquetTable(p)
    val v1 = Seq((1L, "a")).toDF("id", "v")
    t.overwriteWithChanges(v1, v1.withColumn("_change_type", lit("insert")))
    // drive past TWO checkpoint cadences so compaction fires
    val target = 2 * VersionLog.CheckpointEvery + 3
    (2 to target).foreach { i =>
      t.appendVersion(Seq((i.toLong, s"x$i")).toDF("id", "v"))
    }
    val names = FsUtil.listDir(Paths.get(s"$p/_log"))
      .map(_.getFileName.toString)
    val ckVs = names.filter(_.startsWith("ckpt_"))
      .map(_.stripPrefix("ckpt_").stripSuffix(".txt").toInt).sorted
    assert(ckVs.size >= 2, s"need two checkpoints, got $ckVs")
    val horizon = ckVs(ckVs.size - 2)
    val looseVs = names.filter(_.startsWith("r_"))
      .map(_.stripPrefix("r_").stripSuffix(".txt").toInt)
    assert(looseVs.forall(_ > horizon),
      s"records ≤ ckpt $horizon must be reclaimed, found " +
        s"${looseVs.filter(_ <= horizon).sorted}")
    assert(looseVs.nonEmpty, "post-horizon records are NOT reclaimed")

    // live resolution ≡ walk
    def filesEqWalk(v: Int): Unit = {
      val resolved = VersionLog.resolveFiles(p, v)
        .map(_.map(f => f.rel -> f.size).toMap)
      val walked = LogOracle.walkDataFiles(Paths.get(p, f"v_$v%05d"))
      assert(resolved.contains(walked),
        s"v$v: log $resolved must equal walk $walked")
    }
    filesEqWalk(t.version)
    // time travel INTO the compacted interval (no loose record exists
    // there any more — recordAt must serve it from the covering
    // checkpoint) and ONTO a checkpoint version itself
    filesEqWalk(horizon - 3)
    filesEqWalk(horizon)
    // a step span CROSSING the horizon fully classifies, and the CDF
    // built on it stays exact: inserts of every appended id
    val steps = VersionLog.resolveSteps(p, 1, target)
    assert(steps.isDefined && steps.get.size == target - 1,
      "span across the compaction horizon must classify every step")
    assert(steps.get.forall(_.kind == "append"))
    val cdf = t.changesBetween(spark, 1, target)
    assert(cdf.count() == (target - 1).toLong)
    assert(cdf.filter(org.apache.spark.sql.functions
      .col("_change_type") =!= "insert").count() == 0L)
  }

  test("checkpoint retirement: checkpoints below the retention horizon " +
      "retire, reads into the retired interval stay exact, near-head " +
      "stays log-served, timestamp travel below the horizon refuses") {
    val prevRetain = sys.props.get("graft.log.retainCommits")
    try {
      sys.props("graft.log.retainCommits") = "10"
      val dir = Files.createTempDirectory("graft_vlog").toString
      val p = s"$dir/ret"
      val t = new ParquetTable(p)
      t.overwrite(Seq((1L, "x1")).toDF("id", "v"))
      val target = 3 * VersionLog.CheckpointEvery // 48: ckpts 16, 32, 48
      (2 to target).foreach { i =>
        t.appendVersion(Seq((i.toLong, s"x$i")).toDF("id", "v"))
      }
      // horizon = 48 - 10 = 38: ckpt 16 is retired, 32+48 kept (newest
      // two are always exempt)
      val ckVs = FsUtil.listDir(Paths.get(s"$p/_log"))
        .map(_.getFileName.toString).filter(_.startsWith("ckpt_"))
        .map(_.stripPrefix("ckpt_").stripSuffix(".txt").toInt).sorted
      assert(ckVs == List(2 * VersionLog.CheckpointEvery, target),
        s"expected ckpts {32, 48}, got $ckVs")

      // the retired interval's records are gone from the log: log
      // resolution fails CLEANLY (None, not a wrong answer)...
      assert(VersionLog.resolveFiles(p, 10).isEmpty,
        "a version inside the retired interval must not log-resolve")
      // ...and every public surface stays exact: time travel INTO the
      // retired interval reads the version dir
      assert(t.readVersion(spark, 10).collect().map(_.getLong(0)).toSet ==
        (1L to 10L).toSet)
      // CDF entirely within and across the retired interval (both the
      // snapshot diff)
      val inRet = t.changesBetween(spark, 2, 12)
      assert(inRet.count() == 10L && inRet.filter(
        org.apache.spark.sql.functions.col("_change_type") =!= "insert")
        .count() == 0L)
      val across = t.changesBetween(spark, 1, target)
      assert(across.count() == (target - 1).toLong)
      // near-head resolution still rides the log (retained checkpoints)
      assert(VersionLog.resolveFiles(p, target).nonEmpty,
        "the live version must still log-resolve after retirement")
      assert(VersionLog.resolveSteps(p, target - 5, target).nonEmpty,
        "near-head spans must still log-resolve after retirement")
      // timestamp → version below the horizon refuses (the Delta
      // log-retention bound on TIMESTAMP AS OF), pointing at
      // version-addressed travel instead of guessing
      val tsOld = intercept[IllegalArgumentException] {
        t.versionAtTimestamp(
          VersionLog.recordOf(p, target).flatMap(_.ts).get - 1000000L)
      }
      assert(tsOld.getMessage.contains("version"))
      // a timestamp within the retained stamped range still resolves
      assert(t.versionAtTimestamp(
        VersionLog.recordOf(p, target).flatMap(_.ts).get) == target)
    } finally {
      prevRetain match {
        case Some(v) => sys.props("graft.log.retainCommits") = v
        case None => sys.props.remove("graft.log.retainCommits")
      }
    }
  }

  test("CDF across the retirement horizon: a span the log cannot " +
      "resolve takes the snapshot diff — patch law and ≡ snapshot diff " +
      "on a mixed feed/append span") {
    import org.apache.spark.sql.functions.col
    val prevRetain = sys.props.get("graft.log.retainCommits")
    try {
      sys.props("graft.log.retainCommits") = "10"
      val dir = Files.createTempDirectory("graft_vlog").toString
      val p = s"$dir/hyb"
      val t = new ParquetTable(p)
      t.overwrite((1L to 50L).map(i => (i, i * 10)).toDF("id", "v"))
      val target = 3 * VersionLog.CheckpointEvery // 48: ckpt 16 retires
      (2 to target).foreach { i =>
        if (i % 5 == 0) // feed-carrying modify commit (delete+insert)
          graft.merge.MergeOps.upsertInto(spark, t,
            Seq((i.toLong, i * 1000L)).toDF("id", "v"), Seq("id"))
        else t.appendVersion(Seq((1000L + i, i.toLong)).toDF("id", "v"))
      }
      val fromV = 3
      // steps ≤ 16 are retired (ckpt 16 gone, records compacted), so
      // the span falls back to the snapshot diff
      assert(VersionLog.resolveSteps(p, fromV, target).isEmpty,
        "the full span must NOT log-resolve (else the fallback is not " +
          "what this test exercises)")

      def multiset(rows: Seq[org.apache.spark.sql.Row]): Map[Seq[Any], Long] =
        rows.map(_.toSeq).groupBy(identity).view.mapValues(_.size.toLong)
          .toMap
      val cdf = t.changesBetween(spark, fromV, target).collect().toSeq
      // netting law: no self-cancelling pairs survive
      val byTuple = cdf.groupBy(_.toSeq.dropRight(1))
      assert(byTuple.values.forall(rs =>
          rs.map(_.getString(rs.head.length - 1)).distinct.size == 1),
        "a netted span delta must never emit insert AND delete of the " +
          "same tuple")
      // patch law: from-snapshot + inserts − deletes == to-snapshot
      val fromM = multiset(t.readVersion(spark, fromV).collect().toSeq)
      val toM = multiset(t.readVersion(spark, target).collect().toSeq)
      val patched = cdf.foldLeft(fromM) { (m, r) =>
        val key = r.toSeq.dropRight(1)
        val d = if (r.getString(r.length - 1) == "insert") 1L else -1L
        val n = m.getOrElse(key, 0L) + d
        if (n == 0L) m - key else m.updated(key, n)
      }
      assert(patched == toM,
        "applying the span delta to the FROM snapshot must " +
          "reproduce the TO snapshot exactly (multiset semantics)")

      // ≡ snapshot diff: the one-shot multiset delta of the two
      // snapshots, row for row
      val diff = (fromM.keySet ++ toM.keySet).toSeq.flatMap { k =>
        val d = toM.getOrElse(k, 0L) - fromM.getOrElse(k, 0L)
        Seq.fill(math.abs(d).toInt)(k :+ (if (d > 0) "insert" else "delete"))
      }
      assert(multiset(cdf) == diff.groupBy(identity).view
          .mapValues(_.size.toLong).toMap,
        "span resolution must equal the snapshot diff row-for-row " +
          "(multiset)")
    } finally {
      prevRetain match {
        case Some(v) => sys.props("graft.log.retainCommits") = v
        case None => sys.props.remove("graft.log.retainCommits")
      }
    }
  }
}
