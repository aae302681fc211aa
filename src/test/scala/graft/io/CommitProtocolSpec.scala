package graft.io

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The commit protocol ([[ParquetTable]]'s one `commit`): versions are
  * numbered when they commit, the log record is written before the
  * pointer swap, and a writer killed anywhere before the swap leaves
  * residue that readers never see and the next commit rolls back. The
  * crash states are built on disk by hand ([[LogOracle.crashBeforeSwap]]).
  */
class CommitProtocolSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** `df`'s rows as a multiset, data columns by name, `_change_type`
    * last.
    */
  private def rows(df: DataFrame): Map[Seq[Any], Int] = {
    val (ct, data) = df.columns.partition(_ == "_change_type")
    df.select((data.sorted ++ ct).toIndexedSeq.map(df.col): _*).collect()
      .toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
  }

  /** The multiset delta `from` → `to` as CDF rows (`_change_type` last). */
  private def snapshotDiff(from: DataFrame, to: DataFrame): Map[Seq[Any], Int] = {
    val (f, t) = (rows(from), rows(to))
    (f.keySet ++ t.keySet).toSeq.flatMap { k =>
      val d = t.getOrElse(k, 0) - f.getOrElse(k, 0)
      if (d == 0) None
      else Some((k :+ (if (d > 0) "insert" else "delete")) -> math.abs(d))
    }.toMap
  }

  test("two blind overwrites racing, the slow one committing last, then " +
      "an append: versions only go up, the log resolves the live files, " +
      "readPruned ≡ read and a catalog registration sees every row") {
    import org.apache.spark.sql.functions.{col, udf}
    val dir = Files.createTempDirectory("graft_race").toString
    val t = new ParquetTable(s"$dir/t", partitionColumns = Seq("k"))
    t.overwrite(Seq((0L, "z")).toDF("id", "k"))
    val slow = udf { (id: Long) =>
      RaceGate.slowStaging.countDown()
      RaceGate.fastCommitted.await(120, TimeUnit.SECONDS)
      id
    }.asNondeterministic()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    @volatile var slowFailure: Option[Throwable] = None
    val slowWriter = new Thread(() =>
      try {
        // the repartition keeps the UDF inside the write's tasks
        t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "k")
          .repartition(1).withColumn("id", slow(col("id"))))
        seen.add(t.version)
      } catch { case e: Throwable => slowFailure = Some(e) })
    slowWriter.start()
    assert(RaceGate.slowStaging.await(120, TimeUnit.SECONDS),
      "the slow overwrite never reached its write stage")
    t.overwrite(Seq((3L, "c")).toDF("id", "k"))
    seen.add(t.version)
    RaceGate.fastCommitted.countDown()
    slowWriter.join(180000L)
    slowFailure.foreach(throw _)
    t.appendVersion(Seq((4L, "a")).toDF("id", "k"))
    seen.add(t.version)
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq == Seq(2, 3, 4),
      s"each commit must take the next number: ${seen.asScala}")
    assert(LogOracle.resolvedLive(t).contains(LogOracle.walkedLive(t)))
    val expected = Map(Seq(1L, "a") -> 1, Seq(2L, "b") -> 1, Seq(4L, "a") -> 1)
    assert(rows(t.read(spark)) == expected)
    assert(rows(t.readPruned(spark, Seq(ColumnBound("id", Some(0L))))) ==
      expected)
    Catalog.ensureDatabase(spark, "graft_race")
    try {
      Catalog.registerTable(spark, "graft_race", "t", t)
      assert(rows(spark.table("graft_race.t")) == expected)
    } finally {
      spark.sql("DROP DATABASE IF EXISTS graft_race CASCADE")
      spark.catalog.setCurrentDatabase("default")
    }
  }

  private def df(rs: (Long, String, Long)*): DataFrame =
    rs.toDF("id", "k", "cents")
  private def feed(rs: (Long, String, Long, String)*): DataFrame =
    rs.toDF("id", "k", "cents", "_change_type")

  /** Every commit kind of the pipeline, run against the base history
    * (v1 = a,b; v2 = b replaced, marker src=2).
    */
  private val kinds: Seq[(String, ParquetTable => Unit)] = Seq(
    "overwrite" -> (_.overwrite(df((5L, "c", 50L)), Map("src" -> 3))),
    "overwriteIf" -> (_.overwriteIf(df((5L, "c", 50L)), 2)),
    "overwriteWithChanges" -> (_.overwriteWithChanges(
      df((1L, "a", 10L), (3L, "b", 30L), (5L, "c", 50L)),
      feed((5L, "c", 50L, "insert")))),
    "appendVersion" -> (_.appendVersion(df((6L, "a", 60L)))),
    "replacePartitions" -> (_.replacePartitions(df((7L, "a", 70L)),
      Map("src" -> 3))),
    "replacePartitionsWithChanges" -> (_.replacePartitionsWithChanges(
      df((7L, "a", 70L)),
      feed((1L, "a", 10L, "delete"), (7L, "a", 70L, "insert")))),
    "replacePartitionsWithChangesCovering" -> (
      _.replacePartitionsWithChangesCovering(df((7L, "a", 70L)),
        feed((1L, "a", 10L, "delete"), (7L, "a", 70L, "insert")),
        Array(Row("a")))),
    "restoreVersion" -> (_.restoreVersion(1)))

  private def base(path: String): ParquetTable = {
    val t = new ParquetTable(path, partitionColumns = Seq("k"))
    t.overwrite(df((1L, "a", 10L), (2L, "b", 20L)), Map("src" -> 1))
    t.replacePartitions(df((3L, "b", 30L)), Map("src" -> 2))
    t
  }

  private val crashes = Seq(LogOracle.Staged, LogOracle.Renamed,
    LogOracle.Recorded)

  /** Readers of `t` see version `n` exactly as it was. */
  private def seesVersion(t: ParquetTable, n: Int,
      before: Map[Seq[Any], Int], marker: Map[String, Int]): Unit = {
    assert(t.version == n)
    assert(rows(t.read(spark)) == before)
    assert(rows(t.readPruned(spark, Nil)) == before)
    assert(t.applied == marker)
    assert(LogOracle.resolvedLive(t).contains(LogOracle.walkedLive(t)))
    assert(t.versionAtTimestamp(Long.MaxValue) == n)
    assert(t.history(spark).select("version").as[Int].collect().toSeq ==
      (1 to n))
  }

  /** The vacuum law over a killed writer's staging dir. */
  private def vacuumAgesOut(t: ParquetTable): Unit = {
    val live = rows(t.read(spark))
    t.vacuum()
    val orphan = LogOracle.stageDirs(t)
    assert(orphan.size == 1, "a young staging dir survives vacuum")
    Files.setLastModifiedTime(orphan.head,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 48L * 3600 * 1000))
    t.vacuum()
    assert(LogOracle.stageDirs(t).isEmpty, "an aged staging dir is collected")
    assert(rows(t.read(spark)) == live)
  }

  test("crash states of every commit kind: readers see the old version, " +
      "the next commit converges, log ≡ walk, CDF over the span equals " +
      "the snapshot diff, vacuum ages out the staging dir") {
    val dir = Files.createTempDirectory("graft_crash").toString
    kinds.foreach { case (kind, commit) =>
      val ref = base(s"$dir/$kind-ref")
      commit(ref)
      val want = rows(ref.read(spark))
      crashes.foreach { crash =>
        val clue = s"$kind/$crash"
        withClue(clue) {
          val t = base(s"$dir/$kind-$crash")
          val (before, marker) = (rows(t.read(spark)), t.applied)
          assert(LogOracle.crashBeforeSwap(t, crash)(commit(t)) == 3)
          seesVersion(t, 2, before, marker)
          commit(t) // the retry
          assert(t.version == 3 && rows(t.read(spark)) == want)
          assert(t.applied == ref.applied)
          assert(LogOracle.versionDirs(t) ==
            Seq("v_00001", "v_00002", "v_00003"))
          assert(!Files.exists(Paths.get(t.path, "_log", "r_00004.txt")))
          assert(LogOracle.resolvedLive(t).contains(LogOracle.walkedLive(t)))
          (1 to 2).foreach { from =>
            assert(rows(t.changesBetween(spark, from, 3)) ==
              snapshotDiff(t.readVersion(spark, from),
                t.readVersion(spark, 3)), s"CDF ($from, 3]")
          }
          if (crash == LogOracle.Staged) vacuumAgesOut(t)
          else assert(LogOracle.stageDirs(t).isEmpty)
        }
      }
    }
  }

  test("crash states of a clone: the destination does not exist, the " +
      "next clone converges") {
    val dir = Files.createTempDirectory("graft_crash_clone").toString
    val src = base(s"$dir/src")
    crashes.foreach { crash =>
      withClue(crash) {
        val dest = new ParquetTable(s"$dir/clone-$crash",
          partitionColumns = Seq("k"))
        assert(LogOracle.crashBeforeSwap(dest, crash)(
          src.cloneTo(dest.path)) == 1)
        assert(!dest.exists)
        src.cloneTo(dest.path)
        assert(dest.version == 1 && LogOracle.versionDirs(dest) ==
          Seq("v_00001"))
        assert(rows(dest.read(spark)) == rows(src.read(spark)))
        assert(dest.applied == src.applied)
        assert(LogOracle.resolvedLive(dest)
          .contains(LogOracle.walkedLive(dest)))
        if (crash == LogOracle.Staged) vacuumAgesOut(dest)
      }
    }
  }

  test("a lost pointer is not a crashed first commit: commits refuse " +
      "and the history is kept") {
    val dir = Files.createTempDirectory("graft_lost_ptr").toString
    val src = base(s"$dir/src")
    val t = base(s"$dir/t")
    t.appendVersion(df((4L, "a", 40L)))
    val records = (1 to 3).map(v => Paths.get(t.path, "_log", f"r_$v%05d.txt"))
    Files.delete(Paths.get(t.path, "_current"))
    val attempts: Seq[(String, () => Unit)] = Seq(
      "overwrite" -> (() => t.overwrite(df((5L, "c", 50L)))),
      "overwriteIf" -> (() => t.overwriteIf(df((5L, "c", 50L)), 0)),
      "cloneTo" -> (() => src.cloneTo(t.path)))
    attempts.foreach { case (kind, attempt) =>
      withClue(kind) {
        val e = intercept[IllegalArgumentException](attempt())
        assert(e.getMessage.contains(t.path))
        assert(LogOracle.versionDirs(t) ==
          Seq("v_00001", "v_00002", "v_00003"))
        assert(records.forall(Files.exists(_)))
        assert(LogOracle.stageDirs(t).isEmpty)
      }
    }
  }
}

/** The race spec's rendezvous: the slow writer's UDF runs in this JVM's
  * executor threads.
  */
object RaceGate {
  val slowStaging = new CountDownLatch(1)
  val fastCommitted = new CountDownLatch(1)
}
