package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.io.{LogOracle, ParquetTable}

/** The deployment shape of optimistic concurrency is two separate
  * PROCESSES racing a commit — the in-JVM monitor half of
  * [[ParquetTable]]'s commit lock cannot serialize them; only the OS
  * file lock on `_lock` can. TablesSpec races threads; this spec races
  * real JVMs: two spawned contenders barrier-sync, then call
  * `overwriteIf` against the SAME expected version. Exactly one must
  * commit; the loser must observe `ConcurrentModificationException`,
  * and the table must hold the winner's payload with no staged litter.
  */
class OccProcessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def spawn(tag: String, tablePath: String, expected: Int,
      barrier: String, workDir: java.nio.file.Path,
      op: String = "overwrite"): Process = {
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java")
    import scala.jdk.CollectionConverters._
    // inherit this test JVM's module opens / -D flags (Spark on JDK 17
    // needs them when launched outside spark-submit), but right-size the
    // contender heap — two more 8g JVMs would be pointless ballast
    val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens") ||
        a.startsWith("java.base/") || a.startsWith("-Dspark."))
    val cmd = Seq(javaBin.toString) ++ inherited ++ Seq("-Xmx2g",
      "-cp", System.getProperty("java.class.path"),
      "graft.OccContender", tablePath, expected.toString, tag, barrier, op)
    new ProcessBuilder(cmd.asJava)
      .directory(workDir.toFile)
      .redirectOutput(workDir.resolve(s"$tag.out").toFile)
      .redirectError(workDir.resolve(s"$tag.err").toFile)
      .start()
  }

  test("two JVMs racing overwriteIf: exactly one commits, the loser " +
      "fails stale, no staged-dir litter") {
    val dir = Files.createTempDirectory("graft_occ_proc")
    val tablePath = s"$dir/t"
    new ParquetTable(tablePath)
      .overwrite(Seq(("base", 0)).toDF("writer", "n"))
    assert(new ParquetTable(tablePath).version == 1)

    val barrier = s"$dir/barrier"
    val pa = spawn("alpha", tablePath, 1, barrier, dir)
    val pb = spawn("beta", tablePath, 1, barrier, dir)
    try {
      // both contenders signal ready (their sessions are up), then the
      // shared go-file releases them into overwriteIf together
      val deadline = System.nanoTime() + 180L * 1000000000L
      def waitFor(p: String): Unit = {
        while (!Files.exists(Paths.get(p))) {
          assert(System.nanoTime() < deadline, {
            val logs = Seq("alpha", "beta").map(t =>
              s"--- $t.err ---\n" + util.Try(Files.readString(
                dir.resolve(s"$t.err"))).getOrElse("<none>")).mkString("\n")
            s"timed out waiting for $p\n$logs"
          })
          Thread.sleep(50)
        }
      }
      waitFor(s"$barrier.ready.alpha")
      waitFor(s"$barrier.ready.beta")
      Files.writeString(Paths.get(s"$barrier.go"), "")
      assert(pa.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
        "alpha did not finish")
      assert(pb.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
        "beta did not finish")
      val codes = Seq(pa.exitValue(), pb.exitValue())
      assert(codes.sorted == Seq(0, 42),
        s"expected one winner (0) and one stale loser (42), got $codes; " +
          Seq("alpha", "beta").map(t => s"--- $t.err ---\n" +
            util.Try(Files.readString(dir.resolve(s"$t.err")))
              .getOrElse("<none>")).mkString("\n"))

      val t = new ParquetTable(tablePath)
      // versions are numbered at commit, so the one winner is v2
      assert(t.version == 2,
        s"exactly one commit must have landed, got v${t.version}")
      val winnerTag = if (pa.exitValue() == 0) "alpha" else "beta"
      val rows = t.read(spark).collect().map(r => (r.getString(0), r.getInt(1)))
      assert(rows.toSeq == Seq((winnerTag, 1)),
        s"table must hold the winner's payload, got ${rows.toSeq}")
      // no litter: base + the winner's committed dir only — the loser's
      // staging dir must be gone
      assert(LogOracle.versionDirs(t) == Seq("v_00001", "v_00002"))
      assert(LogOracle.stageDirs(t).isEmpty,
        s"loser must clean its staging dir: ${LogOracle.stageDirs(t)}")
    } finally {
      pa.destroyForcibly(); pb.destroyForcibly()
    }
  }

  test("two JVMs racing appendVersion: exactly one link-union commits; " +
      "the loser's staged-dir cleanup cannot corrupt the winner's links") {
    val dir = Files.createTempDirectory("graft_occ_app")
    val tablePath = s"$dir/t"
    new ParquetTable(tablePath)
      .overwrite(Seq(("base", 0)).toDF("writer", "n"))
    val barrier = s"$dir/barrier"
    val pa = spawn("alpha", tablePath, 1, barrier, dir, op = "append")
    val pb = spawn("beta", tablePath, 1, barrier, dir, op = "append")
    try {
      val deadline = System.nanoTime() + 180L * 1000000000L
      def waitFor(p: String): Unit =
        while (!Files.exists(Paths.get(p))) {
          assert(System.nanoTime() < deadline, s"timed out waiting for $p")
          Thread.sleep(50)
        }
      waitFor(s"$barrier.ready.alpha")
      waitFor(s"$barrier.ready.beta")
      Files.writeString(Paths.get(s"$barrier.go"), "")
      assert(pa.waitFor(180, java.util.concurrent.TimeUnit.SECONDS))
      assert(pb.waitFor(180, java.util.concurrent.TimeUnit.SECONDS))
      val codes = Seq(pa.exitValue(), pb.exitValue())
      assert(codes.sorted == Seq(0, 42),
        s"expected one winner and one stale loser, got $codes; " +
          Seq("alpha", "beta").map(t => s"--- $t.err ---\n" +
            util.Try(Files.readString(dir.resolve(s"$t.err")))
              .getOrElse("<none>")).mkString("\n"))
      val t = new ParquetTable(tablePath)
      val winnerTag = if (pa.exitValue() == 0) "alpha" else "beta"
      // the live version = base row + exactly the winner's appended row —
      // and the loser deleting its staged dir (which held HARD LINKS to
      // the base files) must not have harmed the shared inodes
      val rows = t.read(spark).collect()
        .map(r => (r.getString(0), r.getInt(1))).toSet
      assert(rows == Set(("base", 0), (winnerTag, 1)),
        s"live version must be base + winner's delta, got $rows")
      // base version still fully readable through its own dir
      assert(t.readVersion(spark, 1).count() == 1)
    } finally {
      pa.destroyForcibly(); pb.destroyForcibly()
    }
  }

  test("a contender SIGKILLed while staging leaves only its staging " +
      "dir: readers see the old version, the next commit converges, " +
      "vacuum keeps the young dir and collects it once aged") {
    val dir = Files.createTempDirectory("graft_occ_kill")
    val tablePath = s"$dir/t"
    val t = new ParquetTable(tablePath)
    t.overwrite(Seq(("base", 0)).toDF("writer", "n"))
    val barrier = s"$dir/barrier"
    val p = spawn("victim", tablePath, 1, barrier, dir, op = "stall")
    try {
      val deadline = System.nanoTime() + 180L * 1000000000L
      def waitFor(f: String): Unit =
        while (!Files.exists(Paths.get(f))) {
          assert(System.nanoTime() < deadline, s"timed out waiting for $f")
          Thread.sleep(50)
        }
      waitFor(s"$barrier.ready.victim")
      Files.writeString(Paths.get(s"$barrier.go"), "")
      // the contender's write task signals from inside the stage
      waitFor(s"$barrier.staging.victim")
      p.destroyForcibly() // SIGKILL on this platform
      assert(p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(LogOracle.stageDirs(t).size == 1,
        "the killed writer's staging dir stays behind")
      assert(t.version == 1 && LogOracle.versionDirs(t) == Seq("v_00001"))
      assert(t.read(spark).collect().map(_.getString(0)).toSeq == Seq("base"))
      t.overwrite(Seq(("next", 2)).toDF("writer", "n"))
      assert(t.version == 2)
      assert(LogOracle.resolvedLive(t).contains(LogOracle.walkedLive(t)))
      assert(t.read(spark).collect().map(_.getString(0)).toSeq == Seq("next"))
      t.vacuum()
      val orphan = LogOracle.stageDirs(t)
      assert(orphan.size == 1, "a young staging dir survives vacuum")
      Files.setLastModifiedTime(orphan.head,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 48L * 3600 * 1000))
      t.vacuum()
      assert(LogOracle.stageDirs(t).isEmpty && t.read(spark).count() == 1)
    } finally p.destroyForcibly()
  }
}

/** The spawned contender: barrier-sync, then one conditional commit.
  * Exit 0 = committed; 42 = correctly observed the stale conflict; any
  * other exit is a failure the spec surfaces with the process logs.
  */
object OccContender {
  def main(args: Array[String]): Unit = {
    val Seq(tablePath, expected, tag, barrier, op) = args.toSeq
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val payload = Seq((tag, 1)).toDF("writer", "n")
    Files.writeString(Paths.get(s"$barrier.ready.$tag"), "")
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!Files.exists(Paths.get(s"$barrier.go"))) {
      if (System.nanoTime() > deadline) sys.exit(3)
      Thread.sleep(10)
    }
    val code =
      try {
        op match {
          case "append" => new ParquetTable(tablePath).appendVersion(payload)
          case "stall" =>
            // a write task that signals it is staging, then never ends
            val stall = org.apache.spark.sql.functions.udf { (n: Int) =>
              Files.writeString(Paths.get(s"$barrier.staging.$tag"), "")
              Thread.sleep(600000L); n
            }.asNondeterministic()
            new ParquetTable(tablePath).overwrite(payload.repartition(1)
              .withColumn("n", stall(org.apache.spark.sql.functions.col("n"))))
          case _ => new ParquetTable(tablePath).overwriteIf(payload, expected.toInt)
        }
        0
      } catch {
        case _: java.util.ConcurrentModificationException => 42
      }
    spark.stop()
    sys.exit(code)
  }
}
