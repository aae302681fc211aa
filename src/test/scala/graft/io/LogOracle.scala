package graft.io

import java.nio.file.{Files, Path, Paths}

/** Test-scope oracles for the commit protocol ([[ParquetTable]] +
  * [[VersionLog]]): the directory walk the log ≡ walk laws compare the
  * log against, and the on-disk states a writer killed mid-commit
  * leaves, built by hand (no fail-point hook in the commit path).
  */
object LogOracle {

  /** Data files of a version dir by WALK: rel path → byte size, feed
    * files (`_changes/`) excluded.
    */
  def walkDataFiles(verDir: Path): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(verDir)) return Map.empty
    val walk = Files.walk(verDir)
    try walk.iterator().asScala
      .filter { p =>
        val rel = verDir.relativize(p)
        val inFeed = rel.getNameCount > 1 &&
          rel.getName(0).toString == "_changes"
        Files.isRegularFile(p) && !inFeed &&
          p.getFileName.toString.endsWith(".parquet")
      }
      .map(p => verDir.relativize(p).toString -> Files.size(p)).toMap
    finally walk.close()
  }

  /** The log's resolution of `t`'s live version as rel path → size. */
  def resolvedLive(t: ParquetTable): Option[Map[String, Long]] =
    VersionLog.resolveFiles(t.path, t.version)
      .map(_.map(f => f.rel -> f.size).toMap)

  /** The walk of `t`'s live version dir. */
  def walkedLive(t: ParquetTable): Map[String, Long] =
    walkDataFiles(Paths.get(t.currentPath))

  /** Where a writer was killed after staging its commit. */
  sealed trait Crash
  /** Before the rename: an orphan `_stage_<uuid>` dir, nothing logged. */
  case object Staged extends Crash
  /** Between the rename and the record: `v_{n+1}`, no `r_{n+1}`. */
  case object Renamed extends Crash
  /** Between the record and the pointer swap: `v_{n+1}` + `r_{n+1}`. */
  case object Recorded extends Crash

  /** Run `commit` on `t` (live version n, the table absent = 0), then
    * put the table into the on-disk state a kill at `crash` leaves:
    * the pointer back at n and, by stage, the committed dirs renamed
    * back to staging dirs and their records dropped. Returns the
    * version `commit` committed. `commit` must not reach a checkpoint
    * version (those are written after the swap).
    */
  def crashBeforeSwap(t: ParquetTable, crash: Crash)(commit: => Unit): Int = {
    val n = if (t.exists) t.version else 0
    commit
    val m = t.version
    require((n + 1 to m).forall(_ % VersionLog.CheckpointEvery != 0),
      s"crash states are built below the checkpoint cadence (v$n → v$m)")
    val pointer = Paths.get(t.path, "_current")
    if (n == 0) Files.delete(pointer)
    else Files.writeString(pointer, f"v_$n%05d")
    (n + 1 to m).foreach { v =>
      if (crash != Recorded) VersionLog.discard(t.path, v)
      if (crash == Staged)
        Files.move(Paths.get(t.path, f"v_$v%05d"),
          Paths.get(t.path, s"_stage_${java.util.UUID.randomUUID()}"))
    }
    m
  }

  /** The `_stage_*` dirs under `t`'s root. */
  def stageDirs(t: ParquetTable): Seq[Path] =
    FsUtil.listDir(Paths.get(t.path))
      .filter(_.getFileName.toString.startsWith("_stage_"))

  /** The `v_*` dir names under `t`'s root, sorted. */
  def versionDirs(t: ParquetTable): Seq[String] =
    FsUtil.listDir(Paths.get(t.path)).map(_.getFileName.toString)
      .filter(_.startsWith("v_")).sorted
}
