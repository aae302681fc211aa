package graft.io

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Commit log + periodic checkpoint manifest for [[ParquetTable]] — the
  * Delta `_delta_log` design expressed on the versioned-directory layout
  * (reference: the reference's Delta tables get this from the Delta log
  * itself, e.g. src/ETL/Bronze-Ingestion-Orders.py:40-45; this classpath
  * has no Delta jars, so the log is rebuilt from first principles).
  *
  * WHY: without a log, every span-level operation pays O(versions) in
  * filesystem METADATA work — `changesBetween` would walk one version
  * dir per step to classify it (feed? append-only?), and any
  * file-level planning (stats pruning) must open parquet footers. At
  * serving cadence (the streaming mirrors commit per trigger) a table
  * accumulates thousands of versions, and those walks would dominate.
  *
  * Layout under `<table>/_log/`:
  *  - `r_NNNNN.txt` — one tiny record per committed version: commit KIND
  *    (append / overwrite / replace), the data files the commit ADDED
  *    (with per-file, per-column min/max stats read from the parquet
  *    footers ONCE, at commit time — Delta's data-skipping design: file
  *    stats live in commit metadata so query planning never opens a
  *    footer), the persisted change-feed files, and for replace commits
  *    the replaced leaf-partition prefixes, plus one
  *    `applied=<url-encoded key>\t<version>` line per marker entry.
  *  - `ckpt_NNNNN.txt` — every [[VersionLog.CheckpointEvery]] commits: the
  *    version's FULL live file set (stats preserved) plus the records
  *    since the previous checkpoint embedded, so resolving any state or
  *    span reads O(span/K) sidecar files instead of O(span) dir probes.
  *
  * The record is part of the commit ([[ParquetTable]]'s commit
  * pipeline): under the commit lock the staged dir is renamed to `v_n`
  * (n = live + 1), `r_n` is written, and only then does the pointer
  * swap. So version numbers are dense and every version up to the live
  * one has its record; a record that fails to write fails the commit.
  * A process killed before the swap leaves `v_n`/`r_n` above the live
  * version — residue the next commit rolls back ([[discard]]) before it
  * numbers its own. Checkpoints, record compaction and retirement run
  * after the swap and stay best-effort ([[maintain]]). All writes are
  * tmp-then-atomic-rename ([[Sidecar]]'s discipline), so a torn write
  * is never visible under the real name. A live version the log cannot
  * resolve is a loud error at the reader, never a directory walk;
  * specs pin log ≡ walk against a test-scope walk oracle.
  */
private[graft] object VersionLog {

  /** Checkpoint cadence K: span resolution reads O(span/K) files. Small
    * enough that the tail walk after the last checkpoint stays trivial,
    * large enough that checkpoint construction (one live-set resolution
    * per K commits) amortizes away.
    */
  val CheckpointEvery = 16

  /** Per-column footer stats of one data file. `min`/`max` are the
    * encoded rendering of [[statType]] (`long` / `double` / `string`);
    * string stats longer than [[MaxStringStat]] chars are DROPPED at
    * capture time (a truncated max would be a smaller bound — unsound
    * for pruning — and prune columns are short keys in practice).
    */
  final case class ColStat(tpe: String, min: String, max: String,
      hasNulls: Boolean)

  /** One data file of a version: path relative to the version dir plus
    * its captured column stats (possibly empty — stats are best-effort)
    * and its byte size. The size lets the per-statement catalog
    * registration serve its exact live-bytes statistic from cached log
    * reads instead of re-stat'ing every live file.
    */
  final case class FileEntry(rel: String, stats: Map[String, ColStat],
      size: Long)

  /** One committed version's log record. `adds` are the data files THIS
    * commit wrote (for overwrite commits that is the complete version);
    * `feed` the persisted `_changes/` parquet files; `removedPrefixes`
    * the hive dir prefixes a replace commit dropped; `dropRootFlat`
    * records that the commit's link walk skipped the base version's
    * ROOT-LEVEL parquet (the empty-write schema fallback — partitioned
    * append/replace commits never carry it forward). `applied` is the
    * commit's maintenance marker: the source versions the data it wrote
    * reflects (Delta's `SetTransaction` action); empty = no marker.
    */
  final case class Record(v: Int, kind: String, adds: Seq[FileEntry],
      feed: Seq[String], removedPrefixes: Seq[String],
      dropRootFlat: Boolean = false, ts: Option[Long] = None,
      applied: Map[String, Int] = Map.empty)

  /** Commit wall-clock source, injectable for deterministic specs.
    * [[append]] stamps every record with `max(clock(), prev ts + 1)` so
    * recorded timestamps are STRICTLY MONOTONIC per table even when the
    * host clock steps backwards — Delta's timestamp-adjustment rule,
    * which makes timestamp→version resolution well-defined.
    *
    * The override is a [[scala.util.DynamicVariable]] (thread-scoped,
    * restored on exit), NOT a process-global var: a global injected
    * clock would stamp commits of UNRELATED tables in the same JVM
    * (parallel suites, the bench harness) with the synthetic time,
    * silently corrupting their `TIMESTAMP AS OF` address space. Commit
    * stamping happens on the thread that calls the table API, so the
    * dynamic scope covers exactly the caller's own commits.
    */
  private val defaultClock: () => Long = () => System.currentTimeMillis()
  private val clockOverride =
    new scala.util.DynamicVariable[Option[() => Long]](None)
  private[graft] def withClock[A](c: () => Long)(body: => A): A =
    clockOverride.withValue(Some(c))(body)
  private def clock(): Long =
    clockOverride.value.getOrElse(defaultClock)()

  val MaxStringStat = 64

  private def logDir(path: String): Path = Paths.get(path, "_log")
  private def recordPath(path: String, v: Int): Path =
    logDir(path).resolve(f"r_$v%05d.txt")
  private def ckptPath(path: String, v: Int): Path =
    logDir(path).resolve(f"ckpt_$v%05d.txt")

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)
  private def dec(s: String): String = URLDecoder.decode(s, UTF_8)

  // ---- footer stats capture (commit-time only) --------------------------

  /** Read per-column min/max from the footers of freshly-written data
    * files — the ONE place footers are opened; reads after this plan off
    * the log. Tracks top-level primitive columns of long-comparable
    * (int32/int64 incl. date/timestamp), double-comparable and UTF8
    * string physical types; anything else (nested, decimal FLBA, int96,
    * boolean) is skipped — absence of stats only disables pruning for
    * that column, never correctness. Any per-file failure degrades to an
    * entry without stats.
    */
  def collectStats(files: Seq[(Path, String)]): Seq[FileEntry] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    def one(abs: Path, rel: String): FileEntry =
      FileEntry(rel,
        try fileStats(abs, conf)
        catch { case _: Exception => Map.empty[String, ColStat] },
        Files.size(abs))
    // Footer opens are independent local reads — fan them out over a
    // bounded pool so a 32-file commit pays ~one footer's latency, not
    // 32 sequential ones (the commit-path cost the r13 census flagged on
    // the commit-bearing queries). Order is preserved by construction:
    // futures are collected in submission order.
    val par = math.min(files.size,
      math.min(16, Runtime.getRuntime.availableProcessors()))
    if (par <= 1) files.map { case (abs, rel) => one(abs, rel) }
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      try {
        files.map { case (abs, rel) =>
          pool.submit(new java.util.concurrent.Callable[FileEntry] {
            override def call(): FileEntry = one(abs, rel)
          })
        }.map(_.get())
      } finally pool.shutdown()
    }
  }

  private def fileStats(abs: Path,
      conf: org.apache.hadoop.conf.Configuration): Map[String, ColStat] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(abs.toUri), conf)
    val r = ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      // (tpe, min, max) folded across row groups per column; nulls and
      // poisoning tracked separately (an ALL-NULL row group legitimately
      // has no min/max — it must flag hasNulls, not poison the column)
      val acc = scala.collection.mutable.Map[String, (String, Any, Any)]()
      val nulls = scala.collection.mutable.Map[String, Boolean]()
      var poisoned = Set.empty[String]
      for (block <- r.getFooter.getBlocks.asScala;
           cc <- block.getColumns.asScala) {
        val pathParts = cc.getPath.toArray
        if (pathParts.length == 1 && !poisoned(pathParts(0))) {
          val name = pathParts(0)
          val pt = cc.getPrimitiveType
          val st = cc.getStatistics
          val isUtf8 = pt.getLogicalTypeAnnotation != null &&
            pt.getLogicalTypeAnnotation.isInstanceOf[
              LogicalTypeAnnotation.StringLogicalTypeAnnotation]
          val decoded: Option[(String, Any, Any)] =
            if (st == null || !st.hasNonNullValue) None
            else pt.getPrimitiveTypeName match {
              case INT32 | INT64 =>
                // dates/timestamps ride as their epoch integers — signed
                // comparison order matches the logical order, so pruning
                // on the raw long is sound
                if (pt.getLogicalTypeAnnotation != null &&
                    pt.getLogicalTypeAnnotation.isInstanceOf[
                      LogicalTypeAnnotation.DecimalLogicalTypeAnnotation])
                  None // unscaled decimal ints: comparison scale differs
                else Some(("long",
                  st.genericGetMin.asInstanceOf[Number].longValue,
                  st.genericGetMax.asInstanceOf[Number].longValue))
              case FLOAT | DOUBLE =>
                Some(("double",
                  st.genericGetMin.asInstanceOf[Number].doubleValue,
                  st.genericGetMax.asInstanceOf[Number].doubleValue))
              case BINARY if isUtf8 =>
                val mn = st.genericGetMin
                  .asInstanceOf[org.apache.parquet.io.api.Binary]
                  .toStringUsingUTF8
                val mx = st.genericGetMax
                  .asInstanceOf[org.apache.parquet.io.api.Binary]
                  .toStringUsingUTF8
                if (mn.length > MaxStringStat || mx.length > MaxStringStat)
                  None
                else Some(("string", mn, mx))
              case _ => None
            }
          val chunkHasNulls = st == null || !st.isNumNullsSet ||
            st.getNumNulls > 0
          nulls(name) = nulls.getOrElse(name, false) || chunkHasNulls
          decoded match {
            case None =>
              val allNull = st != null && st.isNumNullsSet &&
                st.getNumNulls == cc.getValueCount
              if (!allNull) {
                // a row group with DATA but no usable stats poisons the
                // column for this file: a partial min/max is unsound
                acc.remove(name); poisoned += name
              }
            case Some((tpe, mn, mx)) =>
              acc.get(name) match {
                case None => acc(name) = (tpe, mn, mx)
                case Some((t0, m0, x0)) if t0 == tpe =>
                  acc(name) = (tpe, minOf(tpe, m0, mn), maxOf(tpe, x0, mx))
                case Some(_) => acc.remove(name); poisoned += name
              }
          }
        }
      }
      acc.map { case (n, (tpe, mn, mx)) =>
        n -> ColStat(tpe, mn.toString, mx.toString,
          nulls.getOrElse(n, true))
      }.toMap
    } finally r.close()
  }

  private def minOf(tpe: String, a: Any, b: Any): Any = tpe match {
    case "long" => math.min(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case "double" => math.min(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case _ =>
      // UTF-8 byte order, the parquet UTF8 stats ordering — single-
      // sourced with the pruner's compare (ColumnBound.utf8Cmp) so the
      // folded min/max and the prune comparisons can never disagree
      if (ColumnBound.utf8Cmp(a.asInstanceOf[String],
          b.asInstanceOf[String]) <= 0) a else b
  }
  private def maxOf(tpe: String, a: Any, b: Any): Any = tpe match {
    case "long" => math.max(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case "double" => math.max(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case _ =>
      if (ColumnBound.utf8Cmp(a.asInstanceOf[String],
          b.asInstanceOf[String]) >= 0) a else b
  }

  // ---- record / checkpoint serialization --------------------------------

  private def fileLine(f: FileEntry): String =
    (enc(f.rel) +: f.stats.toSeq.sortBy(_._1).map { case (c, s) =>
      Seq(enc(c), s.tpe, enc(s.min), enc(s.max),
        if (s.hasNulls) "y" else "n").mkString("\t")
    }).mkString("\t")

  /** `<bytes>\t<rel>\t<stats…>`, under the `addz=`/`livez=` keys. */
  private def sizedFileLine(f: FileEntry): String = s"${f.size}\t${fileLine(f)}"

  private def parseSizedFileLine(s: String): FileEntry = {
    val parts = s.split("\t", -1)
    val stats = parts.drop(2).grouped(5).collect {
      case Array(c, tpe, mn, mx, nl) =>
        dec(c) -> ColStat(tpe, dec(mn), dec(mx), nl == "y")
    }.toMap
    FileEntry(dec(parts(1)), stats, parts(0).toLong)
  }

  private def recordLines(rec: Record): Seq[String] =
    Seq(s"v=${rec.v}", s"kind=${rec.kind}",
      s"dropflat=${if (rec.dropRootFlat) 1 else 0}") ++
      rec.ts.map(t => s"ts=$t").toSeq ++
      rec.applied.toSeq.sortBy(_._1).map { case (k, v) =>
        s"applied=${enc(k)}\t$v" } ++
      rec.feed.map(f => s"feed=${enc(f)}") ++
      rec.removedPrefixes.map(p => s"rm=${enc(p)}") ++
      rec.adds.map(f => s"addz=${sizedFileLine(f)}")

  private def parseRecordLines(lines: Seq[String]): Record = {
    var v = -1; var kind = ""; var dropFlat = false
    var ts: Option[Long] = None
    val applied = Map.newBuilder[String, Int]
    val feed = Seq.newBuilder[String]
    val rm = Seq.newBuilder[String]
    val adds = Seq.newBuilder[FileEntry]
    lines.foreach { l =>
      val i = l.indexOf('=')
      require(i > 0, s"malformed log line: $l")
      (l.substring(0, i), l.substring(i + 1)) match {
        case ("v", x) => v = x.toInt
        case ("kind", x) => kind = x
        case ("dropflat", x) => dropFlat = x == "1"
        case ("ts", x) => ts = x.toLongOption
        case ("applied", x) =>
          val t = x.indexOf('\t')
          applied += dec(x.substring(0, t)) -> x.substring(t + 1).toInt
        case ("feed", x) => feed += dec(x)
        case ("rm", x) => rm += dec(x)
        case ("addz", x) => adds += parseSizedFileLine(x)
        case ("add", _) => // the pre-size format: its files would vanish
          throw new IllegalStateException(s"unsized record line: $l")
        case _ => () // forward compatibility: unknown keys ignored
      }
    }
    require(v > 0 && kind.nonEmpty, "record missing v/kind")
    Record(v, kind, adds.result(), feed.result(), rm.result(), dropFlat, ts,
      applied.result())
  }

  private def atomicWrite(target: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.writeString(tmp, lines.mkString("\n"))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Write version `v`'s record — a commit step, so any failure
    * propagates and fails the commit. Stamps the commit wall-clock
    * (TIMESTAMP AS OF's address space), adjusted to stay strictly
    * monotonic per table: a backwards host clock step must never record
    * ts(v) <= ts(v-1) or timestamp→version resolution loses its one
    * answer. The previous ts is a loose-record/newest-checkpoint read —
    * O(1) at commit cadence.
    */
  def append(path: String, rec: Record): Unit = {
    val stamped =
      if (rec.ts.nonEmpty) rec
      else {
        val prevTs =
          if (rec.v <= 1) None else recordOf(path, rec.v - 1).flatMap(_.ts)
        rec.copy(ts = Some(math.max(clock(),
          prevTs.map(_ + 1L).getOrElse(Long.MinValue))))
      }
    atomicWrite(recordPath(path, stamped.v), recordLines(stamped))
  }

  /** After version `v` is live: a checkpoint when `v` hits the cadence,
    * then record compaction and checkpoint retirement. Best-effort —
    * every record they fold is already written, so a failure here only
    * leaves resolution on the loose records.
    */
  def maintain(path: String, v: Int): Unit =
    if (v % CheckpointEvery == 0)
      try {
        writeCheckpoint(path, v)
        compactRecords(path)
        retireCheckpoints(path, v)
      } catch { case _: Exception => () }

  /** Roll back a killed commit's record at version `v` = live + 1 (its
    * checkpoint cannot exist: those are written after the swap).
    */
  def discard(path: String, v: Int): Unit =
    Files.deleteIfExists(recordPath(path, v))

  /** Version `v`'s record from its loose file or covering checkpoint;
    * None when it is missing, torn or retired.
    */
  def recordOf(path: String, v: Int): Option[Record] =
    try recordAt(path, v, new LogCtx(path))
    catch { case _: Exception => None }

  /** Timestamp→version resolution with Delta's `TIMESTAMP AS OF`
    * semantics: the LATEST commit whose stamp is ≤ `tsMillis`, found by
    * walking down from `current`. Every commit is stamped and the
    * retained records run contiguously down from the live version, so
    * the first stamp ≤ `tsMillis` is the answer. Returns Left(reason)
    * instead of guessing when `tsMillis` lies below every retained
    * stamp: before table birth, or below the retained log horizon.
    */
  def versionAt(path: String, tsMillis: Long,
      current: Int): Either[String, Int] = {
    val ctx = new LogCtx(path)
    var v = current
    var oldest: Option[Long] = None // the lowest retained stamp seen
    while (v >= 1) {
      (try recordAt(path, v, ctx).flatMap(_.ts)
       catch { case _: Exception => None }) match {
        case Some(t) if t <= tsMillis => return Right(v)
        case Some(t) => oldest = Some(t); v -= 1
        case None =>
          return Left(
            if (v == current) s"the commit log of $path does not " +
              s"resolve its live version $current"
            else s"timestamp $tsMillis is below the retained log " +
              s"horizon — commits 1..$v carry no resolvable timestamp; " +
              "address by version instead")
      }
    }
    Left(s"timestamp $tsMillis predates the table's first commit " +
      s"(${oldest.getOrElse(0L)}) — before table birth")
  }

  def readRecord(path: String, v: Int): Option[Record] =
    try {
      val p = recordPath(path, v)
      if (!Files.exists(p)) None
      else Some(parseRecordLines(readLines(p)))
    } catch { case _: Exception => None }

  private def readLines(p: Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)
  }

  /** A checkpoint: the full live file set at its version plus the
    * records since the previous checkpoint, embedded (`R<v>:`-prefixed)
    * so a span resolution touches one file per K versions.
    */
  private def writeCheckpoint(path: String, v: Int): Unit = {
    val live = resolveFiles(path, v).getOrElse(throw new IllegalStateException(
      s"the commit log of $path does not resolve version $v"))
    val ctx = new LogCtx(path)
    val prev = ctx.latestAt(path, v - 1).map(_.v).getOrElse(0)
    val recs = ((prev + 1) to v).flatMap(i => recordAt(path, i, ctx))
    val lines = Seq(s"ckpt=$v", s"prev=$prev") ++
      live.map(f => s"livez=${sizedFileLine(f)}") ++
      recs.flatMap(r => recordLines(r).map(l => s"R${r.v}:$l"))
    atomicWrite(ckptPath(path, v), lines)
  }

  /** RECLAIM loose record files made redundant by checkpoints — the
    * metadata-scale cost the log otherwise accretes forever (one
    * `r_NNNNN.txt` per commit; at serving cadence that is unbounded
    * tiny-file listing). A record is reclaimable once it is ≤ the
    * SECOND-newest checkpoint: every such step is embedded in a
    * retained checkpoint ([[recordAt]] serves it from there), and the
    * one-checkpoint margin means even a torn/corrupt NEWEST checkpoint
    * file degrades resolution only to the loose records that still
    * cover its interval. Best-effort; runs automatically after each
    * checkpoint ([[maintain]]), so the steady
    * state is ≤ ~2K loose records + O(commits/K) checkpoints.
    */
  def compactRecords(path: String): Int = {
    val cks = checkpointVersions(path)
    if (cks.size < 2) return 0
    val horizon = cks(cks.size - 2)
    var n = 0
    try FsUtil.listDir(logDir(path)).foreach { p =>
      val name = p.getFileName.toString
      if (name.startsWith("r_") && name.endsWith(".txt"))
        name.stripPrefix("r_").stripSuffix(".txt").toIntOption.foreach { v =>
          if (v <= horizon && Files.deleteIfExists(p)) n += 1
        }
    } catch { case _: Exception => () }
    n
  }

  /** Checkpoint retention horizon in COMMITS (not checkpoint count):
    * checkpoints whose version is older than `current - RetainCommits`
    * retire, bounding `_log/` at a true steady state — O(K) loose
    * records + O(RetainCommits/K) checkpoints — instead of the former
    * O(commits/K) accretion (62 files per 1,000 commits, forever).
    * Override with `-Dgraft.log.retainCommits=N` (0 disables
    * retirement). The default is generous relative to every log
    * consumer's span: feed-driven IVM advances run at serving cadence
    * (spans of 1–10 commits near head), and a consumer that HAS fallen
    * further behind only degrades to the snapshot diff, never to a
    * wrong answer. 2,048 commits ≈ 3 weeks of minutely triggers —
    * the Delta log-retention default's order of magnitude.
    */
  val RetainCommits = 2048

  /** RETIRE checkpoints older than the retention horizon. Correctness
    * contract: log resolution into a retired interval simply fails
    * (recordAt/resolveFiles/resolveSteps return None, never a wrong
    * answer); the live version always resolves, from the two newest
    * checkpoints that never retire. What retirement forfeits below the
    * horizon is the log-only metadata: per-file stats for time-traveled
    * reads, CDF spans off the log (they take the snapshot diff) and
    * commit timestamps (timestamp→version resolution refuses below
    * the horizon and says to address by version — Delta's log-retention
    * bound on `TIMESTAMP AS OF`, made explicit). The newest two
    * checkpoints never retire regardless of horizon — compactRecords'
    * torn-newest-checkpoint margin depends on the second-newest
    * existing. Best-effort.
    */
  def retireCheckpoints(path: String, current: Int): Int = {
    val retain = sys.props.get("graft.log.retainCommits")
      .flatMap(_.toIntOption).getOrElse(RetainCommits)
    if (retain <= 0) return 0
    val cks = checkpointVersions(path)
    val keep = cks.takeRight(2).toSet // checkpointVersions is sorted
    val horizon = current - retain
    var n = 0
    try cks.foreach { v =>
      if (v < horizon && !keep(v) &&
          Files.deleteIfExists(ckptPath(path, v))) n += 1
    } catch { case _: Exception => () }
    n
  }

  private final case class Checkpoint(v: Int, prev: Int,
      live: Seq[FileEntry], recs: Map[Int, Record])

  /** One resolution's log-access context: the `_log` checkpoint listing
    * (ONE directory listing per resolution, not one per [[recordAt]]
    * miss — a 10k-commit `versionAt` probe was 10k listings before) plus
    * the parsed-checkpoint memo. Cheap to construct; never shared across
    * resolutions (the listing must see checkpoints written in between).
    */
  private final class LogCtx(path: String) {
    lazy val ckpts: Seq[Int] = checkpointVersions(path)
    val cache: scala.collection.mutable.Map[Int, Option[Checkpoint]] =
      scala.collection.mutable.Map[Int, Option[Checkpoint]]()
    def latestAt(p: String, v: Int): Option[Checkpoint] =
      ckpts.filter(_ <= v).maxOption
        .flatMap(cv => cache.getOrElseUpdate(cv, readCheckpoint(p, cv)))
  }

  private def checkpointVersions(path: String): Seq[Int] =
    try {
      val ld = logDir(path)
      if (!Files.isDirectory(ld)) return Nil
      FsUtil.listDir(ld).flatMap { p =>
        val n = p.getFileName.toString
        if (n.startsWith("ckpt_") && n.endsWith(".txt"))
          n.stripPrefix("ckpt_").stripSuffix(".txt").toIntOption
        else None
      }.sorted
    } catch { case _: Exception => Nil }

  /** Record for step `v`, from its loose file OR from the checkpoint
    * whose embedded interval (prev, ckpt] covers `v` — the seam that
    * makes RECORD COMPACTION safe: once a checkpoint embeds an
    * interval, its loose records are redundant and reclaimable
    * ([[compactRecords]]), and every resolution path below sources
    * them from here. `cache` memoizes checkpoint parses within one
    * resolution (a span can hit the same checkpoint K times).
    */
  private def recordAt(path: String, v: Int, ctx: LogCtx): Option[Record] =
    readRecord(path, v).orElse {
      ctx.ckpts.find(_ >= v).flatMap { cv =>
        ctx.cache.getOrElseUpdate(cv, readCheckpoint(path, cv))
          .filter(_.prev < v).flatMap(_.recs.get(v))
      }
    }

  private def readCheckpoint(path: String, v: Int): Option[Checkpoint] =
    try {
      val p = ckptPath(path, v)
      if (!Files.exists(p)) return None
      val lines = readLines(p)
      var prev = 0
      val live = Seq.newBuilder[FileEntry]
      val recLines = scala.collection.mutable.Map[Int, Vector[String]]()
      lines.foreach { l =>
        if (l.startsWith("prev=")) prev = l.substring(5).toInt
        else if (l.startsWith("live=")) // the pre-size format
          throw new IllegalStateException(s"unsized checkpoint line: $l")
        else if (l.startsWith("livez=")) live +=
          parseSizedFileLine(l.substring(6))
        else if (l.startsWith("R")) {
          val c = l.indexOf(':')
          if (c > 1) l.substring(1, c).toIntOption.foreach { rv =>
            recLines(rv) = recLines.getOrElse(rv, Vector.empty) :+
              l.substring(c + 1)
          }
        }
      }
      val recs = recLines.map { case (rv, ls) =>
        rv -> parseRecordLines(ls)
      }.toMap
      Some(Checkpoint(v, prev, live.result(), recs))
    } catch { case _: Exception => None }

  /** Every RESOLVABLE record in [1, current] (one `_log` listing,
    * memoized checkpoints) — the DESCRIBE HISTORY surface. Versions
    * whose records are retired/compacted-away below the retention
    * horizon are simply absent (history is log-bound, like timestamp
    * travel); order is ascending by version.
    */
  def recordsUpTo(path: String, current: Int): Seq[Record] = {
    val ctx = new LogCtx(path)
    (1 to current).flatMap { v =>
      try recordAt(path, v, ctx) catch { case _: Exception => None }
    }
  }

  /** Records for every step in (fromV, toV], resolved through
    * checkpoints first (each covers its (prev, ckpt] interval in ONE
    * file read — O(span/K) total) with loose records filling the tails.
    * None as soon as ONE step is unresolvable (retired below the
    * retention horizon).
    */
  def resolveSteps(path: String, fromV: Int, toV: Int): Option[Seq[Record]] =
    try {
      val out = scala.collection.mutable.Map[Int, Record]()
      val ctx = new LogCtx(path)
      def loose(lo: Int, hi: Int): Boolean = // true = fully resolved
        (lo to hi).forall(v => recordAt(path, v, ctx) match {
          case Some(r) => out(v) = r; true
          case None => false
        })
      var hi = toV
      while (hi > fromV) {
        ctx.latestAt(path, hi) match {
          case Some(ck) if ck.v > fromV =>
            // loose tail above the checkpoint, then its embedded interval
            if (!loose(ck.v + 1, hi)) return None
            ck.recs.foreach { case (rv, r) =>
              if (rv > fromV && rv <= toV) out(rv) = r
            }
            val lo = math.max(ck.prev, fromV) + 1
            if ((lo to ck.v).exists(v => !out.contains(v))) return None
            hi = math.min(ck.prev, hi - 1) // strict progress
          case _ =>
            if (!loose(fromV + 1, hi)) return None
            hi = fromV
        }
      }
      Some(((fromV + 1) to toV).map(out))
    } catch { case _: Exception => None }

  /** The full data-file set (with stats) of version `v`, resolved from
    * the log alone: latest checkpoint ≤ v, then records applied forward.
    * None when a record is missing (retired, torn) or no
    * checkpoint/record chain reaches back to a full set.
    */
  def resolveFiles(path: String, v: Int): Option[Seq[FileEntry]] =
    try {
      val ctx = new LogCtx(path)
      val ck = ctx.latestAt(path, v)
      val (baseV, base0) = ck match {
        case Some(c) if c.v == v => return Some(c.live)
        case Some(c) => (c.v, Some(c.live))
        case None => (0, None)
      }
      // find the most recent full-set anchor in (baseV, v]: an overwrite
      // record IS a full set; otherwise start from the checkpoint.
      // recordAt sources compacted steps from their covering checkpoint
      // (time travel INTO an old checkpoint interval stays resolvable)
      val recs = ((baseV + 1) to v).map(i => recordAt(path, i, ctx) match {
        case Some(r) => r
        case None => return None
      })
      var files: Option[Map[String, FileEntry]] =
        base0.map(_.map(f => f.rel -> f).toMap)
      recs.foreach { r =>
        def noFlat(m: Map[String, FileEntry]): Map[String, FileEntry] =
          if (!r.dropRootFlat) m
          else m.filterNot { case (rel, _) =>
            !rel.contains('/') && !rel.contains(java.io.File.separator)
          }
        r.kind match {
          case "overwrite" =>
            files = Some(r.adds.map(f => f.rel -> f).toMap)
          case "append" =>
            files match {
              case Some(m) =>
                files = Some(noFlat(m) ++ r.adds.map(f => f.rel -> f))
              case None => return None
            }
          case "replace" =>
            files match {
              case Some(m) =>
                val kept = noFlat(m).filterNot { case (rel, _) =>
                  r.removedPrefixes.exists(pre => rel.startsWith(pre + "/") ||
                    rel.startsWith(pre + java.io.File.separator))
                }
                files = Some(kept ++ r.adds.map(f => f.rel -> f))
              case None => return None
            }
          case _ => return None
        }
      }
      files.map(_.values.toSeq.sortBy(_.rel))
    } catch { case _: Exception => None }
}
