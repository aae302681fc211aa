package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S1–S4 (SURVEY.md §2.1): sources and table storage.
  *
  * The reference reads raw parquet directories and registers Delta tables
  * (reference: src/ETL/Bronze-Ingestion-Orders.py:26,40-45). No Delta jars
  * exist on this classpath, so a "table" here is a parquet directory with a
  * tiny version pointer: every write lands in a fresh `v_NNNNN` subdirectory
  * and `_current` is atomically repointed afterwards. That preserves the two
  * Delta properties the reference actually relies on — readers never observe
  * a half-written table, and a failed write never corrupts the previous
  * version — while staying plain Spark + parquet (partition pruning and
  * predicate pushdown work unchanged on the partitioned layout).
  */
object Tables {

  /** S1: raw parquet scan of a driver testdata table.
    *
    * The events table's `ts` column has shipped in two vintages:
    * TIMESTAMP(NANOS) (surfaced as long ns via the nanosAsLong legacy
    * conf) and plain timestamp[µs] (surfaced as TIMESTAMP_NTZ). Every
    * consumer — queries, streaming, the DuckDB oracles — was built
    * against the long-ns contract, so a timestamp-typed `ts` is
    * normalized back to ns-since-epoch here (sessions run UTC, so the
    * NTZ wall clock IS the instant). Column-pruned scans are unaffected:
    * the conversion is a projection over the pruned scan.
    */
  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalizeTs(spark.read.parquet(s"$sfDir/$name.parquet"))

  /** Normalize a timestamp-typed `ts` column to the engine-wide long-ns
    * contract — SINGLE-SOURCED here so the batch and streaming readers
    * can never drift apart on vintage handling.
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(dt @ (TimestampNTZType | TimestampType)) =>
        // The NTZ→instant cast below reads the SESSION time zone; the
        // "NTZ wall clock IS the instant" contract above only holds under
        // UTC. Every pinned entry point sets UTC, but Tables.read is a
        // general API — fail loudly rather than silently shifting every
        // ts by the caller's zone offset. TimestampType (instant
        // semantics) is zone-INDEPENDENT here — the cast is a no-op and
        // unix_micros reads the instant — so only the NTZ arm guards.
        if (dt == TimestampNTZType) {
          val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
          require(tz == "UTC" || tz == "Etc/UTC" || tz == "Z",
            s"Tables.read normalizes TIMESTAMP_NTZ 'ts' columns assuming " +
              s"a UTC session (spark.sql.session.timeZone=$tz); set UTC " +
              "on the session before reading NTZ-timestamp tables")
        }
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case _ => df
    }
  }

  /** File-stream source over one testdata table — shared by the streaming
    * readers so the sniff-footer-with-fallback pattern exists once. The
    * schema comes from the live file's footer; `default` applies ONLY when
    * the path does not exist yet (declaring a stream before the first file
    * lands). Any other read failure — corrupt footer, permissions, an
    * unreadable vintage — propagates: silently declaring the default
    * against a real but unreadable file would corrupt the stream where a
    * loud failure at declaration is diagnosable.
    */
  def readStreamTable(spark: SparkSession, sfDir: String, name: String,
      default: org.apache.spark.sql.types.StructType): DataFrame = {
    val schema =
      try spark.read.parquet(s"$sfDir/$name.parquet").schema
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" => default
      }
    spark.readStream.schema(schema)
      // the file-stream source wants a directory; filter to this table
      .option("pathGlobFilter", s"$name.parquet")
      .parquet(sfDir)
  }

  /** Bucketed catalog table write: co-locates join keys so repeated joins
    * and aggregations on `bucketCols` run shuffle-free (the plan shows a
    * SortMergeJoin with NO Exchange on either side). The 100 TB pattern for
    * fact-fact joins that recur across a pipeline — pay the shuffle once at
    * write time, never again.
    */
  def writeBucketed(df: DataFrame, tableName: String, bucketCols: Seq[String],
      numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(tableName)
}

/** A versioned parquet table (Delta-semantics emulation, SURVEY.md §7.1).
  *
  * Layout: `<path>/v_00001/...parquet` + `<path>/_current` (text file holding
  * the live version name). Writes are copy-on-write: new version dir, then
  * pointer swap — safe to read the table while rewriting it (the reference
  * needs this for its read-merge-write loops, e.g.
  * src/ETL/Bronze-Ingestion-Orders.py:49-58).
  */
final class ParquetTable(val path: String,
    val partitionColumns: Seq[String] = Nil,
    /** Capture per-file min/max footer stats into the commit log (the
      * data-skipping feed for [[readPruned]]). Derived/rebuildable
      * tables that prune structurally — e.g. an IVF index partitioned
      * by `cell` — should pass `false`: their reads never consult file
      * stats, so the commit-time footer pass is pure overhead (the r13
      * bench census flagged exactly the commit-bearing index queries).
      * Stats absence only disables skipping, never correctness:
      * [[readPruned]] keeps stat-less files as a superset read.
      */
    val captureStats: Boolean = true) {
  import java.nio.file.{FileSystemException, Files, Paths, StandardCopyOption}

  private def pointer = Paths.get(path, "_current")

  /** Per-version committed-schema sidecar (see [[storedSchema]]). */
  private val SchemaFile = "_schema.json"

  /** Name prefix of a commit's private staging dir (see [[commit]]);
    * [[vacuum]] ages out one a killed writer left behind.
    */
  private val StagePrefix = "_stage_"

  /** Per-version WRITE-SIDE change feed (see [[overwriteWithChanges]]):
    * a parquet dir inside the version holding the commit's row-level
    * multiset delta vs the previous version, `_change_type`
    * insert/delete. Underscore-prefixed, so table scans never see it
    * (Spark's hidden-path filter), and it lives and dies with its
    * version (vacuum, a failed commit's cleanup).
    */
  private val ChangesDir = "_changes"

  /** Marker left by [[vacuumKeepingFeeds]] in a version dir whose DATA
    * files were reclaimed while its commit metadata (feed + schema)
    * was retained: time travel must fail loudly on it, and the
    * append-chain CDF fast path must never mistake its emptied file
    * set for a subset.
    */
  private val DataVacuumedMarker = "_data_vacuumed"

  def exists: Boolean = Files.exists(pointer)

  private def currentVersion: Option[String] =
    if (exists) Some(Files.readString(pointer).trim) else None

  /** Directory of the live version — what a catalog registration points
    * at ([[Catalog.registerTable]]).
    */
  def currentPath: String = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"table at $path does not exist"))
    s"$path/$v"
  }

  /** The version's committed schema, stored as `_schema.json` at write
    * time — the Delta/Iceberg shape: schema lives in commit METADATA,
    * not parquet footers. Two things depend on it: (1) O(1) schema
    * resolution — no footer sampling at 100 TB; (2) correctness under
    * SCHEMA EVOLUTION — an [[appendVersion]] whose delta carries a new
    * column produces a version dir with two file schemas, where footer
    * inference would nondeterministically pick one and could silently
    * DROP the new column. Absent for pre-evolution tables → footer
    * inference fallback.
    */
  private def storedSchema(
      versionDir: java.nio.file.Path): Option[org.apache.spark.sql.types.StructType] = {
    val f = versionDir.resolve(SchemaFile)
    if (Files.exists(f))
      Some(org.apache.spark.sql.types.DataType.fromJson(Files.readString(f))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    else None
  }

  private def readDir(spark: SparkSession, dir: String): DataFrame =
    storedSchema(Paths.get(dir)) match {
      case Some(st) => spark.read.schema(st).parquet(dir)
      case None => spark.read.parquet(dir)
    }

  /** S3: read the live version — with PLANNER-AUTOMATIC data skipping
    * (Delta's default-read design): the returned DataFrame's scan hands
    * whatever filters Catalyst pushes down to the commit-metadata stats
    * at PLANNING time ([[StatsPruning]] → [[ColumnBound.survives]]), so
    * files provably disjoint from the predicate never become splits —
    * zero footer opens, zero extra scan work, any `.filter` shape, no
    * caller opt-in. The plain directory read serves tables whose files
    * carry no stats; skipping is an optimization, never a correctness
    * dependency (`graft.read.skipping=off` forces the plain read; specs
    * pin pruned ≡ plain).
    */
  def read(spark: SparkSession): DataFrame = {
    // pin the pointer ONCE — version dir and log resolution must name
    // the same commit even if a concurrent writer swaps mid-call
    val verName = currentVersion.getOrElse(
      throw new IllegalStateException(s"table at $path does not exist"))
    val verDir = s"$path/$verName"
    if (sys.props.get("graft.read.skipping").contains("off"))
      return readDir(spark, verDir)
    (storedSchema(Paths.get(verDir)), ParquetTable.prunerOver(
        Paths.get(verDir), liveFiles(verName))) match {
      case (Some(st), Some(pruner)) =>
        org.apache.spark.sql.GraftScanBridge
          .statsPrunedParquet(spark, verDir, st, pruner)
      case _ => readDir(spark, verDir)
    }
  }

  /** The live version's COMMITTED schema, if this table has sidecars —
    * what schema-aware consumers (catalog registration) should declare
    * instead of re-inferring from footers.
    */
  def liveSchema: Option[org.apache.spark.sql.types.StructType] =
    storedSchema(Paths.get(currentPath))

  /** S2: create the table from `df` if absent; no-op when it exists. */
  def createIfNotExists(df: DataFrame): ParquetTable = {
    if (!exists) overwrite(df)
    this
  }

  /** S6–S9 write pattern: first write initializes the table with `updates`,
    * later writes store `merge(current, updates)`. (An empty partitioned
    * parquet dir is unreadable, so "create empty then merge" is not an
    * option — initialize directly instead.)
    */
  def writeMerged(spark: SparkSession, updates: DataFrame)(
      merge: (DataFrame, DataFrame) => DataFrame): ParquetTable =
    overwrite(if (exists) merge(read(spark), updates) else updates)

  /** Full rewrite as a new version + atomic pointer swap. Concurrent
    * writers each stage into their own staging dir; the last to commit
    * wins — use [[overwriteIf]] when a stale commit must FAIL instead of
    * clobbering. `applied`: the commit's marker.
    */
  def overwrite(df: DataFrame,
      applied: Map[String, Int] = Map.empty): ParquetTable =
    commitNew(df, None, None, applied)

  /** Optimistic-concurrency commit — the Delta/Iceberg conditional-commit
    * shape on a plain filesystem. The caller reads [[version]] (0 = table
    * absent), computes, and commits conditionally: if another writer
    * committed in between, this throws `ConcurrentModificationException`
    * (fail-fast before staging, re-checked under the lock at commit;
    * any staged dir is cleaned) instead of silently overwriting the other
    * writer's committed state — the caller re-reads and retries, the
    * standard OCC loop. Mutual exclusion for the commit window is a
    * JVM-global monitor per table path plus an OS file lock on `_lock`
    * (cross-process on a shared filesystem); at deployment scale the same
    * seam is the store's conditional put / commit service.
    */
  def overwriteIf(df: DataFrame, expectedVersion: Int): ParquetTable =
    commitNew(df, Some(expectedVersion), None)

  /** [[overwrite]] with WRITE-SIDE change capture — the actual Delta CDF
    * design: the writer, which already knows its row-level delta (a
    * keyed merge knows its matched/changed rows; a maintenance harness
    * knows its update batch), persists it at commit time into the new
    * version's `_changes/` dir, so [[changesBetween]] later serves the
    * feed in O(|changes|) instead of diffing two full snapshots — the
    * cost that dominates overwrite-chain incremental maintenance at any
    * real scale (an append chain already has the file-set fast path).
    *
    * `changes` contract: the new version's columns plus `_change_type`
    * (string, `insert`/`delete`), holding EXACTLY the multiset delta
    * previous-live → `df` (one row per changed copy; an update is its
    * delete+insert pair). The delta is the WRITER'S claim — set
    * `spark.conf graft.cdf.verifyDeclaredChanges=true` (specs do) to
    * have the commit recompute the snapshot diff and fail loudly on any
    * divergence; production leaves it off, which is precisely the cost
    * model that makes write-side CDF worth having. A feed declared on
    * the FIRST write of a table must be `df` itself, all inserts.
    */
  def overwriteWithChanges(df: DataFrame, changes: DataFrame): ParquetTable =
    commitNew(df, None, Some(changes))

  /** [[overwriteIf]] + write-side change capture (see
    * [[overwriteWithChanges]] for the feed contract).
    */
  def overwriteIfWithChanges(df: DataFrame, changes: DataFrame,
      expectedVersion: Int): ParquetTable =
    commitNew(df, Some(expectedVersion), Some(changes))

  private def versionNum: Int =
    currentVersion.map(_.drop(2).toInt).getOrElse(0)

  private def stale(expected: Int, actual: Int) =
    new java.util.ConcurrentModificationException(
      s"optimistic commit failed for $path: expected version $expected, " +
        s"found $actual — re-read and retry")

  /** The one commit pipeline: every commit kind — overwrite (plain,
    * conditional, feed-carrying), link-union append, partition replace,
    * restore and clone — runs these phases, each in one place:
    *   1. outside the lock: `stage(dir, base)` builds the private staging
    *      dir `dir` (`_stage_<uuid>`: write, feed, census, links; `base`
    *      is the version live when staging began) and returns what the
    *      log record carries;
    *   2. under the commit lock: roll back a killed commit's residue
    *      at live + 1 ([[rollBack]]; [[refuseLostPointer]] first when
    *      there is no pointer), the stale check
    *      (when `expected` is set), then number the version n = live + 1,
    *      rename the staged dir to `v_n`, write its log record and swap
    *      the pointer — the commit point. The record precedes the
    *      pointer, so version numbers are dense and every version up to
    *      the live one has its record;
    *   3. after the lock: the log's checkpoint cadence (best-effort).
    * Any failure before the swap removes the staged dir, or `v_n` and
    * its record: the pointer still names the old version.
    */
  private def commit(kind: String, expected: Option[Int])(
      stage: (String, Int) => ParquetTable.Staged): ParquetTable = {
    def checkStale(live: Int): Unit =
      expected.foreach(e => if (live != e) throw stale(e, live))
    val base = versionNum
    checkStale(base) // fail fast, before any I/O
    val dir = StagePrefix + java.util.UUID.randomUUID()
    val staging = Paths.get(path, dir)
    val n =
      try {
        Files.createDirectories(staging)
        val staged = stage(dir, base)
        ParquetTable.withCommitLock(path) {
          val live = versionNum
          if (live == 0) refuseLostPointer()
          rollBack(live + 1)
          checkStale(live)
          val next = f"v_${live + 1}%05d"
          Files.move(staging, Paths.get(path, next),
            StandardCopyOption.ATOMIC_MOVE)
          try {
            VersionLog.append(path, VersionLog.Record(live + 1, kind,
              staged.adds, staged.feed, staged.removedPrefixes,
              // partitioned append/replace link walks skip the base's
              // root-level flat-fallback parquet — resolution must too
              dropRootFlat = kind != "overwrite" && partitionColumns.nonEmpty,
              applied = staged.applied))
            swapPointer(next)
          } catch {
            case t: Throwable =>
              try rollBack(live + 1)
              catch { case e: Exception => t.addSuppressed(e) }
              throw t
          }
          live + 1
        }
      } catch {
        case t: Throwable =>
          try FsUtil.deleteRecursively(staging)
          catch { case _: Exception => () }
          throw t
      }
    VersionLog.maintain(path, n)
    this
  }

  /** Delete what a commit killed between its rename and its pointer
    * swap left at version `n` = live + 1: the `v_n` dir and its log
    * record. Commits are serialised under the commit lock and each one
    * rolls back before it numbers its own version, so that is all the
    * residue there can be; checkpoints are written after the swap, so
    * none exists above live.
    */
  private def rollBack(n: Int): Unit = {
    FsUtil.deleteRecursively(Paths.get(path, f"v_$n%05d"))
    VersionLog.discard(path, n)
  }

  /** With no pointer, a killed first commit leaves at most `v_00001`
    * and its record. Any later version dir, record or checkpoint means
    * the pointer was lost, not that a first commit died: refuse, as
    * [[vacuum]] does, rather than roll the history back. One listing of
    * the table root and of its log, on a first commit only.
    */
  private def refuseLostPointer(): Unit = {
    def names(p: java.nio.file.Path) =
      FsUtil.listDir(p).map(_.getFileName.toString)
    val later = names(Paths.get(path)).filter(n =>
      n.startsWith("v_") && n != "v_00001") ++
      names(Paths.get(path, "_log")).filter(n =>
        n.startsWith("ckpt_") ||
          (n.startsWith("r_") && !n.startsWith("r_00001.")))
    require(later.isEmpty,
      s"commit: no _current pointer at $path but later versions exist " +
        s"(${later.sorted.take(3).mkString(", ")}) — refusing to roll " +
        "back the history; restore the pointer (or remove the directory " +
        "deliberately) first")
  }

  private def commitNew(df: DataFrame, expected: Option[Int],
      changes: Option[DataFrame],
      applied: Map[String, Int] = Map.empty): ParquetTable = {
    // validate the declared feed's shape BEFORE any I/O (appendVersion's
    // fail-in-milliseconds discipline)
    changes.foreach(validateFeedShape(df, _))
    commit("overwrite", expected) { (dir, base) =>
      writeVersion(df, dir)
      changes.foreach { c =>
        writeFeed(dir, c)
        if (feedVerifyEnabled(df))
          verifyDeclaredFeed(feedBaseline(df, base), df, c)
      }
      // the version dir is complete — census it for the commit log
      // OUTSIDE the lock (footer stats reads); an overwrite's adds ARE
      // the full version, so the record doubles as a full file set
      val (adds, feed) = commitCensus(dir)
      ParquetTable.Staged(adds, feed, applied = applied)
    }
  }

  /** The feed-verification baseline: version `base`, the one live when
    * [[commit]] began staging. First write: a FRESH empty relation,
    * never df.limit(0) — the latter shares df's plan leaf, and the
    * verification's diff-vs-declared exceptAll over three frames off one
    * leaf can trip Catalyst's attribute rebinding (seen with a
    * dropDuplicates-derived df).
    */
  private def feedBaseline(df: DataFrame, base: Int): DataFrame =
    if (base > 0) readVersion(df.sparkSession, base)
    else df.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), df.schema)

  /** Census of a COMPLETE staged dir for the commit log: data files
    * (with footer min/max stats — read here, at commit time, the ONE
    * footer pass; reads plan off the log afterwards) and feed files,
    * both relative to the dir, which the commit makes the version dir.
    */
  private def commitCensus(
      dir: String): (Seq[VersionLog.FileEntry], Seq[String]) = {
    val verDir = Paths.get(path, dir)
    import scala.jdk.CollectionConverters._
    val data = Seq.newBuilder[(java.nio.file.Path, String)]
    val feed = Seq.newBuilder[String]
    val walk = Files.walk(verDir)
    try walk.iterator().asScala.foreach { p =>
      if (Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet")) {
        val rel = verDir.relativize(p).toString
        if (rel.startsWith(ChangesDir + "/") ||
            rel.startsWith(ChangesDir + java.io.File.separator)) feed += rel
        else data += ((p, rel))
      }
    } finally walk.close()
    val sorted = data.result().sortBy(_._2)
    val adds =
      if (captureStats) VersionLog.collectStats(sorted)
      else sorted.map { case (abs, rel) =>
        VersionLog.FileEntry(rel, Map.empty[String, VersionLog.ColStat],
          Files.size(abs)) }
    (adds, feed.result().sorted)
  }

  private def feedVerifyEnabled(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption("graft.cdf.verifyDeclaredChanges")
      .contains("true")

  /** Feed shape contract: exactly the new version's columns plus a
    * string `_change_type`, with matching data-column types — a feed
    * whose columns drift from the snapshot would poison every
    * downstream fold silently.
    */
  private def validateFeedShape(df: DataFrame, changes: DataFrame): Unit = {
    val want = df.columns.toSet + "_change_type"
    require(changes.columns.toSet == want,
      s"declared change feed columns ${changes.columns.sorted.mkString(",")}" +
        s" must be exactly the new version's columns plus _change_type " +
        s"(${want.toSeq.sorted.mkString(",")})")
    require(changes.schema("_change_type").dataType ==
        org.apache.spark.sql.types.StringType,
      "_change_type must be a string column (insert/delete)")
    df.schema.fields.foreach { f =>
      val c = changes.schema(f.name)
      require(org.apache.spark.sql.GraftBridge.sameType(c.dataType, f.dataType),
        s"declared change feed column ${f.name} (${c.dataType}) conflicts " +
          s"with the new version's type (${f.dataType})")
    }
  }

  /** Persist the declared feed inside the staged dir — it rides the
    * commit's atomicity (built before the pointer swap, deleted with the
    * staged dir on failure). Same empty-write fallback as
    * [[writeVersion]]: an all-valid batch legitimately declares an empty
    * feed, and the dir must stay readable.
    */
  private def writeFeed(dir: String, changes: DataFrame): Unit = {
    val feedDir = Paths.get(path, dir, ChangesDir)
    JobLabel(changes.sparkSession, s"graft:writeFeed $path/$dir") {
      changes.write.mode("append").parquet(feedDir.toString)
    }
    ensureReadable(feedDir, changes)
  }

  /** The spec-mode content check (see [[overwriteWithChanges]]): the
    * declared feed must equal the computed snapshot diff as a MULTISET.
    * Runs the exact full-width diff the feed exists to avoid — only ever
    * under `graft.cdf.verifyDeclaredChanges=true`.
    */
  private def verifyDeclaredFeed(prev: DataFrame, df: DataFrame,
      changes: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    val cols = df.columns.toIndexedSeq
    val expected = multisetDiff(prev.select(cols.map(col): _*),
      df.select(cols.map(col): _*), cols)
    val declared = changes.select(cols.map(col) :+ col("_change_type"): _*)
    val extra = declared.exceptAll(expected).count()
    val missing = expected.exceptAll(declared).count()
    require(extra == 0 && missing == 0,
      s"declared change feed for $path diverges from the computed " +
        s"snapshot diff: $extra extra row(s), $missing missing row(s)")
  }

  /** Right-size a COPY-ON-WRITE replace's output (the Delta
    * `optimizeWrite` shape, applied exactly where the measured
    * pathology is): an AQE REBALANCE by the partition columns
    * immediately before the replace write. A COW merge's output frame
    * is post-join — it sits at the session's shuffle parallelism with
    * kilobytes per partition locally (and advisory-sized pieces at
    * scale), so the raw dynamic-partition write emits tasks ×
    * touched-dirs near-empty files (measured: 128 parquet files for a
    * 2 MiB version); every later consumer pays for them — the commit
    * census reads each footer, the link walk links them,
    * recoverPartitions lists them, readbacks fan out one task per file
    * (guide §6: small files hurt twice). Rebalancing by the partition
    * columns clusters each writer task on whole leaf dirs (the
    * `write.distribution-mode=hash` shape) and AQE sizes/splits the
    * partitions to `advisoryPartitionSizeInBytes`, so one hot value
    * cannot recreate single-writer skew. The shuffle it adds moves only
    * the COW output — O(touched partitions + batch), never the table —
    * the same trade Delta's optimized writes make by default.
    *
    * Deliberately NOT applied to plain overwrite/append/feed writes:
    * those frames are typically scan-shaped (few, right-sized tasks),
    * so a blanket rebalance added a payload shuffle with no file-count
    * win — measured as a pure regression (q120/q121 +0.2–0.5 s and 3
    * MiB of new shuffle volume each) before being scoped back to the
    * replace path (a partitioned one still gets one writer per leaf from
    * [[byLeaf]]). Skipped when the caller declared a layout
    * ([[hasExplicitLayout]]) and when AQE is off (a REBALANCE without
    * AQE is just an unconditional extra shuffle).
    */
  private def sizedForWrite(df: DataFrame): DataFrame = {
    // the RESOLVED AQE flag, not a string compare of the raw conf value:
    // "TRUE"/"True" parse as enabled, and a REBALANCE hint without AQE
    // is just one unconditional extra shuffle
    val aqeOn = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.adaptiveExecutionEnabled
    val on = aqeOn && !hasExplicitLayout(df)
    if (!on || partitionColumns.isEmpty) df
    else df.hint("rebalance", partitionColumns: _*)
  }

  /** A caller that ends its frame in a repartition/sort DECLARED the
    * write layout (compaction's `repartitionByRange` + z-order's
    * clustered rewrite exist precisely to control per-file content for
    * data skipping) — rebalancing over it would scramble that
    * clustering at any scale. Walked through projections/aliases only:
    * anything deeper is computation, not a layout declaration.
    */
  private def hasExplicitLayout(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    @annotation.tailrec
    def walk(p: LogicalPlan): Boolean = p match {
      case _: RepartitionOperation => true
      case _: RebalancePartitions => true
      case _: Sort => true
      case pr: Project => walk(pr.child)
      case sa: SubqueryAlias => walk(sa.child)
      case _ => false
    }
    walk(df.queryExecution.analyzed)
  }

  /** One writer task per partition leaf (Iceberg's default
    * `write.distribution-mode=hash`): hash a partitioned write by its
    * partition columns over `spark.sql.shuffle.partitions` tasks, so each
    * leaf gets one file and the leaves spread over every core. Without
    * it AQE coalesces a small frame's last shuffle into ONE task, which
    * then writes every leaf in turn; a shuffle with an explicit count is
    * one AQE does not coalesce. A frame that declared its layout
    * ([[hasExplicitLayout]]) keeps it; that includes the replace path's
    * [[sizedForWrite]] REBALANCE, which also splits a hot leaf over
    * several tasks, as a hash by leaf cannot.
    */
  private def byLeaf(df: DataFrame): DataFrame =
    if (partitionColumns.isEmpty || hasExplicitLayout(df)) df
    else {
      import org.apache.spark.sql.functions.col
      df.repartition(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        partitionColumns.map(col): _*)
    }

  private def writeVersion(df: DataFrame, dir: String): Unit = {
    writeData(df, dir, "graft:writeVersion")
    ensureReadable(Paths.get(path, dir), df)
    // commit the schema as version metadata (see storedSchema)
    Files.writeString(Paths.get(path, dir, SchemaFile), df.schema.json)
  }

  /** Write `df` into the (empty, already created) staged dir `dir` as
    * the job labeled `label`.
    */
  private def writeData(df: DataFrame, dir: String, label: String): Unit = {
    val w = byLeaf(df).write.mode("append")
    JobLabel(df.sparkSession, s"$label $path/$dir") {
      (if (partitionColumns.nonEmpty) w.partitionBy(partitionColumns: _*)
       else w).parquet(s"$path/$dir")
    }
  }

  /** An EMPTY partitioned write leaves no parquet files at all (there
    * are no partition values to create dirs for), which makes the dir
    * unreadable — schema inference has nothing to read. Detect via a
    * free directory walk (no Spark job) and lay down a schema-only file
    * by rewriting the empty frame unpartitioned. Empty writes are routine
    * in the DLQ loop (a batch where every row is valid writes an empty
    * DLQ, and declares an empty feed).
    */
  private def ensureReadable(dir: java.nio.file.Path, df: DataFrame): Unit = {
    val walk = Files.walk(dir)
    val hasData =
      try walk.anyMatch(p => p.getFileName.toString.endsWith(".parquet"))
      finally walk.close()
    if (!hasData)
      df.limit(0).coalesce(1).write.mode("append").parquet(dir.toString)
  }

  private def swapPointer(next: String): Unit = {
    val tmp = Paths.get(path, "_current.tmp")
    Files.writeString(tmp, next)
    Files.move(tmp, pointer, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    // a NEW commit at this path invalidates every cached file-set
    // resolution for it: delete-and-recreate (the scratch-table
    // pattern) REUSES version numbers, and a stale entry silently
    // disabled stats skipping for the recreated version — conservative
    // but costly (q122's pruning pin failed every same-JVM re-run,
    // so its bench samples were always cold first runs)
    ParquetTable.invalidateResolved(path)
  }

  /** Append `df` as a NEW version whose files are the delta's writes plus
    * HARD LINKS to the live version's files — O(|delta| + #existing
    * files), never a corpus rewrite. This is the snapshot-references-
    * old-files shape of log-structured table formats, expressed on a
    * plain filesystem: incremental maintenance (e.g.
    * [[graft.northstar.IvfIndex.append]]) pays only for what changed,
    * while time travel, CDF and vacuum keep working — vacuuming a
    * superseded version unlinks NAMES, and shared inodes survive as long
    * as any live version links them. Underscore-prefixed model sidecars
    * ride along (they describe state the delta did not change); falls
    * back to copying where the filesystem refuses links. Same
    * crash-safety as [[overwrite]]: the version dir is fully built before
    * the atomic pointer swap.
    */
  def appendVersion(df: DataFrame): ParquetTable = {
    val baseV = version // throws if absent — append needs a base
    val prevDir = Paths.get(currentPath)
    // SCHEMA EVOLUTION, validated BEFORE any I/O: the new version's
    // committed schema is the base schema plus any columns the delta
    // introduced (appended, Delta's mergeSchema shape). Common columns —
    // matched case-INSENSITIVELY, Spark's default resolution, so a
    // case-variant name cannot commit a duplicate column that bricks
    // reads — must agree on type: no implicit widening, fail loudly like
    // Delta without an explicit evolution request (and fail in
    // milliseconds, not after the delta write + link walk).
    val baseSchema = storedSchema(prevDir)
      .getOrElse(readDir(df.sparkSession, prevDir.toString).schema)
    def sameName(a: String, b: String) = a.equalsIgnoreCase(b)
    df.schema.fields.foreach { f =>
      baseSchema.find(b => sameName(b.name, f.name)).foreach { b =>
        // sameType: nullability-only differences are legal (see
        // replacePartitions' rationale); only a real retype fails
        require(org.apache.spark.sql.GraftBridge.sameType(b.dataType,
            f.dataType) && b.name == f.name,
          s"appendVersion: column ${f.name} (${f.dataType}) conflicts " +
            s"with committed ${b.name} (${b.dataType}) — evolve types or " +
            "case explicitly (rewrite), not via append")
      }
    }
    val evolved = org.apache.spark.sql.types.StructType(
      baseSchema.fields ++
        df.schema.fields.filterNot(f =>
          baseSchema.exists(b => sameName(b.name, f.name))))
    // expected = baseV: the link-union is computed against baseV's
    // files, so a concurrent commit in between would be silently
    // dropped — the stale committer fails like overwriteIf, before the
    // delta write + link walk and again at swap time
    commit("append", Some(baseV)) { (dir, _) =>
      writeData(df, dir, "graft:appendWrite")
      // census BEFORE the link walk: the dir holds exactly the delta's
      // files here, which is precisely the step delta the commit log
      // records (and the CDF fast path later serves without walking)
      val (adds, _) = commitCensus(dir)
      linkBase(prevDir, dir, evolved, df.sparkSession,
        "appendVersion")(_ => false)
      ParquetTable.Staged(adds)
    }
  }

  /** Dynamic partition overwrite (Delta `replaceWhere` / Spark's
    * partitionOverwriteMode=dynamic, expressed on the versioned layout):
    * commit a new version where every partition VALUE present in `df` is
    * REPLACED by df's rows while all other partitions' files ride along
    * as hard links — O(|df| + #existing files), never a table rewrite.
    * This is the maintenance write-shape for bucket-granular incremental
    * operators (e.g. [[graft.streaming.PackStream]]: repack only the
    * buckets a micro-batch touched). Same crash-safety and staleness
    * discipline as [[appendVersion]]. Replacement granularity is the
    * LEAF partition — the full partition-column tuple, matched against
    * the hive dir chain — and partition values must render to plain
    * path-safe strings (true for the numeric/enum keys this layer uses;
    * values needing hive escaping are refused loudly). `applied`: the
    * commit's marker.
    */
  def replacePartitions(df: DataFrame,
      applied: Map[String, Int] = Map.empty): ParquetTable =
    replaceImpl(df, None, None, applied = applied)

  /** [[replacePartitions]] + write-side change capture (the
    * [[overwriteWithChanges]] feed contract — `changes` must be the
    * EXACT row-level delta of this replace) + `alsoReplace`: partition
    * VALUES to drop even when `df` carries no rows for them. The extra
    * set exists for copy-on-write merges
    * ([[graft.merge.MergeOps.upsertIntoPartitioned]]): a merge that
    * MOVES every row out of a partition produces a df with no rows for
    * it, and a df-derived replacement set would silently keep the stale
    * files — the classic dynamic-partition-overwrite pitfall.
    */
  def replacePartitionsWithChanges(df: DataFrame, changes: DataFrame,
      alsoReplace: Option[DataFrame] = None): ParquetTable =
    replaceImpl(df, Some(changes), alsoReplace)

  /** [[replacePartitionsWithChanges]] for callers that ALREADY hold the
    * replaced leaf-partition values as collected rows (the COW merge
    * collects its touched set to build the snapshot restriction
    * predicate before it ever reaches this commit). CONTRACT:
    * `replacedVals` must be the complete replacement set — a superset
    * of `df`'s own partition values — or stale files of an uncovered
    * value would ride along as links next to df's rows (duplicates).
    * Skips the two `distinct().collect()` jobs the DataFrame form pays
    * per commit to re-derive what the caller just collected.
    */
  def replacePartitionsWithChangesCovering(df: DataFrame,
      changes: DataFrame,
      replacedVals: Array[org.apache.spark.sql.Row]): ParquetTable =
    replaceImpl(df, Some(changes), None, Some(replacedVals))

  /** Distinct live LEAF-partition count, read from the hive dir layout
    * of the live version — one metadata walk, no Spark job (the
    * "did this predicate touch every partition?" decision otherwise
    * costs a full-snapshot distinct scan). None when the live version
    * has no hive-style dirs (unpartitioned handle, or the empty-write
    * schema-only fallback).
    */
  def livePartitionLeafCount: Option[Int] = {
    if (partitionColumns.isEmpty || !exists) return None
    def count(p: java.nio.file.Path, depth: Int): Int =
      if (depth == 0) 1
      else FsUtil.listDir(p).iterator
        .filter(d => Files.isDirectory(d) &&
          d.getFileName.toString.contains("="))
        .map(count(_, depth - 1)).sum
    val n = count(Paths.get(currentPath), partitionColumns.size)
    if (n == 0) None else Some(n)
  }

  private def replaceImpl(df: DataFrame, changes: Option[DataFrame],
      alsoReplace: Option[DataFrame],
      preCollected: Option[Array[org.apache.spark.sql.Row]] = None,
      applied: Map[String, Int] = Map.empty): ParquetTable = {
    require(partitionColumns.nonEmpty,
      "replacePartitions needs a partitioned table")
    import org.apache.spark.sql.functions.col
    changes.foreach(validateFeedShape(df, _))
    val baseV = version // throws if absent — replace needs a base
    val prevDir = Paths.get(currentPath)
    // Schema agreement, validated BEFORE any I/O (appendVersion's check):
    // a df with renamed/missing/retyped columns would commit parquet files
    // disagreeing with the _schema.json sidecar carried over from the base
    // version, and reads of the replaced partitions would silently return
    // NULL for every mismatched column. No evolution through this path —
    // the committed schema must already cover the df exactly.
    storedSchema(prevDir).foreach { baseSchema =>
      df.schema.fields.foreach { f =>
        val b = baseSchema.find(_.name.equalsIgnoreCase(f.name)).getOrElse(
          throw new IllegalArgumentException(
            s"replacePartitions: column ${f.name} is not in the committed " +
              s"schema of $path — replacePartitions does not evolve " +
              "schemas; use appendVersion/overwrite for new columns"))
        // sameType: nullability-only differences are legal (a join or
        // read-back flips containsNull freely and parquet represents both
        // identically at read time); only a REAL retype silently nulls
        require(org.apache.spark.sql.GraftBridge.sameType(b.dataType,
            f.dataType) && b.name == f.name,
          s"replacePartitions: column ${f.name} (${f.dataType}) conflicts " +
            s"with committed ${b.name} (${b.dataType})")
      }
      val missing = baseSchema.fields.map(_.name).toSet -- df.columns.toSet
      require(missing.isEmpty,
        s"replacePartitions: df is missing committed column(s) " +
          s"${missing.mkString(", ")} of $path — replaced partitions would " +
          "read NULL there")
    }
    // replacement granularity is the LEAF partition: the full tuple of
    // partition values, rendered as the hive dir chain c1=v1/c2=v2/….
    // Rendering must MATCH what Spark's write path put on disk: NULL
    // writes as __HIVE_DEFAULT_PARTITION__ and special characters (=, :,
    // %, …) are hive-escaped (%3D…) — a raw toString of either would pass
    // a naive path-safety check yet never match the on-disk dir name, so
    // the "replaced" partition's old files would silently ride along as
    // links NEXT TO the new rows (duplicates, not replacement). Refuse
    // both loudly: the keys this layer replaces on are numeric/enum.
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    def renderRows(
        rows: Array[org.apache.spark.sql.Row]): Set[Vector[String]] =
      rows.map(r => partitionColumns.indices.map { i =>
        require(!r.isNullAt(i),
          s"replacePartitions: NULL value in partition column " +
            s"${partitionColumns(i)} — NULL partitions " +
            "(__HIVE_DEFAULT_PARTITION__) are not replaceable through " +
            "this path")
        val raw = r.get(i).toString
        require(ExternalCatalogUtils.escapePathName(raw) == raw,
          s"replacePartitions: partition value '$raw' of column " +
            s"${partitionColumns(i)} needs hive path-escaping — only " +
            "plain path-safe values are replaceable through this path")
        s"${partitionColumns(i)}=$raw"
      }.toVector).toSet
    def renderParts(d: DataFrame): Set[Vector[String]] =
      renderRows(JobLabel(d.sparkSession, s"graft:renderParts $path") {
        d.select(partitionColumns.map(col): _*).distinct().collect()
      })
    val replaced = preCollected match {
      case Some(rows) =>
        val r = renderRows(rows)
        // Opt-in covering check (graft.write.verifyCover=true, spec runs):
        // the covering form trusts the caller's collected set by contract —
        // an incomplete set silently hard-links an uncovered value's stale
        // files NEXT TO df's new rows (duplicate data, no error). The old
        // DataFrame form self-validated by recomputing from df; this
        // re-adds that safety as a debug gate without paying the two
        // distinct().collect() jobs per commit in production.
        if (df.sparkSession.conf.getOption("graft.write.verifyCover")
            .contains("true")) {
          val fromDf = renderParts(df)
          require(fromDf.subsetOf(r),
            s"replacePartitionsWithChangesCovering: the caller's replaced " +
              s"set does not cover df's partition values — missing " +
              s"${(fromDf -- r).map(_.mkString("/")).mkString(", ")}")
        }
        r
      case None => renderParts(df) ++
        alsoReplace.map(renderParts).getOrElse(Set.empty)
    }
    val depth = partitionColumns.size
    commit("replace", Some(baseV)) { (dir, _) =>
      writeData(sizedForWrite(df), dir, "graft:replaceWrite")
      // the declared feed rides the staged dir (built before the pointer
      // swap, deleted with it on failure)
      changes.foreach(writeFeed(dir, _))
      // census BEFORE the link walk (appendVersion's rationale)
      val (adds, feed) = commitCensus(dir)
      // links skip every file under a REPLACED leaf-partition dir (full
      // tuple prefix); the sidecar keeps the base schema — no evolution
      // through this path
      linkBase(prevDir, dir,
          storedSchema(prevDir).getOrElse(df.schema), df.sparkSession,
          "replacePartitions") { rel =>
        rel.getNameCount > depth && replaced.contains(
          (0 until depth).map(i => rel.getName(i).toString).toVector)
      }
      ParquetTable.Staged(adds, feed,
        replaced.toSeq.map(_.mkString("/")).sorted, applied)
    }
  }

  /** The link half of a link-union commit ([[appendVersion]],
    * [[replacePartitions]]): link the base version's files into the
    * staged dir `dir`, next to the delta's writes, except what
    * `skip(rel)` rejects; then commit `schema` as the new version's
    * sidecar. The base's `_schema.json` is never linked: writing through
    * a linked name would corrupt the shared inode (and the base
    * version's history with it).
    *
    * PARTITIONED tables also skip the base's root-level parquet: the only
    * legitimate root parquet in a partitioned version is the empty-write
    * schema-only fallback ([[writeVersion]]), and linking it next to the
    * delta's col=value dirs would mix directory depths — Spark's
    * partition discovery then refuses the whole version ("conflicting
    * directory structures"). Its schema role is carried by
    * `_schema.json`. That skip is only sound for the zero-row fallback
    * file: a table first written through an UNPARTITIONED handle and
    * later reopened with partitionColumns has real data rows at root
    * level, and skipping those would DROP them from the new version. So
    * the skipped files are verified empty (one tiny job on a rare path)
    * and the partition-spec mismatch fails loudly instead of losing data.
    */
  private def linkBase(base: java.nio.file.Path, dir: String,
      schema: org.apache.spark.sql.types.StructType, spark: SparkSession,
      op: String)(skip: java.nio.file.Path => Boolean): Unit = {
    val nextDir = Paths.get(path, dir)
    val flat = Seq.newBuilder[java.nio.file.Path]
    linkFiles(base, nextDir) { rel =>
      val rootFlat = partitionColumns.nonEmpty && rel.getNameCount == 1 &&
        rel.toString.endsWith(".parquet")
      if (rootFlat) flat += base.resolve(rel)
      rootFlat || rel.toString == SchemaFile || skip(rel)
    }
    val skippedFlat = flat.result()
    if (skippedFlat.nonEmpty &&
        !spark.read.parquet(skippedFlat.map(_.toString): _*).isEmpty)
      throw new IllegalStateException(
        s"$op: base version of $path holds data rows in root-level parquet " +
          s"(${skippedFlat.size} file(s)) but this handle declares " +
          s"partitionColumns=${partitionColumns.mkString(",")} — the base " +
          "was written unpartitioned; rewrite the table under the new " +
          "partition spec instead")
    Files.writeString(nextDir.resolve(SchemaFile), schema.json)
  }

  /** Hard-link every file of version dir `src` into `dst`, mirroring rel
    * paths, except what `skip(rel)` rejects — and never job markers,
    * Hadoop's hidden `.crc` checksum siblings (Hadoop skips verification
    * when one is simply absent), the data-vacuumed marker, or `src`'s
    * `_changes/` feed (it describes THAT commit's delta; riding into
    * `dst` would mislabel it as this commit's feed). Falls back to
    * copying where the filesystem refuses links. Part-file names carry
    * write UUIDs, so a name already present in `dst` is a broken
    * invariant: it fails the commit instead of dropping or shadowing
    * data.
    */
  private def linkFiles(src: java.nio.file.Path, dst: java.nio.file.Path)(
      skip: java.nio.file.Path => Boolean): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val n = p.getFileName.toString
      val rel = src.relativize(p)
      val inFeed = rel.getNameCount > 1 &&
        rel.getName(0).toString == ChangesDir
      if (Files.isRegularFile(p) && n != "_SUCCESS" && !n.startsWith(".") &&
          n != DataVacuumedMarker && !inFeed && !skip(rel)) {
        val target = dst.resolve(rel)
        Files.createDirectories(target.getParent)
        try Files.createLink(target, p)
        catch {
          case e: java.nio.file.FileAlreadyExistsException =>
            throw new IllegalStateException(
              s"link-name collision committing to $path: $rel", e)
          case _: UnsupportedOperationException | _: FileSystemException =>
            Files.copy(p, target)
        }
      }
    }
    finally walk.close()
  }

  /** The data files of version `verName`, the live one, resolved from
    * the commit log. Every version up to the live one has its record, so
    * a failure here is a damaged log, and it is loud.
    */
  private def liveFiles(verName: String): Seq[VersionLog.FileEntry] =
    ParquetTable.resolveFilesCached(path, verName.drop(2).toInt).getOrElse(
      throw new IllegalStateException(s"the commit log of table $path " +
        s"does not resolve its live version $verName"))

  /** [[liveFiles]] of the live version. */
  private[io] def liveFiles: Seq[VersionLog.FileEntry] =
    liveFiles(currentVersion.getOrElse(
      throw new IllegalStateException(s"table at $path does not exist")))

  /** Live version number (1-based). */
  def version: Int = currentVersion
    .getOrElse(throw new IllegalStateException(s"table at $path does not exist"))
    .drop(2).toInt

  /** The live version's maintenance marker (the source versions its
    * data reflects), as its [[overwrite]]/[[replacePartitions]] recorded
    * it or [[restoreVersion]]/[[cloneTo]] copied it. Empty ("no marker":
    * rebuild) for any other commit, an absent table, or a missing, torn
    * or retired log record.
    */
  def applied: Map[String, Int] =
    currentVersion.flatMap(n => VersionLog.recordOf(path, n.drop(2).toInt))
      .map(_.applied).getOrElse(Map.empty)

  /** Time travel: read a specific retained version (`VERSION AS OF` in
    * Delta terms) — every version dir is kept until [[vacuum]], so audits
    * and reproducible re-reads of training inputs are free.
    */
  def readVersion(spark: SparkSession, v: Int): DataFrame = {
    val dir = Paths.get(path, f"v_$v%05d")
    require(Files.exists(dir), s"version $v of $path does not exist (vacuumed?)")
    require(!Files.exists(dir.resolve(DataVacuumedMarker)),
      s"version $v of $path was data-vacuumed (feed retained) — its " +
        "snapshot is no longer readable")
    readDir(spark, dir.toString)
  }

  /** Timestamp→version resolution (the address space of Delta's
    * `TIMESTAMP AS OF`): the LATEST commit stamped ≤ `tsMillis` —
    * "the table as of yesterday 14:00", the form of time travel
    * incident response reaches for. Every commit record carries a
    * wall-clock stamp ([[VersionLog.append]] adjusts it to stay
    * strictly monotonic per table), so the answer is unique; refuses
    * LOUDLY — never guesses — when `tsMillis` predates table birth or
    * an unstamped legacy record makes the boundary ambiguous.
    */
  def versionAtTimestamp(tsMillis: Long): Int =
    VersionLog.versionAt(path, tsMillis, version) match {
      case Right(v) => v
      case Left(reason) =>
        throw new IllegalArgumentException(
          s"versionAtTimestamp($tsMillis) on $path: $reason")
    }

  /** Time travel by wall-clock (`TIMESTAMP AS OF`): read the state the
    * table had at `tsMillis`. Same retention contract as
    * [[readVersion]] — the resolved version must still be retained
    * (loud refusal past the vacuum horizon).
    */
  def readAsOf(spark: SparkSession, tsMillis: Long): DataFrame =
    readVersion(spark, versionAtTimestamp(tsMillis))

  /** RESTORE by wall-clock (Delta `RESTORE TABLE … TO TIMESTAMP AS
    * OF`): [[restoreVersion]] of the timestamp's resolved version — the
    * rollback is a normal commit like version-addressed restore, so
    * history stays intact and the restore itself gets a stamp.
    */
  def restoreToTimestamp(tsMillis: Long): ParquetTable =
    restoreVersion(versionAtTimestamp(tsMillis))

  /** Change-data-feed since a wall-clock: everything that changed AFTER
    * the state the table had at `tsMillis` — `changesBetween` anchored
    * by [[versionAtTimestamp]], the "what moved since yesterday 14:00"
    * form of CDF consumption. Same refusal semantics as timestamp reads
    * (birth / retained-horizon / ambiguity refuse loudly).
    */
  def changesSince(spark: SparkSession, tsMillis: Long): DataFrame =
    changesBetween(spark, versionAtTimestamp(tsMillis), version)

  /** RESTORE (Delta `RESTORE TABLE … TO VERSION AS OF v`): make a
    * retained version the table's live content again by committing a
    * FRESH version whose files are hard links to v's — O(#files), zero
    * data copied, and history stays intact: the rollback itself is a
    * normal commit, so it is auditable, time-travelable past, and
    * CDF-diffable like any other write (the Delta semantics — RESTORE
    * never rewrites history). The commit-log record carries v's
    * per-file stats RESOLVED FROM THE LOG when it can (zero footer
    * re-opens; the restored layout mirrors v's rel paths exactly), so
    * data skipping works on the restored version immediately; an
    * unresolvable log degrades to the one commit-time footer pass.
    * Restoring the live version is a no-op. Refuses data-vacuumed
    * snapshots loudly — their files are gone by declaration.
    */
  def restoreVersion(v: Int): ParquetTable = {
    val curV = ParquetTable.withCommitLock(path)(versionNum)
    if (v == curV) return this
    val srcDir = Paths.get(path, f"v_$v%05d")
    require(Files.exists(srcDir),
      s"restoreVersion: version $v of $path does not exist (vacuumed?)")
    require(!Files.exists(srcDir.resolve(DataVacuumedMarker)),
      s"restoreVersion: version $v of $path was data-vacuumed (feed " +
        "retained) — its snapshot is no longer restorable")
    commit("overwrite", Some(curV))((dir, _) => linkSnapshot(path, v, dir))
  }

  /** Zero-copy CLONE (Delta `CREATE TABLE … CLONE src`): a NEW table at
    * `destPath` whose v1 hard-links this table's LIVE files — O(#files)
    * regardless of data size. On a link-capable filesystem the clone is
    * DURABLE against source vacuum (vacuum unlinks names; shared inodes
    * survive while the clone references them) — stronger than Delta's
    * shallow clone, without deep-clone's copy. The clone starts its own
    * commit history (its own `_log/`, seeded with an overwrite record
    * carrying the source's per-file stats when the source log resolves,
    * so data skipping works from the first read) and evolves fully
    * independently of the source.
    */
  def cloneTo(destPath: String): ParquetTable = {
    val dest = new ParquetTable(destPath, partitionColumns, captureStats)
    require(!dest.exists,
      s"cloneTo: a table already exists at $destPath")
    // pin the SOURCE pointer once (as read() does): version and dir
    // must name the same commit — reading `version` then `currentPath`
    // separately lets a concurrent source commit in between link the
    // NEW version's files under the OLD version's manifest+stats,
    // silently breaking the clone's manifest-equals-walk invariant.
    // The pinned dir is immutable once committed, so linking needs no
    // further re-verification (vacuum-mid-link fails loudly below).
    val srcName = currentVersion.getOrElse(
      throw new IllegalStateException(s"cloneTo: table at $path does not exist"))
    val srcV = srcName.drop(2).toInt
    // expected 0: a concurrent create at destPath fails the clone
    dest.commit("overwrite", Some(0))((dir, _) =>
      dest.linkSnapshot(path, srcV, dir))
  }

  /** Stage a snapshot commit ([[restoreVersion]], [[cloneTo]]): link
    * every file of version `srcV` of the table at `srcPath` — data files
    * and the `_schema.json` sidecar, rel paths mirrored — into this
    * table's staged dir `dir`. The record carries the source's per-file
    * stats and sizes RESOLVED FROM ITS LOG when it can (zero footer
    * re-opens); a version retired below the log horizon takes the
    * commit-time census. `srcV`'s marker rides along: it describes
    * exactly this data.
    */
  private def linkSnapshot(srcPath: String, srcV: Int,
      dir: String): ParquetTable.Staged = {
    linkFiles(Paths.get(srcPath, f"v_$srcV%05d"), Paths.get(path, dir))(_ => false)
    ParquetTable.Staged(VersionLog.resolveFiles(srcPath, srcV)
      .getOrElse(commitCensus(dir)._1),
      applied = VersionLog.recordOf(srcPath, srcV)
        .map(_.applied).getOrElse(Map.empty))
  }

  /** DATA-SKIPPING read of the live version (Delta's file-stats design,
    * task: prune the file list BEFORE Spark plans the scan): files whose
    * commit-metadata min/max ranges ([[VersionLog]], captured once at
    * write time) are disjoint from `bounds` are dropped WITHOUT opening
    * a single parquet footer — at 100 TB, footer sampling is the
    * scan-planning bottleneck this removes. The result is a SUPERSET of
    * the rows matching `bounds` (files without stats survive; NULLs
    * never satisfy a bound): callers apply the real filter on top, and
    * Catalyst still pushes it into the surviving files' row groups.
    */
  def readPruned(spark: SparkSession, bounds: Seq[ColumnBound]): DataFrame = {
    // pin the pointer once (read's rationale)
    val verName = currentVersion.getOrElse(
      throw new IllegalStateException(s"table at $path does not exist"))
    val verDir = Paths.get(path, verName)
    val kept = liveFiles(verName)
      .filter(f => ColumnBound.survives(f.stats, bounds))
    val schema = storedSchema(verDir)
    if (kept.isEmpty)
      schema match {
        case Some(st) => spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), st)
        case None => readDir(spark, verDir.toString).limit(0)
      }
    else {
      val paths = kept.map(f => verDir.resolve(f.rel).toString)
      val rd = schema.fold(spark.read)(st => spark.read.schema(st))
      rd.option("basePath", verDir.toString).parquet(paths: _*)
    }
  }

  /** The live version's file count after pruning on `bounds` — the IO
    * proof seam (ScaleSpec): (kept, total), resolved from the commit
    * log alone, no footer opens.
    */
  def prunedFileCensus(bounds: Seq[ColumnBound]): (Int, Int) = {
    val files = liveFiles
    (files.count(f => ColumnBound.survives(f.stats, bounds)), files.size)
  }

  /** Change-data-feed emulation between two retained versions, with
    * MULTISET semantics: per full-row tuple, the copy-count delta between
    * the versions is emitted as that many insert/delete rows (a row going
    * 1→3 copies reports 2 inserts, like Delta CDF). Updates surface as
    * delete(old)+insert(new). NULL-safe throughout — grouping collates NULL
    * values, and the version join compares with `<=>`. Served from the
    * commit log when every step's record classifies it (a write-side
    * feed or an append's added files: [[logSpanDelta]]), else by the
    * full snapshot diff ([[multisetDiff]], two shuffles).
    */
  def changesBetween(spark: SparkSession, fromV: Int, toV: Int): DataFrame = {
    // align both sides on the TO version's schema (Delta's convention for
    // CDF across schema evolution): columns the old version lacks read as
    // NULL there, so a pure column-add changes nothing unless values do;
    // columns dropped by toV are outside the diff
    val to = readVersion(spark, toV)
    val cols = to.columns.toIndexedSeq
    // the diff machinery owns the __-prefixed scratch names and the
    // _change_type output column — a table using them would make the
    // rename/select ambiguous and the output malformed; refuse loudly
    require(cols.forall(c => !c.startsWith("__") && c != "_change_type"),
      s"changesBetween: table columns may not use the reserved names " +
        s"__* or _change_type (got ${cols.mkString(", ")})")
    logSpanDelta(spark, fromV, toV, to, cols)
      .getOrElse(multisetDiff(alignTo(readVersion(spark, fromV), to, cols),
        to, cols))
  }

  /** `from` projected onto `to`'s columns `cols`: columns it lacks read
    * as typed NULLs.
    */
  private def alignTo(from: DataFrame, to: DataFrame,
      cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    cols.foldLeft(from)((d, c) =>
        if (d.columns.contains(c)) d
        else d.withColumn(c, lit(null).cast(to.schema(c).dataType)))
      .select(cols.map(col): _*)
  }

  /** The generic full-width snapshot diff (the correctness BASELINE every
    * fast path must land on): net multiset delta `from` → `to`, one
    * output row per changed copy. NULL-safe throughout.
    */
  private def multisetDiff(fromAligned: DataFrame, to: DataFrame,
      cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val f = fromAligned.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("__n_from"))
    val t0 = to.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("__n_to"))
    val t = cols.foldLeft(t0)((d, c) => d.withColumnRenamed(c, s"__t_$c"))
    val cond = cols.map(c => col(c) <=> col(s"__t_$c")).reduce(_ && _)
    val delta = coalesce(col("__n_to"), lit(0L)) -
      coalesce(col("__n_from"), lit(0L))
    f.join(t, cond, "full_outer")
      .withColumn("__delta", delta)
      .filter(col("__delta") =!= 0)
      // one output row per changed copy
      .withColumn("__i", explode(sequence(lit(1L), abs(col("__delta")))))
      .select(cols.map(c => coalesce(col(c), col(s"__t_$c")).as(c)) :+
        when(col("__delta") > 0, lit("insert")).otherwise(lit("delete"))
          .as("_change_type"): _*)
  }

  /** Project one step's delta frame onto the TO schema (missing columns
    * as typed NULLs, matched columns cast — a no-op unless the span
    * retyped).
    */
  private def alignStep(d: DataFrame, to: DataFrame,
      cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    d.select(cols.map { c =>
      if (d.columns.contains(c)) col(c).cast(to.schema(c).dataType).as(c)
      else lit(null).cast(to.schema(c).dataType).as(c)
    } :+ col("_change_type"): _*)
  }

  /** Net per-step delta frames into one span delta with EXACTLY
    * [[multisetDiff]]'s output semantics (a row inserted then deleted
    * inside the span cancels), every step aligned onto the TO schema
    * ([[alignStep]]). Projection onto the TO schema is linear over
    * multiset counts, so the per-step sum telescopes to
    * snapshot-minus-snapshot even across schema evolution mid-span.
    */
  private def netSteps(steps: Seq[DataFrame], to: DataFrame,
      cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val aligned = steps.map(alignStep(_, to, cols))
    val all = aligned.reduce(_ unionByName _)
    val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
    all.groupBy(cols.map(col): _*)
      .agg(sum(sign).as("__delta"))
      .filter(col("__delta") =!= 0)
      .withColumn("__i", explode(sequence(lit(1L), abs(col("__delta")))))
      .select(cols.map(col) :+
        when(col("__delta") > 0, lit("insert")).otherwise(lit("delete"))
          .as("_change_type"): _*)
  }

  /** CDF span resolution off the COMMIT LOG ([[VersionLog]]): every
    * step in (fromV, toV] classified from its persisted record —
    * feed-carrying commits read exactly their recorded feed files,
    * append commits read exactly their recorded added files as inserts
    * — in O(span/K) sidecar reads and zero version-dir walks. Any gap
    * (a retired record, a step with neither feed nor append delta,
    * reclaimed files) returns None for the caller's snapshot diff.
    */
  private def logSpanDelta(spark: SparkSession, fromV: Int, toV: Int,
      to: DataFrame, cols: Seq[String]): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit}
    if (fromV >= toV) return None
    VersionLog.resolveSteps(path, fromV, toV).flatMap { recs =>
      // GROUPED reads, not a per-step union: a serving-cadence span has
      // thousands of steps, and a thousand-way unionByName is a plan
      // explosion. All feed files sharing a committed schema collapse
      // into ONE scan (evolution mid-span is the rare extra group), and
      // every append delta servable from the TO dir (append chains
      // preserve relative names as hard links) collapses into ONE scan
      // with partition recovery off the TO basePath. Per-step fallback
      // reads only appear for data-reclaimed append steps.
      val toDir = Paths.get(path, f"v_$toV%05d")
      val feedGroups = scala.collection.mutable.LinkedHashMap[
        String, Vector[java.nio.file.Path]]()
      var appendAdds = Vector.empty[java.nio.file.Path]
      // append steps whose files no longer live in the TO dir (a later
      // overwrite rewrote the table): for UNPARTITIONED tables they
      // group by their committed schema into one scan per group — flat
      // layouts need no basePath; partitioned ones (partition values
      // live in each version's dir structure) fall back per step
      val looseGroups = scala.collection.mutable.LinkedHashMap[
        String, Vector[java.nio.file.Path]]()
      var loose = Vector.empty[DataFrame]
      var anyFeed = false
      recs.foreach { r =>
        if (r.feed.nonEmpty) {
          anyFeed = true
          val verDir = Paths.get(path, f"v_${r.v}%05d")
          val files = r.feed.map(verDir.resolve)
          storedSchema(verDir).map(_.json) match {
            case Some(sj) if files.forall(Files.exists(_)) =>
              feedGroups(sj) = feedGroups.getOrElse(sj, Vector.empty) ++ files
            case _ => return None
          }
        } else if (r.kind == "append") {
          if (r.adds.nonEmpty) {
            val absTo = r.adds.map(f => toDir.resolve(f.rel))
            if (absTo.forall(Files.exists(_))) appendAdds ++= absTo
            else {
              val verDir = Paths.get(path, f"v_${r.v}%05d")
              val own = r.adds.map(f => verDir.resolve(f.rel))
              storedSchema(verDir).map(_.json) match {
                case Some(sj) if partitionColumns.isEmpty &&
                    own.forall(Files.exists(_)) =>
                  looseGroups(sj) =
                    looseGroups.getOrElse(sj, Vector.empty) ++ own
                case _ => stepFrame(spark, toV, to, r) match {
                  case Some(d) => loose :+= d
                  case None => return None
                }
              }
            }
          } // an empty append delta contributes nothing
        } else return None
      }
      def parseSchema(sj: String) =
        org.apache.spark.sql.types.DataType.fromJson(sj)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
      val feedFrames = feedGroups.toSeq.map { case (sj, files) =>
        val st = parseSchema(sj)
        val wide = org.apache.spark.sql.types.StructType(st.fields :+
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType))
        spark.read.schema(wide).parquet(files.map(_.toString): _*)
      }
      val appendFrame =
        if (appendAdds.isEmpty) None
        else Some(spark.read.schema(to.schema)
          .option("basePath", toDir.toString)
          .parquet(appendAdds.map(_.toString): _*)
          .select(to.schema.fields.map(f => col(f.name)).toIndexedSeq :+
            lit("insert").as("_change_type"): _*))
      val looseFrames = looseGroups.toSeq.map { case (sj, files) =>
        val st = parseSchema(sj)
        spark.read.schema(st).parquet(files.map(_.toString): _*)
          .select(st.fields.map(f => col(f.name)).toIndexedSeq :+
            lit("insert").as("_change_type"): _*)
      }
      val frames = feedFrames ++ appendFrame.toSeq ++ looseFrames ++ loose
      if (frames.isEmpty)
        // the whole span was empty appends: a typed zero-row delta
        Some(to.limit(0).select(cols.map(col).toIndexedSeq :+
          lit("insert").as("_change_type"): _*))
      else if (!anyFeed)
        // appends only GROW the multiset: the union of the adds IS the
        // net delta — skip the netting shuffle entirely
        Some(frames.map(alignStep(_, to, cols)).reduce(_ unionByName _))
      else Some(netSteps(frames, to, cols))
    }
  }

  /** One step's delta frame from its log record, or None when the step
    * is not coverable (a plain overwrite/replace without a feed) or its
    * recorded files are no longer findable.
    */
  private def stepFrame(spark: SparkSession, toV: Int, to: DataFrame,
      r: VersionLog.Record): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit}
    val verDir = Paths.get(path, f"v_${r.v}%05d")
    if (r.feed.nonEmpty) {
      val files = r.feed.map(verDir.resolve)
      if (!files.forall(Files.exists(_))) None
      else storedSchema(verDir).map { st =>
        val wide = org.apache.spark.sql.types.StructType(st.fields :+
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType))
        spark.read.schema(wide).parquet(files.map(_.toString): _*)
      }
    } else if (r.kind == "append") {
      if (r.adds.isEmpty)
        // an empty append delta: a zero-row step, typed off the TO frame
        Some(to.limit(0).select(to.columns.map(col).toIndexedSeq :+
          lit("insert").as("_change_type"): _*))
      else {
        // the added files, preferably under their own version dir (its
        // committed schema reads evolved columns correctly); a
        // data-reclaimed step serves through the TO dir, where append
        // chains preserve relative names and the TO schema null-fills
        val absStep = r.adds.map(f => verDir.resolve(f.rel))
        val toDir = Paths.get(path, f"v_$toV%05d")
        val pick: Option[(java.nio.file.Path,
            org.apache.spark.sql.types.StructType)] =
          if (absStep.forall(Files.exists(_)))
            storedSchema(verDir).map(st => (verDir, st))
          else {
            val absTo = r.adds.map(f => toDir.resolve(f.rel))
            if (absTo.forall(Files.exists(_))) Some((toDir, to.schema))
            else None
          }
        pick.map { case (base, st) =>
          spark.read.schema(st)
            .option("basePath", base.toString)
            .parquet(r.adds.map(f => base.resolve(f.rel).toString): _*)
            .select(st.fields.map(f => col(f.name)).toIndexedSeq :+
              lit("insert").as("_change_type"): _*)
        }
      }
    } else None
  }

  /** Delta `DESCRIBE HISTORY`: the RESOLVABLE commit records as a
    * DataFrame — version, kind (overwrite/append/replace), the
    * monotonic commit timestamp, the commit's file/feed footprint and
    * its maintenance marker (`applied`, empty when it carries none).
    * History is log-bound: versions whose records retired below the
    * retention horizon are absent (the timestamp-travel rule); vacuum
    * reclaims version DIRS but never the `_log`, so history survives
    * it. Driver-side by construction — the log is metadata-scale
    * (O(commits/K) checkpoint files after compaction).
    */
  def history(spark: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val recs = VersionLog.recordsUpTo(path, version)
    val schema = StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("timestamp", TimestampType, nullable = true),
      StructField("n_added_files", IntegerType, nullable = false),
      StructField("n_feed_files", IntegerType, nullable = false),
      StructField("n_removed_prefixes", IntegerType, nullable = false),
      StructField("applied", MapType(StringType, IntegerType,
        valueContainsNull = false), nullable = false)))
    val rows = recs.map { r =>
      org.apache.spark.sql.Row(r.v, r.kind,
        r.ts.map(ms => new java.sql.Timestamp(ms)).orNull,
        r.adds.size, r.feed.size, r.removedPrefixes.size, r.applied)
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Small-file compaction (Delta OPTIMIZE): rewrite the live version into
    * `targetPartitions` files, optionally clustered by `sortCols`
    * (Z-order-lite — sorted row groups give parquet min/max skipping on
    * those columns). At 100 TB the streaming/merge write paths produce many
    * small files per partition; periodic compaction keeps scan task counts
    * and footer overhead bounded.
    */
  def compact(spark: SparkSession, targetPartitions: Int,
      sortCols: Seq[String] = Nil): ParquetTable = {
    import org.apache.spark.sql.functions.{col, xxhash64}
    // sorted compaction must RANGE-partition on the sort key: a
    // round-robin repartition + in-partition sort clusters row groups
    // inside each file but leaves every FILE spanning the full key range,
    // so footer min/max stats prune nothing at the file level (ScaleSpec
    // measures exactly this). A full-row hash rides along as the LAST
    // range key: with a heavily skewed sort key the range sampler would
    // otherwise concentrate one hot key's rows into a single
    // near-corpus-sized file; the tiebreaker splits equal-key runs evenly
    // across partitions while file-level key ranges stay contiguous, so
    // the file-SIZE budget holds without costing any footer pruning.
    val src = read(spark)
    // The tiebreaker hash may only cover hashable columns: xxhash64 on a
    // MapType raises AnalysisException (maps have no canonical order), so
    // tables carrying map columns would fail to compact at all. Dropping
    // unhashable columns from the hash loses nothing — the tiebreaker only
    // needs to be ~uniform within equal-sort-key runs, and the sort keys
    // themselves stay covered by the leading range keys.
    def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      dt match {
        case _: MapType => false
        case s: StructType => s.fields.forall(f => hashable(f.dataType))
        case a: ArrayType => hashable(a.elementType)
        case _ => true
      }
    }
    val hashCols = src.schema.fields
      .filter(f => hashable(f.dataType)).map(f => col(f.name)).toIndexedSeq
    val df = if (sortCols.nonEmpty) {
      val tiebreak =
        if (hashCols.nonEmpty) Seq(xxhash64(hashCols: _*)) else Nil
      src.repartitionByRange(targetPartitions,
          (sortCols.map(col) ++ tiebreak).toIndexedSeq: _*)
        .sortWithinPartitions(sortCols.map(col).toIndexedSeq: _*)
    } else src.repartition(targetPartitions)
    overwrite(df)
  }

  /** OPTIMIZE ZORDER BY: rewrite clustered on the Morton code of `zCols`
    * so parquet footer stats prune scans filtered on ANY of them — a
    * linear `compact(sortCols)` only skips on its leading column
    * ([[graft.scale.ZOrder]]; ScaleSpec quantifies the per-file width
    * collapse on the second dimension).
    */
  def compactZOrder(spark: SparkSession, targetPartitions: Int,
      zCols: Seq[String], bits: Int = 12): ParquetTable =
    overwrite(graft.scale.ZOrder.layout(read(spark), zCols,
      targetPartitions, bits))

  /** Drop all version dirs except the live one (Delta VACUUM). The
    * directory streams are closed explicitly — leaked directory fds from
    * repeated vacuums would eventually starve the driver of file handles.
    *
    * `stagingTtlMs` bounds the disk residue of hard-killed writers: a
    * `_stage_*` dir last modified longer ago than the TTL is an orphan
    * (its writer died without either committing or cleaning up) and is
    * collected; a RECENT one is an in-flight writer and stays. Delta's
    * vacuum has the same shape (retention window vs in-flight
    * transactions). Pass `Long.MaxValue` to never collect staging dirs.
    */
  def vacuum(stagingTtlMs: Long = 24L * 3600 * 1000): ParquetTable =
    vacuumImpl(stagingTtlMs, Int.MaxValue)

  /** [[vacuum]] for CDF-consumer topologies (the feed retention
    * policy): version dirs BELOW `keepFeedsFrom` are reclaimed
    * entirely (their feeds included — every consumer has applied past
    * them, dead weight), while dirs at/above it keep their commit
    * METADATA — the `_changes/` feed and `_schema.json` — and reclaim
    * only the snapshot DATA files, marked [[DataVacuumedMarker]] so
    * time travel fails loudly instead of reading an empty frame.
    * Feed-covered CDF spans starting at or above `keepFeedsFrom - 1`
    * keep serving exactly as before (the feed path never reads old
    * snapshots), so IVM consumers behind the live version still
    * advance — TablesSpec proves both halves. Compute `keepFeedsFrom`
    * from the consumers' maintenance markers
    * ([[graft.gold.GoldMaintenance.feedHorizon]]) or pass an explicit
    * retention horizon.
    */
  def vacuumKeepingFeeds(keepFeedsFrom: Int,
      stagingTtlMs: Long = 24L * 3600 * 1000): ParquetTable =
    vacuumImpl(stagingTtlMs, keepFeedsFrom)

  private def vacuumImpl(stagingTtlMs: Long,
      keepFeedsFrom: Int): ParquetTable =
    ParquetTable.withCommitLock(path) {
    val entries = FsUtil.listDir(Paths.get(path))
    val versions = entries.filter(_.getFileName.toString.startsWith("v_"))
    // vacuum is the ONE destructive operation on a table: with a lost or
    // corrupted _current pointer, "keep the live version" degenerates to
    // "keep nothing" and every version dir — including the recoverable
    // data a manual pointer restore could have saved — would be deleted.
    // The read accessors all throw on a missing pointer; so must this
    // (a never-written table with no versions at all stays a no-op).
    require(exists || versions.isEmpty,
      s"vacuum: no _current pointer at $path but ${versions.size} version " +
        "dir(s) exist — refusing to delete every version; restore the " +
        "pointer (or remove the directory deliberately) first")
    // versions are numbered under this lock, so everything below the live
    // one is superseded; a commit's own residue above it is the next
    // commit's to roll back
    val live = versionNum
    versions.foreach { p =>
      p.getFileName.toString.drop(2).toIntOption.filter(_ < live).foreach { v =>
        if (v >= keepFeedsFrom) dataVacuumKeepFeed(p)
        else FsUtil.deleteRecursively(p)
      }
    }
    val now = System.currentTimeMillis()
    entries.filter(_.getFileName.toString.startsWith(StagePrefix)).foreach { p =>
      val age =
        try now - Files.getLastModifiedTime(p).toMillis
        catch { case _: java.io.IOException => 0L } // committed meanwhile
      if (age >= stagingTtlMs) FsUtil.deleteRecursively(p)
    }
    this
  }

  /** Reclaim a superseded version's DATA while retaining its commit
    * metadata (`_changes/` feed + `_schema.json`) — see
    * [[vacuumKeepingFeeds]]. Idempotent; leaves [[DataVacuumedMarker]].
    */
  private def dataVacuumKeepFeed(verDir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val feedDir = verDir.resolve(ChangesDir)
    val victims = {
      val walk = Files.walk(verDir)
      try walk.iterator().asScala.filter { p =>
        p != verDir && !p.startsWith(feedDir) && {
          val n = p.getFileName.toString
          n != SchemaFile && n != DataVacuumedMarker
        }
      }.toList
      finally walk.close()
    }
    // children before parents: a path is lexicographically after every
    // strict prefix of it, so reverse string order deletes bottom-up
    victims.sortBy(_.toString)(Ordering[String].reverse).foreach { p =>
      try Files.deleteIfExists(p)
      catch { case _: java.nio.file.DirectoryNotEmptyException => () }
    }
    Files.writeString(verDir.resolve(DataVacuumedMarker), "")
  }
}

object ParquetTable {

  /** What a staged commit contributes to its [[VersionLog.Record]]. */
  private[io] final case class Staged(adds: Seq[VersionLog.FileEntry],
      feed: Seq[String] = Nil, removedPrefixes: Seq[String] = Nil,
      applied: Map[String, Int] = Map.empty)

  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Committed-version file-set resolutions (immutable once written),
    * bounded LRU: access-ordered LinkedHashMap evicting the eldest
    * entry past 512 — hot serving tables stay warm under many-table
    * workloads instead of the former clear-on-overflow dropping every
    * entry at once (periodic re-resolution storms on the serving
    * path). All access goes through the synchronized wrapper; a miss
    * just re-resolves, so eviction is never a correctness event.
    */
  private[io] val resolveCache: java.util.Map[
      String, Option[Seq[VersionLog.FileEntry]]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[
          String, Option[Seq[VersionLog.FileEntry]]](64, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[
            String, Option[Seq[VersionLog.FileEntry]]]): Boolean =
          size() > 512
      })

  /** [[VersionLog.resolveFiles]] per (table, version), cached: a version
    * is immutable once committed, and the bench/serving pattern re-reads
    * the same live version many times — without the cache every read
    * pays the O(span/K) sidecar walk again.
    *
    * Every commit's pointer swap [[ParquetTable.swapPointer]] calls
    * [[invalidateResolved]] for its path, so delete-and-recreate at the
    * same path (the scratch-table pattern, which REUSES version
    * numbers) re-resolves instead of serving a stale entry. Should a
    * stale entry survive anyway (an out-of-band recreate), the failure
    * mode stays conservative by construction: the stale rel paths can
    * never match the recreated version's job-unique part file names, so
    * every listed file misses the stats map and SURVIVES (pruning
    * silently disabled, results exact) — do not flip the `.forall` in
    * the pruner.
    */
  private[io] def resolveFilesCached(tablePath: String,
      v: Int): Option[Seq[VersionLog.FileEntry]] = {
    val key = s"$tablePath@$v"
    val cached = resolveCache.get(key)
    if (cached != null) cached
    else {
      val r = VersionLog.resolveFiles(tablePath, v)
      resolveCache.put(key, r)
      r
    }
  }

  /** Drop every cached resolution of `tablePath` (all versions) — the
    * commit-time hook: a new commit may reuse a version number after a
    * delete-and-recreate, and its readers must resolve fresh. The
    * normalized form matches [[statsPrunerFor]]'s keying; the raw form
    * covers direct [[resolveFilesCached]] callers. O(cache size ≤ 512)
    * per commit — noise next to the commit's own IO.
    */
  private[io] def invalidateResolved(tablePath: String): Unit = {
    val raw = tablePath + "@"
    val norm =
      try java.nio.file.Paths.get(tablePath).toAbsolutePath.normalize()
        .toString + "@"
      catch { case _: Exception => raw }
    // iteration over a synchronizedMap must hold the map's own monitor
    resolveCache.synchronized {
      val it = resolveCache.keySet().iterator()
      while (it.hasNext) {
        val k = it.next()
        if (k.startsWith(raw) || k.startsWith(norm)) it.remove()
      }
    }
  }

  /** Commit-metadata skipping pruner for an arbitrary committed version
    * dir (`.../table/v_NNNNN`): `Some(pruner)` when the directory name
    * parses as a version, the table's commit log resolves that
    * version's file set, and at least one file carries stats — `None`
    * otherwise (callers take the plain read; skipping is an
    * optimization, never a correctness dependency). The SQL-path
    * catalog rule ([[org.apache.spark.sql.GraftSqlSkipping]]) calls it;
    * [[ParquetTable.read]] builds the SAME [[prunerOver]] from its live
    * file set, so both hand Catalyst's pushed-down filters to one stats
    * predicate.
    */
  def statsPrunerFor(verDir: String): Option[
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        (String => Boolean)] = {
    import java.nio.file.Paths
    // accept both plain paths and the file: URIs Hadoop root paths
    // carry (the catalog rule passes `rootPaths.head.toString`)
    val dirPath =
      try {
        val p = if (verDir.contains(":/"))
          Paths.get(new java.net.URI(verDir))
        else Paths.get(verDir)
        p.toAbsolutePath.normalize()
      } catch { case _: Exception => return None }
    val verName = Option(dirPath.getFileName).map(_.toString).getOrElse("")
    val parent = Option(dirPath.getParent).map(_.toString)
    if (!verName.matches("v_\\d+") || parent.isEmpty) return None
    val v =
      try verName.drop(2).toInt
      catch { case _: NumberFormatException => return None }
    resolveFilesCached(parent.get, v).flatMap(prunerOver(dirPath, _))
  }

  /** The stats pruner over version dir `verDir`'s resolved `files`;
    * None when no file carries stats.
    */
  private[io] def prunerOver(verDir: java.nio.file.Path,
      files: Seq[VersionLog.FileEntry]): Option[
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        (String => Boolean)] = {
    import java.nio.file.Paths
    val dirPath = verDir.toAbsolutePath.normalize()
    if (!files.exists(_.stats.nonEmpty)) None
    else {
      // keyed by the FULL rel path, never the file name alone: ONE
      // partitioned write job reuses the same part-NNNNN-<uuid> name
      // across every partition dir it writes, so a name-keyed map
      // would collide and attribute one partition's stats to
      // another's file — and a mis-attributed range PRUNES rows that
      // exist (the replay-gate probe bug this comment memorializes)
      val statsByRel = files.iterator.map(f => f.rel -> f.stats).toMap
      def relOf(listed: String): Option[String] =
        try {
          val p = if (listed.contains(":/"))
            Paths.get(new java.net.URI(listed))
          else Paths.get(listed)
          Some(dirPath.relativize(p.toAbsolutePath.normalize()).toString)
        } catch { case _: Exception => None }
      Some(filters => {
        val pred = StatsPruning.predicate(filters)
        if (pred.trivial) _ => true
        else p => relOf(p).flatMap(statsByRel.get)
          .forall(pred.survives)
      })
    }
  }

  /** Commit-window mutual exclusion: a JVM-global monitor per table path
    * (two threads of one JVM serialize here — a second `FileChannel.lock`
    * on the same file would throw `OverlappingFileLockException`, not
    * block) wrapping an OS file lock on `_lock` (two PROCESSES on a
    * shared filesystem serialize there). Keyed by the raw path string;
    * aliased spellings of one directory fall back to file-lock-only
    * protection.
    */
  private[io] def withCommitLock[T](path: String)(body: => T): T = {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val mon = monitors.computeIfAbsent(path, _ => new Object)
    mon.synchronized {
      Files.createDirectories(Paths.get(path))
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(path, "_lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try body finally lock.release()
      } finally ch.close()
    }
  }
}

/** An INCLUSIVE column range for [[ParquetTable.readPruned]]'s
  * data-skipping: rows of interest satisfy `lower <= column <= upper`
  * (either side open). Values may be Long/Int (integer/date/timestamp
  * stats), Double/Float, or String; a bound whose type cannot be
  * compared against a file's stat type simply never prunes — skipping
  * is an optimization with a superset guarantee, never a filter.
  *
  * `anyOf` is the DISCRETE form (an IN-list): the file survives when
  * ANY listed value falls inside its [min, max] — strictly sharper than
  * the min..max envelope a range can express (`IN (5, 9_000_000)`
  * would otherwise keep every file between the two points). When both
  * forms are set they AND, like separate bounds.
  *
  * `requireNulls` is the NULL-count form (Delta's null-count skipping
  * for `IS NULL` predicates): the file survives only if its captured
  * stats admit at least one NULL in the column — `hasNulls` is captured
  * conservatively (missing/unset null counts read as "has nulls"), so
  * the superset guarantee holds.
  */
final case class ColumnBound(column: String, lower: Option[Any] = None,
    upper: Option[Any] = None, anyOf: Option[Seq[Any]] = None,
    requireNulls: Boolean = false) {

  /** Sorted-value forms of `anyOf`, computed ONCE per bound and reused
    * across every file's survive check: the per-file test becomes one
    * binary search (any value in [min, max] ⇔ the first value ≥ min is
    * ≤ max) instead of the former O(values) scan — O(files × log V)
    * total for a V-value IN over the table, not O(files × V). A list
    * whose members do not ALL convert to the domain stays None and the
    * check conservatively degrades (an incomparable member always made
    * the file survive under the scan form too).
    */
  @transient private[io] lazy val anyOfLongs: Option[Array[Long]] =
    anyOf.map { vs =>
      val a = vs.flatMap(ColumnBound.asLong)
      if (a.length == vs.length) Some(a.toArray.sorted) else None
    }.getOrElse(None)
  @transient private[io] lazy val anyOfDoubles: Option[Array[Double]] =
    anyOf.map { vs =>
      val a = vs.flatMap(ColumnBound.asDouble)
      if (a.length == vs.length) Some(a.toArray.sorted) else None
    }.getOrElse(None)
  @transient private[io] lazy val anyOfStrings: Option[Array[String]] =
    anyOf.map { vs =>
      val a = vs.collect { case s: String => s }
      if (a.length == vs.length)
        Some(a.toArray.sortWith(ColumnBound.utf8Cmp(_, _) < 0))
      else None
    }.getOrElse(None)
}

object ColumnBound {

  /** Does a file with `stats` possibly hold rows satisfying every
    * bound? True unless some bound's range is PROVABLY disjoint from
    * the file's [min, max] — absent stats or incomparable types always
    * survive.
    */
  private[io] def survives(stats: Map[String, VersionLog.ColStat],
      bounds: Seq[ColumnBound]): Boolean =
    bounds.forall { b =>
      stats.get(b.column) match {
        case None => true
        case Some(s) =>
          // intersects ⇔ file.min <= upper AND file.max >= lower;
          // an incomparable side (None from cmp) never disqualifies
          b.upper.forall(u => cmp(s.tpe, s.min, u).forall(_ <= 0)) &&
            b.lower.forall(l => cmp(s.tpe, s.max, l).forall(_ >= 0)) &&
            // discrete form: ∃ listed value inside [min, max] — one
            // binary search over the bound's pre-sorted values (see
            // ColumnBound.anyOfLongs); a list with an incomparable
            // member, or stats that don't parse under their own type,
            // conservatively counts as possibly-present
            b.anyOf.forall(_ => anyOfSurvives(s, b)) &&
            // null form: an IS NULL predicate can only match in files
            // whose stats admit a NULL
            (!b.requireNulls || s.hasNulls)
      }
    }

  /** The IN-list survive check: does any listed value land inside the
    * file's [min, max]? One lower-bound binary search over the bound's
    * pre-sorted values per file. Degrades to `true` (never prunes)
    * when the list doesn't convert to the stat's domain or the stats
    * don't parse — the same conservative direction the scan form had.
    * An EMPTY list prunes everything (no row can match an empty IN),
    * also preserved.
    */
  private def anyOfSurvives(s: VersionLog.ColStat, b: ColumnBound)
      : Boolean = s.tpe match {
    case "long" =>
      (b.anyOfLongs, s.min.toLongOption, s.max.toLongOption) match {
        case (Some(arr), Some(mn), Some(mx)) =>
          val i = lowerBound(arr.length)(j => arr(j) >= mn)
          i < arr.length && arr(i) <= mx
        case _ => true
      }
    case "double" =>
      (b.anyOfDoubles, s.min.toDoubleOption, s.max.toDoubleOption) match {
        case (Some(arr), Some(mn), Some(mx)) =>
          val i = lowerBound(arr.length)(j => arr(j).compareTo(mn) >= 0)
          i < arr.length && arr(i).compareTo(mx) <= 0
        case _ => true
      }
    case "string" =>
      b.anyOfStrings match {
        case Some(arr) =>
          val i = lowerBound(arr.length)(j => utf8Cmp(arr(j), s.min) >= 0)
          i < arr.length && utf8Cmp(arr(i), s.max) <= 0
        case None => true
      }
    case _ => true
  }

  /** First index in [0, n) where `ge` holds (n when none) — `ge` must
    * be monotone over the sorted array it indexes.
    */
  private def lowerBound(n: Int)(ge: Int => Boolean): Int = {
    var lo = 0; var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ge(mid)) hi = mid else lo = mid + 1
    }
    lo
  }

  /** compare(stat value, bound value) under the stat's type; None =
    * incomparable.
    */
  private def cmp(tpe: String, statVal: String, bound: Any): Option[Int] =
    tpe match {
      case "long" =>
        asLong(bound).flatMap(b => statVal.toLongOption.map(_.compareTo(b)))
      case "double" =>
        asDouble(bound).flatMap(b =>
          statVal.toDoubleOption.map(_.compareTo(b)))
      case "string" => bound match {
        // UNSIGNED UTF-8 byte order, matching the ordering parquet's
        // UTF8 binary stats are minimized/maximized under — Java's
        // compareTo (UTF-16 code units) disagrees for supplementary-
        // plane text (U+10000 sorts below U+E000 there), which could
        // mis-prune
        case s: String => Some(utf8Cmp(statVal, s))
        case _ => None
      }
      case _ => None
    }

  /** Shared with [[VersionLog]]'s row-group stat folding — min/max and
    * prune comparisons must use ONE ordering or a fold could produce a
    * "min" the pruner reads as larger than the true minimum.
    */
  private[io] def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  private def asLong(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }
  private def asDouble(v: Any): Option[Double] = v match {
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case l: Long => Some(l.toDouble)
    case i: Int => Some(i.toDouble)
    case _ => None
  }
}
