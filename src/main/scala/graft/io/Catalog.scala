package graft.io

import org.apache.spark.sql.SparkSession

/** S5 (SURVEY.md §2.1): the cloud-storage authentication seam. The
  * reference configures Azure ABFS SAS credentials on the Hadoop conf
  * before any table access (reference: src/ETL/CommonFunctions.py:32-35,
  * creds template .env.example:1-5). On local FS there is nothing to
  * configure, so the production impl is environment-specific and out of
  * scope — but the SEAM must exist so a real deployment plugs in without
  * touching pipeline code: every pipeline entry point invokes
  * [[StorageAuth.authenticate]] before its first read, exactly where the
  * reference notebooks call `authenticate_to_storage()`.
  */
trait StorageAuth {
  /** Configure `spark`'s Hadoop conf for the target storage. Must be
    * idempotent — pipeline entry points call it once each, like the
    * reference calls `authenticate_to_storage()` at the top of every
    * notebook.
    */
  def authenticate(spark: SparkSession): Unit
}

object StorageAuth {
  /** Local-filesystem deployment: nothing to configure. */
  object NoOp extends StorageAuth {
    override def authenticate(spark: SparkSession): Unit = ()
  }
}

/** S4 (SURVEY.md §2.1): literal catalog DDL. The reference creates its
  * database and makes it current before registering tables (reference:
  * src/ETL/Bronze-Ingestion-Orders.py:16-17):
  *
  * {{{
  * spark.sql(f"CREATE DATABASE IF NOT EXISTS {database_name}")
  * spark.catalog.setCurrentDatabase(database_name)
  * }}}
  *
  * Spark's in-memory session catalog supports both without a Hive
  * metastore, so warehouse tables are addressable as `spark.table(name)` /
  * `spark.sql("SELECT ... FROM name")` — the surface a user porting the
  * reference expects on day one.
  */
object Catalog {

  /** CREATE DATABASE IF NOT EXISTS + setCurrentDatabase, verbatim S4. */
  def ensureDatabase(spark: SparkSession, database: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$database`")
    spark.catalog.setCurrentDatabase(database)
  }

  /** Register a versioned table's LIVE version in the session catalog as an
    * external parquet table. Re-registering after a write repoints the
    * catalog entry at the new version dir (drop + create — the in-memory
    * catalog has no REPLACE for external location tables). Partitioned
    * layouts get their partitions recovered so partition pruning works
    * through the catalog path too.
    */
  def registerTable(spark: SparkSession, database: String, name: String,
      table: ParquetTable): Unit = {
    // SQL-path data skipping: catalog reads resolve to a plain external
    // parquet relation (literal S4), so file skipping rides an optimizer
    // rule that recognizes graft version-dir locations — installed here,
    // once per session, so every registered table's spark.sql()/
    // spark.table() reads prune like ParquetTable.read does
    org.apache.spark.sql.GraftSqlSkipping.install(spark)
    // escape for interpolation: a legal filesystem path may contain a
    // single quote (user dirs like o'brien) or a backslash, and identifiers
    // may carry backticks — unescaped any of these is a ParseException (or
    // a silently mangled location) at registration. Backslashes FIRST so
    // the quote escape's own backslash isn't double-escaped.
    def qid(s: String): String = "`" + s.replace("`", "``") + "`"
    val loc = table.currentPath.replace("\\", "\\\\").replace("'", "\\'")
    spark.sql(s"DROP TABLE IF EXISTS ${qid(database)}.${qid(name)}")
    // Recover partitions ONLY when the live version actually has the
    // hive-style `col=value` layout on disk. The declared partitionColumns
    // are deliberately NOT consulted: an empty partitioned write falls back
    // to a schema-only flat file (Tables.overwrite), which CREATE TABLE
    // registers as unpartitioned — recoverPartitions would then throw.
    val partitioned = FsUtil
      .listDir(java.nio.file.Paths.get(table.currentPath))
      .exists(p => java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.contains("="))
    // Declare the COMMITTED schema when the table carries one: footer
    // inference over a schema-evolved version dir (mixed file schemas)
    // could sample a pre-evolution file and silently drop the appended
    // column from every spark.table() read — the exact failure the
    // _schema.json sidecar exists to prevent; the catalog seam must not
    // reintroduce it. CAVEAT: an explicit schema needs an explicit
    // PARTITIONED BY for hive-layout locations (otherwise the entry
    // registers unpartitioned and recoverPartitions throws), so a
    // partitioned layout whose ParquetTable handle does not DECLARE its
    // partition columns keeps the legacy inference path — inference
    // derives both schema and partitioning from the layout.
    val schemaDdl = table.liveSchema
      .filter(_ => !partitioned || table.partitionColumns.nonEmpty)
      .map(st => s" (${st.toDDL})").getOrElse("")
    val partClause =
      if (partitioned && schemaDdl.nonEmpty)
        s" PARTITIONED BY (${table.partitionColumns.map(qid).mkString(", ")})"
      else ""
    spark.sql(s"CREATE TABLE ${qid(database)}.${qid(name)}$schemaDdl " +
      s"USING parquet$partClause LOCATION '$loc'")
    if (partitioned)
      // Explicit partition registration from the commit log's file
      // census, not recoverPartitions: recover re-LISTS the whole live
      // version tree on EVERY registration, and the SQL write surface
      // re-registers after every commit — a full-table listing per
      // statement at 100 TB, re-deriving what the commit protocol
      // already recorded. The log's resolved file set names every live
      // leaf dir; registering those partitions explicitly produces the
      // identical catalog state (one partition per leaf, table storage,
      // leaf location) for O(cached sidecar reads). Falls back to the
      // listing whenever any live file does not parse as the handle's
      // hive layout — an UNREGISTERED partition's rows are invisible to
      // SQL reads, so partial registration is never an option
      // (CatalogSqlSpec pins explicit ≡ recovered).
      logPartitionSpecs(table) match {
        case Some(specs) =>
          org.apache.spark.sql.GraftCatalogPartitions.create(spark,
            database, name, specs)
        case None =>
          JobLabel(spark, s"catalog:recoverPartitions $database.$name") {
            spark.catalog.recoverPartitions(s"`$database`.`$name`")
          }
      }
    // Commit-metadata statistics → Catalyst: a partitioned catalog table
    // resolves through a lazy CatalogFileIndex and would otherwise report
    // defaultSizeInBytes (Long.MaxValue) as its plan size — garbage into
    // every pre-AQE join/broadcast decision. The live version's exact
    // data footprint is the sum of its logged file sizes.
    org.apache.spark.sql.GraftCatalogStats.set(spark, database, name,
      liveDataBytes(table))
    // make the registered name a SQL MERGE INTO target (sessions built
    // with GraftExtensions — the bridge rewrites parsed MergeIntoTable
    // plans whose target is in this registry)
    org.apache.spark.sql.GraftMergeInto.register(spark, database, name, table)
  }

  /** The live version's leaf-partition specs + locations, resolved from
    * the commit log ([[VersionLog]] via the table's cached resolution) —
    * zero directory listings; a log that cannot resolve the live version
    * throws. None (→ recoverPartitions fallback) when the handle declares
    * no partition columns, or ANY live data file's rel path does not
    * parse as the declared hive dir chain (flat-fallback files, foreign
    * layouts): the explicit form must cover every live leaf or rows go
    * invisible to SQL reads.
    */
  private def logPartitionSpecs(table: ParquetTable): Option[
      Seq[(Map[String, String], java.net.URI)]] = {
    val pCols = table.partitionColumns
    if (pCols.isEmpty) return None
    val files = table.liveFiles
    val depth = pCols.size
    val specs = scala.collection.mutable.LinkedHashMap[
      Vector[String], Map[String, String]]()
    files.foreach { f =>
      // split on '/' only: the census writes rel paths with '/' on
      // every platform Spark's hive layout uses
      val segs = f.rel.split('/')
      if (segs.length <= depth) return None // flat/short: not hive
      val kvs = (0 until depth).map { i =>
        val seg = segs(i)
        val eq = seg.indexOf('=')
        if (eq <= 0) return None
        val (k, v) = (seg.substring(0, eq), seg.substring(eq + 1))
        if (k != pCols(i)) return None
        k -> org.apache.spark.sql.GraftCatalogPartitions
          .unescapePathName(v)
      }
      val dirKey = segs.take(depth).toVector
      if (!specs.contains(dirKey)) specs(dirKey) = kvs.toMap
    }
    if (specs.isEmpty) None
    else Some(specs.toSeq.map { case (dirSegs, spec) =>
      // nio toUri appends a trailing '/' to directory URIs; the scan's
      // file→partition attribution compares paths EXACTLY, so the
      // slash makes every partition's files invisible — strip it
      val u = java.nio.file.Paths
        .get(table.currentPath, dirSegs: _*).toUri
      spec -> java.net.URI.create(u.toString.stripSuffix("/"))
    })
  }

  /** Exact data-file bytes of the live version (the number fed to
    * [[org.apache.spark.sql.GraftCatalogStats]]): the sizes the commit
    * census recorded — cached sidecar reads, zero filesystem calls
    * (hard-linked files share the inode, so a linked entry's size is
    * its original census's).
    */
  private def liveDataBytes(table: ParquetTable): Long =
    table.liveFiles.map(_.size).sum

  /** `VERSION AS OF` for the SQL surface: register a session temp view
    * of a RETAINED version, so `spark.sql("SELECT … FROM <view>")`
    * time-travels without the DataFrame API. A temp view (not a catalog
    * table): the snapshot is an immutable, session-scoped address — it
    * should never survive the session or shadow the live registration.
    * Refusals (vacuumed / missing version) are [[ParquetTable
    * .readVersion]]'s, loud at registration time.
    */
  def registerVersionView(spark: SparkSession, viewName: String,
      table: ParquetTable, version: Int): Unit =
    table.readVersion(spark, version).createOrReplaceTempView(viewName)

  /** `TIMESTAMP AS OF` for the SQL surface: [[registerVersionView]] of
    * the version the timestamp resolves to ([[ParquetTable
    * .versionAtTimestamp]] — latest stamped commit ≤ ts, with its loud
    * birth / retained-horizon / ambiguity refusals).
    */
  def registerAsOfView(spark: SparkSession, viewName: String,
      table: ParquetTable, tsMillis: Long): Unit =
    registerVersionView(spark, viewName, table,
      table.versionAtTimestamp(tsMillis))
}

/** Job-description labels for the storage layer's internal Spark jobs
  * (guide discipline: label your jobs) — a multi-commit query launches
  * dozens of jobs and an unlabeled profile cannot attribute them. The
  * label is thread-local and restored after the block, so user-set
  * descriptions on the outer query survive.
  */
private[graft] object JobLabel {
  def apply[A](spark: SparkSession, label: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try f finally sc.setJobDescription(prev)
  }
}

/** Shared java.nio directory listing with guaranteed stream close — leaked
  * directory fds from repeated listings starve the driver of handles.
  * Returns Nil for a missing/non-directory path, so callers treat "nothing
  * there yet" as an empty listing rather than a crash.
  */
private[graft] object FsUtil {
  def listDir(path: java.nio.file.Path): List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.isDirectory(path)) Nil
    else {
      val listing = java.nio.file.Files.list(path)
      try listing.iterator().asScala.toList
      finally listing.close()
    }
  }

  /** Depth-first recursive delete with guaranteed stream close; a missing
    * path is a no-op (delete-if-exists semantics for scratch cleanup).
    */
  def deleteRecursively(path: java.nio.file.Path): Unit = {
    if (!java.nio.file.Files.exists(path)) return
    val walk = java.nio.file.Files.walk(path)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => java.nio.file.Files.delete(f))
    finally walk.close()
  }
}
