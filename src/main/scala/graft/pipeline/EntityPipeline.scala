package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.{JobLabel, ParquetTable}
import graft.merge.MergeOps
import graft.validate.Validators

/** Column-validation rules applied in the silver/DLQ stages
  * (reference Silver-Validation-Customers.py:71-74 et al.).
  */
sealed trait ValidationRule { def column: String }
final case class NumericRule(column: String) extends ValidationRule
final case class TimestampRule(column: String) extends ValidationRule
final case class AcceptedValuesRule(column: String, values: Seq[String]) extends ValidationRule
final case class CompareColumnRule(column: String, comparisonColumn: String) extends ValidationRule

/** FK constraint: `childColumn` must exist in silver_<parentEntity>.<parentColumn>
  * (reference Silver-Validation-Orders.py:88-92).
  */
final case class FkCheck(childColumn: String, parentEntity: String, parentColumn: String)

/** One medallion entity — the parameterization that collapses the
  * reference's 15 near-identical notebooks (3 stage shapes × 5 entities;
  * its own readme wishes for this refactor, reference readme.md:101-103).
  *
  * @param renames           bronze camelCase → silver snake_case (P6)
  * @param derivePartitions  adds partition cols (year/month/…) post-scan (E1 step 3)
  * @param partitionColumns  bronze/DLQ partition layout (S2)
  * @param idColumns         business key: dedup + silver merge key (S7, V5)
  * @param preValidate       derives comparison columns before validation
  *                          (clean_state etc., Silver-Validation-Addresses.py:66-70)
  * @param silverPartitionColumns silver partition layout when it differs from
  *                          the bronze one (addresses: city vs partition_city)
  * @param validations       silver-stage column rules (V2)
  * @param fkChecks          relationship rules (V3)
  * @param silverColumns     projection promoted to silver (V7)
  * @param silverCasts       declared silver types (the reference's silver
  *                          StructType, e.g. Silver-Validation-Orders.py:24-34 —
  *                          Delta coerces on insert; we cast at promotion)
  * @param uncleanSnapshot   columns snapshotted as unclean_* into DLQ (V7)
  * @param repair            DLQ cleansing transform (V10/V11); None → the
  *                          revive-by-ingestion shape (V12, Silver-DLQ-Orders.py:36)
  * @param dlqValidations    re-validation rules after repair (DLQ stage)
  * @param dlqUpdateKeys     match keys for the DLQ update-only merge (S8)
  */
final case class EntityConfig(
    name: String,
    renames: Seq[(String, String)] = Nil,
    derivePartitions: DataFrame => DataFrame = identity,
    partitionColumns: Seq[String] = Nil,
    idColumns: Seq[String],
    preValidate: DataFrame => DataFrame = identity,
    silverPartitionColumns: Option[Seq[String]] = None,
    validations: Seq[ValidationRule] = Nil,
    fkChecks: Seq[FkCheck] = Nil,
    silverColumns: Seq[String],
    silverCasts: Seq[(String, String)] = Nil,
    uncleanSnapshot: Seq[String] = Nil,
    repair: Option[DataFrame => DataFrame] = None,
    dlqValidations: Seq[ValidationRule] = Nil,
    dlqUpdateKeys: Seq[String] = Nil)

/** Physical home of the medallion tables: one versioned parquet table per
  * (layer, entity). `auth` is the S5 storage-authentication seam — pipeline
  * entry points invoke it before their first read, mirroring the reference
  * notebooks' `authenticate_to_storage()` preamble
  * (reference: src/ETL/CommonFunctions.py:32-35).
  */
final class Warehouse(val root: String,
    val auth: graft.io.StorageAuth = graft.io.StorageAuth.NoOp) {
  def table(name: String, partitionColumns: Seq[String] = Nil): ParquetTable =
    new ParquetTable(s"$root/$name", partitionColumns)

  /** S4: make every existing warehouse table addressable through the
    * session catalog — `CREATE DATABASE IF NOT EXISTS` +
    * `setCurrentDatabase` + one external-table registration per live
    * version dir (reference: src/ETL/Bronze-Ingestion-Orders.py:16-17).
    * Call again after writes to repoint registrations at new versions.
    */
  def register(spark: org.apache.spark.sql.SparkSession,
      database: String = "graft_warehouse"): Unit = {
    auth.authenticate(spark)
    graft.io.Catalog.ensureDatabase(spark, database)
    // a fresh warehouse (no writes yet → no root dir) registers zero
    // tables — FsUtil.listDir returns Nil rather than throwing
    val names = graft.io.FsUtil.listDir(java.nio.file.Paths.get(root))
      .filter(p => java.nio.file.Files.exists(p.resolve("_current")))
      .map(_.getFileName.toString)
    names.sorted.foreach { n =>
      graft.io.Catalog.registerTable(spark, database, n, table(n))
    }
  }

  def bronze(cfg: EntityConfig): ParquetTable =
    table(s"bronze_${cfg.name}", cfg.partitionColumns)
  def silver(cfg: EntityConfig): ParquetTable =
    table(s"silver_${cfg.name}", cfg.silverPartitionColumns.getOrElse(
      cfg.partitionColumns.filter(cfg.silverColumns.contains)))
  def silverByName(entity: String): ParquetTable = table(s"silver_$entity")
  def dlq(cfg: EntityConfig): ParquetTable = table(s"dlq_${cfg.name}")
  def gold(name: String): ParquetTable = table(s"gold_$name")
}

/** E1/E2 (SURVEY.md §3): Bronze ingestion → Silver validation → DLQ
  * cleansing for one entity.
  *
  * `clock` is injected so tests can pin ingestion timestamps
  * (`current_timestamp()` in production — reference
  * Bronze-Ingestion-Orders.py:36); nondeterministic stamps are the
  * reference's main test-hostile quirk (SURVEY.md §7.6).
  *
  * Scale notes vs the reference:
  *   - the validated DataFrame is cached before the valid/invalid split —
  *     the reference recomputes the whole validation plan ≥5× (SURVEY.md §4);
  *   - ingestion-membership and FK checks are joins, not driver collects;
  *   - merges are join-based and shuffle on the merge keys only.
  */
final class EntityPipeline(spark: SparkSession, warehouse: Warehouse,
    cfg: EntityConfig, clock: () => Column = () => current_timestamp()) {

  // S5: authenticate before any table access — the reference notebooks call
  // authenticate_to_storage() in their preamble (CommonFunctions.py:32-35)
  warehouse.auth.authenticate(spark)

  import Validators.{InvalidColsCol, InvalidRelCol, StatusCol}

  private def applyRule(df: DataFrame, rule: ValidationRule): DataFrame = rule match {
    case NumericRule(c) => Validators.validateColumn(df, c, "numeric")
    case TimestampRule(c) => Validators.validateColumn(df, c, "timestamp")
    case AcceptedValuesRule(c, vs) =>
      Validators.validateColumn(df, c, "string", acceptedValues = vs)
    case CompareColumnRule(c, cmp) =>
      Validators.validateColumn(df, c, "string", comparisonColumn = Some(cmp))
  }

  /** E1 (reference Bronze-Ingestion-Orders.py:26-58): stamp a per-duplicate
    * window_id (W2 — partition == full row makes the orderBy deterministic),
    * derive partition columns, stamp ingestion time, then idempotent
    * insert-only merge on every non-ingestion-time column.
    */
  def ingestBronze(source: DataFrame): ParquetTable =
    JobLabel(spark, s"graft:bronze ${cfg.name}") {
      val srcCols = source.columns.toIndexedSeq.map(col)
      val w = Window.partitionBy(srcCols: _*).orderBy(srcCols: _*)
      val staged = cfg.derivePartitions(
        source.withColumn("window_id", row_number().over(w)))
        .withColumn("bronze_ingestion_time", clock())
      warehouse.bronze(cfg).writeMerged(spark, staged)(
        MergeOps.insertIfAbsent(_, _, MergeOps.mergeKeyColumns(staged.columns.toSeq)))
    }

  /** E2 (reference Silver-Validation-Orders.py:47-155): rename, seed
    * diagnostics, ingestion-status, dedup, column + FK validation, split
    * valid→silver / invalid→DLQ with reconciliation.
    */
  def validateSilver(): Unit = JobLabel(spark, s"graft:silver ${cfg.name}") {
    val bronze = cfg.preValidate(
      cfg.renames.foldLeft(warehouse.bronze(cfg).read(spark)) {
        case (d, (from, to)) => d.withColumnRenamed(from, to)
      })
    val silverT = warehouse.silver(cfg)
    val ingestedSilver =
      if (silverT.exists) silverT.read(spark) else emptySilver(bronze)

    var df = Validators.initDiagnostics(bronze, withRelationship = cfg.fkChecks.nonEmpty)
    df = Validators.checkIngestionStatus(df, ingestedSilver, cfg.idColumns)
    df = Validators.identifyDuplicates(df, cfg.idColumns, "bronze_ingestion_time",
      tieBreakers = Seq("window_id"))
    df = cfg.validations.foldLeft(df)(applyRule)
    df = cfg.fkChecks.foldLeft(df) { (d, fk) =>
      Validators.validateRelationship(d, fk.childColumn,
        warehouse.silverByName(fk.parentEntity).read(spark), fk.parentColumn)
    }
    df = Validators.finalizeValid(df).cache()
    try {
      val silverRows = promoteToSilver(df.filter(col(StatusCol) === "valid"))
      var dlqRows = df.filter(col(StatusCol) === "invalid")
        .withColumn("dlq_ingestion_time", clock())
      dlqRows = cfg.uncleanSnapshot.foldLeft(dlqRows)((d, c) =>
        d.withColumn(s"unclean_$c", col(c)))
      if (cfg.fkChecks.nonEmpty)
        dlqRows = dlqRows.withColumn(InvalidRelCol,
          col(InvalidRelCol).cast("array<string>"))

      EntityPipeline.reconcileSplit(cfg.name, df)

      silverT.writeMerged(spark, silverRows)(
        MergeOps.insertIfAbsent(_, _, cfg.idColumns))

      // DLQ insert keyed on the STABLE row identity (dlqUpdateKeys: business
      // key + window_id + unclean snapshots) rather than the full row — the
      // cleansing stage mutates stored payload columns, so a full-row key
      // would re-insert a copy of every repaired row on each re-run
      // (unbounded DLQ growth; the reference has this leak).
      val dlqInsertKeys =
        if (cfg.dlqUpdateKeys.nonEmpty) cfg.dlqUpdateKeys
        else MergeOps.mergeKeyColumns(dlqRows.columns.toSeq)
      warehouse.dlq(cfg).writeMerged(spark, dlqRows)(
        MergeOps.insertIfAbsent(_, _, dlqInsertKeys))
    } finally df.unpersist()
  }

  /** E2' DLQ cleansing (reference Silver-DLQ-Customers.py /
    * Silver-DLQ-Orders.py): refresh ingestion status; either repair +
    * re-validate + promote (customers/addresses shape) or revive rows whose
    * key has meanwhile been ingested (orders/items/order_details shape).
    */
  def cleanseDlq(): Unit = JobLabel(spark, s"graft:dlq ${cfg.name}") {
    val dlqT = warehouse.dlq(cfg)
    val silverT = warehouse.silver(cfg)
    var dlq = dlqT.read(spark)

    cfg.repair match {
      case Some(repairFn) =>
        dlq = dlq.withColumn(StatusCol, lit(""))
          .withColumn(InvalidColsCol, typedLit(Seq.empty[String]))
          .withColumn("silver_ingestion_status", lit(""))
        dlq = Validators.checkIngestionStatus(dlq, silverT.read(spark), cfg.idColumns)
        // V9: duplicates stay invalid, diag wrap quirk included
        val isDup = col("is_duplicate")
        dlq = dlq.withColumn(StatusCol,
            when(isDup, lit("invalid")).otherwise(col(StatusCol)))
          .withColumn(InvalidColsCol,
            when(isDup, array(concat_ws(", ",
              lit(cfg.idColumns.mkString(", ")), col(InvalidColsCol))))
              .otherwise(col(InvalidColsCol)))
        dlq = repairFn(dlq)
        dlq = cfg.dlqValidations.foldLeft(dlq)(applyRule)
        dlq = Validators.finalizeValid(dlq).cache()
        try {
          val promoted = promoteToSilver(dlq.filter(col(StatusCol) === "valid"))
          // promotion keyed on the business id like validateSilver's silver
          // merge — the reference keys this merge on the full row
          // (Silver-DLQ-Customers.py:76), which could seat a second copy of
          // an id already in silver; keying on idColumns keeps silver's
          // one-row-per-key invariant under every input. The promoted batch
          // itself can also carry two valid rows for one key (each DLQ
          // batch's duplicate flags only saw its own rows), so keep ONE per
          // key deterministically: smallest non-key tuple wins.
          val orderCols = cfg.silverColumns.filterNot(cfg.idColumns.contains)
            .map(col)
          val onePerKey = Window.partitionBy(cfg.idColumns.map(col): _*)
            .orderBy((if (orderCols.isEmpty) Seq(lit(1)) else orderCols): _*)
          val dedupedPromo = promoted
            .withColumn("__rk", row_number().over(onePerKey))
            .filter(col("__rk") === 1).drop("__rk")
          silverT.writeMerged(spark, dedupedPromo)(
            MergeOps.insertIfAbsent(_, _, cfg.idColumns))
          val refreshed = Validators.checkIngestionStatus(
            dlq.drop("silver_ingestion_status"), silverT.read(spark), cfg.idColumns)
          updateDlq(dlqT, refreshed)
        } finally dlq.unpersist()

      case None =>
        // V12: no repair — rows that were duplicates of since-ingested keys
        // become valid once their key is present in silver.
        dlq = Validators.checkIngestionStatus(dlq, silverT.read(spark), cfg.idColumns)
        dlq = dlq.withColumn(StatusCol,
          when(!col("is_duplicate") && col("silver_ingestion_status") === "ingested",
            lit("valid")).otherwise(col(StatusCol)))
        updateDlq(dlqT, dlq)
    }

    val countBronze = warehouse.bronze(cfg).read(spark).count()
    val countSilver = silverT.read(spark).count()
    val countInvalidDlq = dlqT.read(spark)
      .filter(col(StatusCol) === "invalid").count()
    EntityPipeline.reconcile(cfg.name, "bronze", countBronze,
      "silver+invalid_dlq", countSilver + countInvalidDlq)
  }

  /** S8: update-only merge of the refreshed DLQ rows back into the DLQ
    * table, matched on the configured keys (reference
    * Silver-DLQ-Customers.py:92-101).
    */
  private def updateDlq(dlqT: ParquetTable, refreshed: DataFrame): Unit = {
    val target = dlqT.read(spark)
    val updates = refreshed.select(target.columns.toIndexedSeq.map(col): _*)
    val setCols = target.columns.toSeq.filterNot(cfg.dlqUpdateKeys.contains)
    dlqT.overwrite(MergeOps.updateMatched(target, updates,
      cfg.dlqUpdateKeys, setCols))
  }

  /** V7 + declared-schema coercion: project the silver columns, cast to the
    * declared silver types, stamp ingestion time.
    *
    * Integral targets fall back through a double cast: validation accepts
    * decimal strings ("9.99") because the reference's legacy-mode cast
    * parses them (Validators.scala numeric probe), but an ANSI
    * `try_cast('9.99' AS BIGINT)` is NULL — which would seat a NULL where
    * the reference writes the truncated integer, corrupting keyed merges
    * downstream. The direct cast wins when it parses (exact long-range
    * integers keep full precision); only otherwise does the value take the
    * truncating double route the reference's cast implies.
    */
  private def promoteToSilver(validRows: DataFrame): DataFrame = {
    val casts = cfg.silverCasts.toMap
    val integral =
      Set("byte", "tinyint", "short", "smallint", "int", "integer",
        "bigint", "long")
    validRows.select(cfg.silverColumns.toIndexedSeq.map { c =>
      casts.get(c).fold(col(c)) { t =>
        if (integral.contains(t.toLowerCase))
          coalesce(col(c).try_cast(t),
            col(c).try_cast("double").try_cast(t)).as(c)
        else col(c).try_cast(t).as(c)
      }
    }: _*).withColumn("silver_ingestion_time", clock())
  }

  private def emptySilver(renamedBronze: DataFrame): DataFrame =
    promoteToSilver(renamedBronze).limit(0)
}

object EntityPipeline {
  import Validators.StatusCol

  /** V8 at validation: every row of the validated frame goes to silver
    * (`valid`) or the DLQ (`invalid`). One aggregate counts all three
    * sides in a single pass over the cached frame; a row with any other
    * status is counted on neither side and trips [[reconcile]].
    */
  private[graft] def reconcileSplit(entity: String,
      validated: DataFrame): Unit = {
    val r = validated.agg(count(lit(1)),
      count_if(col(StatusCol) === "valid"),
      count_if(col(StatusCol) === "invalid")).head()
    reconcile(entity, "bronze", r.getLong(0), "silver+dlq",
      r.getLong(1) + r.getLong(2))
  }

  /** V8 (reference Silver-Validation-Customers.py:97-98): count
    * reconciliation invariant.
    */
  private def reconcile(entity: String, leftName: String, left: Long,
      rightName: String, right: Long): Unit =
    require(left == right,
      s"reconciliation failed for $entity: $leftName=$left but $rightName=$right")
}
