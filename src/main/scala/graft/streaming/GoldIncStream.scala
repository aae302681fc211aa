package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.gold.{GoldIncremental, GoldMaintenance}
import graft.pipeline.Warehouse

/** Streaming maintenance of the five reference gold tables — the
  * serving-side composition of the intake and IVM stories: a continuous
  * feed of silver orders rows lands in the silver table through
  * `foreachBatch` (one [[graft.io.ParquetTable.appendVersion]] commit
  * per fresh-bearing batch) and [[GoldIncremental]] advances all five
  * gold tables from the resulting change feed — the SAME affected-anchor
  * fold the batch path runs, so stream and batch cannot diverge in
  * semantics, only in commit cadence.
  *
  * Replay absorption is id-keyed like [[IndexStream]]: a [[ReplayGate]]
  * Bloom filter at the silver table's root gates the anti-join probe
  * (all-fresh batches never read the id column at all; maybe-seen ids
  * probe a range+sketch-restricted pushdown scan, all executor-side —
  * O(batch + FP) rows, no driver-side id array), and the filter persists
  * BEFORE the append commits — the superset contract that makes a crash
  * in the window harmless (stranded false positives, never a
  * double-append).
  *
  * Crash healing: every trigger FIRST runs `advanceAll` — a crash
  * between `silver.appendVersion` and the advance leaves silver ahead of
  * gold, and the replayed batch then gates to ZERO fresh rows, so a
  * fresh-conditional advance would leave gold stale until the next
  * fresh-bearing batch (the PackStream.recover window). The steady-state
  * cost of the unconditional heal is pointer and record reads: each gold
  * table compares its maintenance marker to the live silver versions
  * and no-ops when they match.
  *
  * Scale: per trigger this is O(batch) intake + O(changes + affected
  * anchors) maintenance — never a full re-aggregate. A deployment
  * wanting coarser gold freshness moves `advanceAll` to its own timer
  * and lets several intake triggers accumulate; the maintenance
  * markers make that split safe (each advance folds every version
  * since the last one it applied).
  */
object GoldIncStream {

  /** The percentile gold the EXTENDED mirror maintains (delivery-time
    * distribution per order month) — named here so stream and spec
    * derive the same columns; the p-list is q116's.
    */
  val DeliveryPercentileGold = "orders_delivery_percentiles"
  val DeliveryPercentiles: Seq[(String, Int, Int)] =
    Seq(("p50", 50, 100), ("p95", 95, 100))

  /** Advance every maintained gold table to the silver tables' live
    * versions — the five reference tables always; with
    * `extendedMeasures` also the two non-additive measure kinds:
    * the HLL distinct fold ([[GoldIncremental.customerReachByCity]],
    * q111's machinery) and the signed-foldable percentile histogram
    * ([[GoldMaintenance.advancePercentile]], q116's) over the silver
    * orders commit stream. All three families share the same
    * maintenance-marker discipline, so a replayed trigger
    * no-ops with ZERO version churn on every table.
    */
  private def advanceGold(s: org.apache.spark.sql.SparkSession,
      warehouse: Warehouse, extendedMeasures: Boolean): Unit = {
    val inc = new GoldIncremental(s, warehouse)
    inc.advanceAll()
    if (extendedMeasures) {
      inc.customerReachByCity()
      GoldMaintenance.advancePercentile(s,
        warehouse.silverByName("orders"),
        warehouse.gold(DeliveryPercentileGold),
        keys = Seq("year", "month"),
        value = datediff(col("delivered_on"), col("created_on")),
        ps = DeliveryPercentiles)
    }
  }

  /** Maintain the warehouse's five gold tables from a stream of silver
    * orders rows (silver schema, `id`-keyed). The silver tables must
    * already exist — customers/addresses as dimensions, orders seeded
    * with at least its schema-bearing initial commit. With
    * `extendedMeasures`, the distinct (HLL) and percentile measure
    * kinds ride the same trigger — see [[advanceGold]].
    */
  def ordersIntakeStream(orders: DataFrame, warehouse: Warehouse,
      expectedIds: Long = 4L * 1024 * 1024,
      expectedBatch: Long = ReplayGate.DefaultProbeBatch,
      extendedMeasures: Boolean = false): StreamingQuery =
    orders.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val s = batch.sparkSession
        // self-heal the appendVersion→advance crash window BEFORE gating:
        // versions unmoved → marker compares only, no jobs
        advanceGold(s, warehouse, extendedMeasures)
        val silver = warehouse.silverByName("orders")
        val bloomPath = java.nio.file.Paths.get(silver.path,
          ReplayGate.BloomFile)
        val bloom = ReplayGate.loadOrSeed(bloomPath,
          () => Some(silver.read(s).select(col("id"))), "id", expectedIds)
        val incoming = batch.toDF().distinct() // in-batch re-sends
        val sketch = ReplayGate.probeSketch(incoming, "id", expectedBatch)
        val fresh = ReplayGate.freshRows(incoming, "id", Some(bloom),
            Some(sketch), () => silver.read(s).select(col("id")))
          .persist()
        try {
          val n = fresh.count()
          if (n > 0) {
            // filter BEFORE the silver commit — the superset contract
            ReplayGate.commitToFilter(bloomPath, bloom, fresh, "id", n,
              expectedIds, () => Some(silver.read(s).select(col("id"))))
            silver.appendVersion(fresh)
            advanceGold(s, warehouse, extendedMeasures)
          }
        } finally {
          fresh.unpersist()
          ()
        }
      }
      .start()

  /** DECOUPLED gold maintenance — the follower shape the graft-table
    * streaming source exists for: a consumer that does NOT write silver
    * (a separate job, even a separate cluster) tails the silver orders
    * table through `readStream.format("graft-table")` and advances the
    * gold IVM once per silver commit. Correctness is entirely the
    * marker-driven IVM's ([[advanceGold]] folds every silver version since
    * the last one each gold table applied; a replayed trigger no-ops
    * with zero version churn); the SOURCE supplies cadence and
    * restart-resume: offsets are silver versions, so a restarted
    * follower resumes at exactly the version it stopped at, and an
    * idle table never fires a trigger at all (getOffset is two pointer
    * reads, no data IO). The batch CONTENT is deliberately unused —
    * the advance reads the commit feeds itself — and foreachBatch
    * never runs an action on it, so no per-trigger jobs are spent on
    * the stream frame; the change-stream is the WAKE-UP SIGNAL, the
    * feeds are the data. At 100 TB this splits intake and serving:
    * writers commit silver at their own pace, any number of followers
    * maintain their gold marts independently, each with its own
    * checkpoint.
    */
  def goldFollowStream(spark: org.apache.spark.sql.SparkSession,
      warehouse: Warehouse, extendedMeasures: Boolean = false,
      checkpoint: Option[String] = None): StreamingQuery = {
    val src = spark.readStream.format("graft-table")
      .option("path", warehouse.silverByName("orders").path)
      .load()
    val w = src.writeStream.outputMode("append")
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.foreachBatch { (batch: Dataset[Row], _: Long) =>
      advanceGold(batch.sparkSession, warehouse, extendedMeasures)
    }.start()
  }

  /** A CDC-maintained silver entity: its business keys (the merge
    * identity) and the partition layout the COW write path uses when
    * the on-disk silver table actually carries it. The three reference
    * entities that drive gold tables are predefined; any other silver
    * table follows the same contract.
    */
  final case class CdcEntity(name: String, keys: Seq[String],
      partitionColumns: Seq[String])
  object CdcEntity {
    val Orders: CdcEntity =
      CdcEntity("orders", Seq("id"), Seq("year", "month"))
    val Customers: CdcEntity =
      CdcEntity("customers", Seq("id"), Seq("year", "month"))
    val Addresses: CdcEntity =
      CdcEntity("addresses", Seq("id"), Seq("city"))
    val All: Seq[CdcEntity] = Seq(Orders, Customers, Addresses)
  }

  /** The silver handle the CDC write path commits through: the
    * PARTITIONED handle when the live version actually has the
    * hive-style layout on disk (→ copy-on-write merges rewrite only
    * touched leaves), the flat handle otherwise (→ full-snapshot merge
    * commits — correct, just not COW). Layout is detected, not assumed:
    * a warehouse seeded through the unpartitioned `silverByName` handle
    * must keep working, and an empty-write flat fallback must not be
    * misread as partitioned (Catalog.registerTable's rule).
    */
  private def silverHandle(warehouse: Warehouse,
      e: CdcEntity): graft.io.ParquetTable = {
    val flat = warehouse.silverByName(e.name)
    if (e.partitionColumns.isEmpty || !flat.exists) return flat
    val hiveLayout = graft.io.FsUtil
      .listDir(java.nio.file.Paths.get(flat.currentPath))
      .exists(p => java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.contains("="))
    if (hiveLayout)
      warehouse.table(s"silver_${e.name}", e.partitionColumns)
    else flat
  }

  /** Ops this intake accepts. Anything else — 'update', 'insert',
    * 'UPSERT' from a real CDC source — is REFUSED loudly per batch
    * (this layer's discipline): silently dropping unknown ops is data
    * loss, and mapping synonyms is the upstream adapter's job because
    * only it knows whether its 'update' carries full or partial images.
    */
  private val CdcOps = Seq("upsert", "delete")

  private def requireOpDomain(b: DataFrame, entity: String): Unit = {
    val bad = b.select(col("_op")).filter(!col("_op").isin(CdcOps: _*))
      .distinct().limit(5).collect().map(r => String.valueOf(r.get(0)))
    require(bad.isEmpty,
      s"CDC batch for silver_$entity carries unsupported _op value(s) " +
        s"${bad.mkString("'", "', '", "'")} — this intake accepts " +
        s"exactly ${CdcOps.mkString("'", "' | '", "'")} (full row " +
        "images); map source-specific ops upstream")
  }

  /** Apply ONE entity's CDC batch (silver-schema row images + `_op`) as
    * a keyed merge commit; returns whether a commit happened. The write
    * is COPY-ON-WRITE when the silver table is partitioned
    * ([[graft.merge.MergeOps.applyCdcPartitioned]] — only touched
    * year/month (orders, customers) or city (addresses) leaves are
    * rewritten, everything else rides as hard links; the 100 TB merge
    * shape), full-snapshot otherwise. Either way the committed feed is
    * the EXACT delta, so the gold IVM advances O(changes).
    *
    * Replay absorption is SEMANTIC, not id-gated: re-upserting an
    * identical row image and re-deleting an absent key both produce an
    * EMPTY exact feed, and an empty feed commits NOTHING — a
    * pure-replay trigger leaves silver and every gold table at their
    * versions. Conflicting upsert images for one key within one batch
    * resolve deterministically to the greatest full-row tuple (a CDC
    * source with an ordering column should collapse to the latest
    * image upstream — arrival order inside a shuffled batch is not a
    * sequence); a delete+upsert of one key in one batch nets to the
    * upserted image (deletes apply first).
    */
  private[graft] def applyCdcBatch(s: org.apache.spark.sql.SparkSession,
      warehouse: Warehouse, e: CdcEntity, batch0: DataFrame): Boolean = {
    val b = batch0.distinct() // exact re-sends collapse
    requireOpDomain(b, e.name)
    val dataCols = b.columns.filter(_ != "_op").toIndexedSeq
    val ups0 = b.filter(col("_op") === "upsert").drop("_op")
    // deterministic single image per key (greatest full tuple wins)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(e.keys.map(col): _*)
      .orderBy(struct(dataCols.map(col): _*).desc)
    val ups = ups0
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val delKeys = b.filter(col("_op") === "delete")
      .select(e.keys.map(col): _*).distinct()
    val silver = silverHandle(warehouse, e)
    val v0 = silver.version
    // partitioned → COW touched leaves; unpartitioned → full-snapshot
    // rewrite per trigger, announced LOUDLY by applyCdcSnapshot (the
    // non-COW fallback's per-trigger cost must never be silent)
    graft.merge.MergeOps.applyCdc(s, silver, ups, Some(delKeys), e.keys,
      skipEmptyFeed = true)
    silver.version != v0
  }

  /** CDC intake for ONE entity: maintain the gold tables from a stream
    * of that entity's CHANGE events, not just inserts — rows in the
    * entity's silver schema plus a string `_op` column (`upsert` |
    * `delete`; anything else refuses loudly). Each trigger applies the
    * batch through [[applyCdcBatch]] — copy-on-write on partitioned
    * silver, exact feed either way — and the gold IVM then advances
    * O(changes) off the feed like every other write path.
    */
  def entityCdcStream(cdc: DataFrame, warehouse: Warehouse,
      entity: CdcEntity,
      extendedMeasures: Boolean = false): StreamingQuery =
    cdc.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val s = batch.sparkSession
        // self-heal the commit→advance crash window first (see
        // ordersIntakeStream): versions unmoved → marker reads only
        advanceGold(s, warehouse, extendedMeasures)
        if (applyCdcBatch(s, warehouse, entity, batch.toDF()))
          advanceGold(s, warehouse, extendedMeasures)
      }
      .start()

  /** [[entityCdcStream]] pinned to orders — the original intake shape,
    * kept as the named entry point.
    */
  def ordersCdcStream(cdc: DataFrame, warehouse: Warehouse,
      extendedMeasures: Boolean = false): StreamingQuery =
    entityCdcStream(cdc, warehouse, CdcEntity.Orders, extendedMeasures)

  /** The payload timestamp contract for [[mixedCdcStream]]: ISO-8601
    * with SIX fractional digits on both sides — Spark's DEFAULT
    * `to_json` renders milliseconds, which would silently TRUNCATE
    * micro-precision timestamps (event times differentiated at micro
    * grain) and break both replay absorption (a re-sent row would no
    * longer byte-match its first image) and stream ≡ batch parity.
    */
  val PayloadTimestampFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
  private val PayloadOptions = Map("timestampFormat" -> PayloadTimestampFormat)

  /** Producer-side rendering of a silver row image for
    * [[mixedCdcStream]]: `to_json(struct(*))` under the payload
    * timestamp contract. Use this (or emit the same format) — see
    * [[PayloadTimestampFormat]].
    */
  def cdcPayload(df: DataFrame): org.apache.spark.sql.Column =
    to_json(struct(df.columns.map(col).toIndexedSeq: _*), PayloadOptions)

  /** MIXED-entity CDC intake: one stream carrying change events for
    * several silver entities at once — the shape a real CDC bus
    * (Debezium topic fan-in, a multiplexed CDC feed) delivers. Rows are
    * `(_entity, _op, _payload)` where `_payload` is the JSON rendering
    * of the entity's silver row image (`to_json(struct(*))` on the
    * producer side); each trigger splits the batch by entity, decodes
    * payloads against the entity's COMMITTED silver schema (the
    * `_schema.json` sidecar — never inference), applies each entity's
    * slice through [[applyCdcBatch]] in [[CdcEntity.All]]-order
    * (dimensions before facts is the caller's ordering lever), then
    * advances the gold IVM once if anything committed. Unknown
    * `_entity` values refuse loudly — same discipline as unknown ops.
    */
  def mixedCdcStream(cdc: DataFrame, warehouse: Warehouse,
      entities: Seq[CdcEntity] = CdcEntity.All,
      extendedMeasures: Boolean = false): StreamingQuery =
    cdc.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val s = batch.sparkSession
        advanceGold(s, warehouse, extendedMeasures) // self-heal first
        val b = batch.toDF().persist()
        try {
          val known = entities.map(_.name)
          val badEnt = b.select(col("_entity"))
            .filter(!col("_entity").isin(known: _*))
            .distinct().limit(5).collect()
            .map(r => String.valueOf(r.get(0)))
          require(badEnt.isEmpty,
            s"mixed CDC batch carries unknown _entity value(s) " +
              s"${badEnt.mkString("'", "', '", "'")} — this intake " +
              s"maintains ${known.mkString(", ")}")
          val committed = entities.map { e =>
            val slice = b.filter(col("_entity") === e.name)
            if (slice.isEmpty) false
            else {
              val schema = silverHandle(warehouse, e).liveSchema
                .getOrElse(throw new IllegalStateException(
                  s"silver_${e.name} carries no committed schema — the " +
                    "mixed CDC intake decodes payloads against " +
                    "_schema.json, never inference; seed the silver " +
                    "table first"))
              val parsed = slice
                .select(col("_payload"), from_json(col("_payload"), schema,
                  PayloadOptions).as("__row"), col("_op"))
                .persist()
              try {
                // UNDECODABLE payloads refuse loudly (same discipline as
                // unknown _op/_entity): PERMISSIVE from_json turns a
                // malformed payload into an all-NULL struct (and a NULL
                // _payload into a NULL struct), whose all-NULL row image
                // would then MERGE under NULL keys (key equality is
                // null-safe) — silent silver corruption. The probe
                // refuses any event whose decoded BUSINESS KEYS are
                // NULL: this intake's payloads must carry them, so a
                // NULL key IS a decode failure, whatever produced it.
                val badPayload = parsed.filter(col("__row").isNull ||
                    e.keys.map(k => col(s"__row.$k").isNull)
                      .reduce(_ || _))
                  .select(col("_payload")).limit(3).collect()
                  .map(r => String.valueOf(r.get(0)).take(120))
                require(badPayload.isEmpty,
                  s"mixed CDC batch for silver_${e.name} carries " +
                    s"undecodable _payload value(s) (not the committed " +
                    s"silver schema rendered per cdcPayload): " +
                    badPayload.mkString("'", "', '", "'"))
                val decoded = parsed.select(col("__row.*"), col("_op"))
                applyCdcBatch(s, warehouse, e, decoded)
              } finally { parsed.unpersist(); () }
            }
          }
          if (committed.contains(true))
            advanceGold(s, warehouse, extendedMeasures)
        } finally { b.unpersist(); () }
      }
      .start()
}
