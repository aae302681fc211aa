package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gold.{Dashboard, GoldBuilds, GoldIncremental}
import graft.pipeline.{EntityPipeline, IndependentSteps, SeedStore, Warehouse}

/** E1→E2→E2'→E3 end-to-end: dirty sources through Bronze → Silver/DLQ →
  * DLQ cleansing → Gold → dashboard, with the reference's recovery and
  * reconciliation semantics (FIXTURES.md §A6 fixture shapes).
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val clock = () => to_timestamp(lit("2024-01-01 00:00:00"))

  private def sources: Map[String, DataFrame] = Map(
    "customers" -> Seq(
      (1, "individual", "regular", "2023-02-01 10:00:00"),
      (2, "affiliate", "VIP", "2023-02-08 11:00:00"),
      (3, "Individual!", "Regular", "2023-02-15 12:00:00"), // dirty → recoverable
      (4, "individual", "vip", "2023-03-01 09:00:00"),      // vip → VIP recoverable
      (5, "junk", "regular", "not-a-date"),                 // unrecoverable
      (6, "individual", "regular", "2023-03-05 08:00:00"),  // dup (×2) → invalid
      (6, "individual", "regular", "2023-03-05 08:00:00"))
      .toDF("id", "type", "status", "CreatedOn"),
    "addresses" -> Seq(
      ("2023-01-05 09:00:00", "Phoenix", "Arizona", "Us", 10, "123 Main St"),
      ("2023-01-06 09:00:00", "phoenix!!", "Arizona", "Us", 11, "456 Oak Ave"), // dirty city
      ("2023-01-07 09:00:00", "Tucson", "Arizona", "US", 12, "789 Pine Rd"),    // country US
      ("2023-01-08 09:00:00", "Mesa", "Arizona", "Us", 13, "1 Elm St"))
      .toDF("createdOn", "city", "state", "country", "id", "addressline"),
    "items" -> Seq(
      ("C1", "Widget", 1000, "9.99"),   // decimal string price is valid (legacy cast)
      ("C2", "Gadget", 1001, "free"))   // unrecoverable
      .toDF("Codes", "Descriptions", "id", "price"),
    "orders" -> Seq(
      (1, "2023-02-02 10:00:00", 10, "2023-02-05", "2023-02-06", 100),
      (2, "2023-02-09 10:00:00", 11, "2023-02-12", "2023-02-20", 101), // addr recovered
      (99, "2023-02-10 10:00:00", 10, "2023-02-12", "2023-02-13", 102), // FK miss
      (3, "2023-03-02 10:00:00", 12, "2023-03-05", "2023-03-08", 103), // both recovered
      (4, "bad-date", 13, "2023-03-06", "2023-03-07", 104))            // bad timestamp
      .toDF("customerId", "createdOn", "addressId", "deliveryDate", "deliveredOn", "id"),
    "order_details" -> Seq(
      (100, 1000, 2), (100, 1000, 2), // exact dup → both invalid
      (101, 1000, 1),                 // valid
      (103, 9999, 5))                 // FK miss on item
      .toDF("OrderId", "ItemId", "Quantity"))

  // batch 2: the source has grown (the reference re-reads the whole source
  // dir each run) — new valid customer + new order for them; later clock
  private val clock2 = () => to_timestamp(lit("2024-02-01 00:00:00"))
  private def grown: Map[String, DataFrame] = sources
    .updated("customers", sources("customers").unionByName(
      Seq((7, "affiliate", "regular", "2023-04-01 10:00:00"))
        .toDF("id", "type", "status", "CreatedOn")))
    .updated("orders", sources("orders").unionByName(
      Seq((7, "2023-04-02 10:00:00", 13, "2023-04-05", "2023-04-06", 105))
        .toDF("customerId", "createdOn", "addressId", "deliveryDate", "deliveredOn", "id")))

  private def silverCount(w: Warehouse, e: String): Long =
    w.silverByName(e).read(spark).count()
  private def invalidDlqCount(w: Warehouse, e: String): Long =
    w.table(s"dlq_$e").read(spark)
      .filter(col("validation_status") === "invalid").count()

  test("medallion run: validation, DLQ recovery, reconciliation, gold, dashboard") {
    val w = new Warehouse(Files.createTempDirectory("graft_wh").toString)
    SeedStore.runAll(spark, w, sources, clock)

    // silver landed the valid + recovered rows
    assert(silverCount(w, "customers") == 4)
    assert(silverCount(w, "addresses") == 4)
    assert(silverCount(w, "items") == 1)
    assert(silverCount(w, "orders") == 3)
    assert(silverCount(w, "order_details") == 1)

    // still-invalid DLQ remainders
    assert(invalidDlqCount(w, "customers") == 3) // id5 + 2× dup id6
    assert(invalidDlqCount(w, "addresses") == 0) // all recovered
    assert(invalidDlqCount(w, "items") == 1)
    assert(invalidDlqCount(w, "orders") == 2)    // FK miss + bad date
    assert(invalidDlqCount(w, "order_details") == 3)

    // DLQ repair normalized the dirty values before promotion (V10)
    val sc = w.silverByName("customers").read(spark)
    TestSpark.assertSameRows(sc.select("id", "type", "status"), Seq(
      Seq(1L, "individual", "regular"),
      Seq(2L, "affiliate", "VIP"),
      Seq(3L, "individual", "regular"),
      Seq(4L, "individual", "VIP")))
    // declared silver schema applied (bigint id, timestamp created_on)
    assert(sc.schema("id").dataType.typeName == "long")
    assert(sc.schema("created_on").dataType.typeName == "timestamp")
    // address city repaired into the silver partition column
    val sa = w.silverByName("addresses").read(spark)
    TestSpark.assertSameRows(sa.select("id", "city", "country"), Seq(
      Seq(10L, "Phoenix", "Us"), Seq(11L, "Phoenix", "Us"),
      Seq(12L, "Tucson", "Us"), Seq(13L, "Mesa", "Us")))

    // gold + dashboard (E3)
    new GoldBuilds(spark, w).buildAll()
    val dash = new Dashboard(spark, w)

    TestSpark.assertSameRows(
      w.gold("customer_breakdown").read(spark), Seq(
        Seq("individual", "regular", 2L),
        Seq("affiliate", "VIP", 1L),
        Seq("individual", "VIP", 1L)))

    assert(dash.totalCustomers.head.getLong(0) == 4L)

    TestSpark.assertSameRows(
      dash.topVipCities.select("city", "customer_count"),
      Seq(Seq("Phoenix", 1L), Seq(null, 1L)))

    TestSpark.assertSameRows(
      w.gold("orders_by_city_year_month").read(spark)
        .select("city", "year", "month", "order_count", "avg_delivery_time"),
      Seq(
        Seq("Phoenix", 2023, 2, 2L, 7.5),
        Seq("Tucson", 2023, 3, 1L, 6.0)))

    TestSpark.assertSameRows(
      dash.lateOrderShare(7).select("order_type", "total_orders", "late_orders"),
      Seq(Seq("affiliate", 1L, 1L)))

    // D3: share within type — two individual groups of 2 and 1 → 66.67/33.33
    TestSpark.assertSameRows(
      dash.customerBreakdownShare
        .select("type", "status", "relative_frequency_by_type_status"),
      Seq(
        Seq("affiliate", "VIP", 100.0),
        Seq("individual", "regular", 66.67),
        Seq("individual", "VIP", 33.33)))

    // D4/D5: orders in the ISO week of 2023-02-02 (week 5)
    assert(dash.ordersInWeek(2023, 5).count() == 1)
    assert(dash.lowVolumeAffiliates(2023, 5).count() == 0) // cust1 is individual

    // D6: Phoenix profile — 2 orders in its single month, weighted delivery 7.5
    val phoenix = dash.cityDeliveryProfile("Phoenix").head
    assert(phoenix.getDouble(0) == 2.0)
    assert(phoenix.getDouble(1) == 7.5)

    // D7: per-city averages (ordered by city)
    TestSpark.assertSameRows(dash.cityAverages(),
      Seq(Seq("Phoenix", 2.0, 7.5), Seq("Tucson", 1.0, 6.0)))
    assert(dash.cityAverages(byYear = true).columns.contains("year"))

    // idempotent re-run: bronze/silver stable, reconciliations still pass
    SeedStore.runAll(spark, w, sources, clock)
    new GoldBuilds(spark, w).buildAll()
    assert(silverCount(w, "customers") == 4)
    assert(silverCount(w, "orders") == 3)
    assert(invalidDlqCount(w, "orders") == 2)
    assert(w.table("bronze_customers").read(spark).count() == 7)
    // the DLQ must not grow on re-runs even though cleansing mutated its
    // payload columns (insert keyed on the stable unclean identity)
    assert(w.table("dlq_customers").read(spark).count() == 5)
    assert(dash.totalCustomers.head.getLong(0) == 4L)

    SeedStore.runAll(spark, w, grown, clock2)
    new GoldBuilds(spark, w).buildAll()

    assert(w.table("bronze_customers").read(spark).count() == 8)
    assert(silverCount(w, "customers") == 5)   // id 7 landed
    assert(silverCount(w, "orders") == 4)      // order 105 landed
    assert(invalidDlqCount(w, "orders") == 2)  // old failures unchanged
    assert(dash.totalCustomers.head.getLong(0) == 5L)
    // gold upsert refreshed the existing grains and added the new ones
    TestSpark.assertSameRows(
      w.gold("customer_breakdown").read(spark), Seq(
        Seq("individual", "regular", 2L),
        Seq("affiliate", "regular", 1L),
        Seq("affiliate", "VIP", 1L),
        Seq("individual", "VIP", 1L)))

    // S4: literal catalog DDL — after register(), silver/gold tables are
    // addressable via spark.table()/SQL in the current database, matching
    // the reference's CREATE DATABASE + setCurrentDatabase + per-table
    // registration (Bronze-Ingestion-Orders.py:16-17)
    w.register(spark, "graft_wh_spec")
    assert(spark.catalog.currentDatabase == "graft_wh_spec")
    assert(spark.table("silver_customers").count() ==
      silverCount(w, "customers"))
    assert(spark.sql("SELECT count(*) FROM gold_customer_breakdown")
      .head.getLong(0) == 4L)
    // partitioned bronze registrations keep their partition columns
    assert(spark.table("bronze_customers").columns.contains("year"))
    assert(spark.table("bronze_customers").count() == 8L)
    // re-register after another write repoints at the new live version
    SeedStore.runAll(spark, w, grown, clock2)
    w.register(spark, "graft_wh_spec")
    assert(spark.table("silver_customers").count() == 5L)
  }

  test("register on a fresh warehouse and on empty partitioned tables is safe") {
    // fresh warehouse: root dir doesn't exist yet → create db, zero tables
    val fresh = new Warehouse(
      Files.createTempDirectory("graft_wh_fresh").toString + "/nonexistent")
    fresh.register(spark, "graft_wh_fresh_db")
    // listTables includes session-global TEMP views from other suites —
    // only permanent tables count
    assert(spark.catalog.listTables("graft_wh_fresh_db")
      .collect().forall(_.isTemporary))
    // empty partitioned table: schema-only fallback file registers as an
    // unpartitioned location — recoverPartitions must not be attempted
    val w = new Warehouse(Files.createTempDirectory("graft_wh_empty").toString)
    val t = w.table("bronze_empty", partitionColumns = Seq("year"))
    t.overwrite(Seq((1, 2024)).toDF("id", "year").filter("id < 0"))
    graft.io.Catalog.registerTable(spark, "graft_wh_fresh_db", "bronze_empty", t)
    assert(spark.table("graft_wh_fresh_db.bronze_empty").count() == 0)
  }

  test("registerTable escapes quotes in the LOCATION path") {
    // a single quote is a LEGAL filename char (user dirs like o'brien) —
    // unescaped it would mangle the interpolated LOCATION literal.
    // Backslash escaping is also implemented (Catalog.registerTable) but
    // not end-to-end testable: Hadoop's glob layer rejects `\` in any
    // DataSource path long before the catalog SQL runs.
    val root = Files.createTempDirectory("graft_wh_esc").toString +
      "/o'brien's dir"
    val w = new Warehouse(root)
    val t = w.table("bronze_esc")
    t.overwrite(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val prevDb = spark.catalog.currentDatabase
    try {
      graft.io.Catalog.ensureDatabase(spark, "graft_wh_esc_db")
      graft.io.Catalog.registerTable(spark, "graft_wh_esc_db", "bronze_esc", t)
      assert(spark.table("graft_wh_esc_db.bronze_esc").count() == 2)
    } finally spark.catalog.setCurrentDatabase(prevDb)
  }

  test("decimal-string integrals survive silver coercion (legacy-cast parity)") {
    // NumericRule probes via a double cast because the reference's
    // legacy-mode cast parses "9.99" → 9; the silver promotion must not
    // then NULL the value with a strict ANSI try_cast to the integral type
    val w = new Warehouse(Files.createTempDirectory("graft_wh_cast").toString)
    val cfg = graft.pipeline.EntityConfig(
      name = "gauges", idColumns = Seq("id"),
      validations = Seq(graft.pipeline.NumericRule("reading")),
      silverColumns = Seq("id", "reading"),
      silverCasts = Seq("id" -> "bigint", "reading" -> "bigint"))
    val p = new EntityPipeline(spark, w, cfg, clock)
    p.ingestBronze(Seq(("1", "7"), ("2", "9.99"), ("3", "junk"))
      .toDF("id", "reading"))
    p.validateSilver()
    TestSpark.assertSameRows(
      w.silverByName("gauges").read(spark).select("id", "reading"),
      Seq(Seq(1L, 7L), Seq(2L, 9L)))  // "9.99" → 9, not NULL; "junk" → DLQ
  }

  test("S5 auth hook runs before the pipeline touches storage") {
    var calls = 0
    val recording = new graft.io.StorageAuth {
      override def authenticate(s: org.apache.spark.sql.SparkSession): Unit =
        calls += 1
    }
    val w = new Warehouse(
      Files.createTempDirectory("graft_wh_auth").toString, recording)
    assert(calls == 0)
    val p = new EntityPipeline(spark, w, SeedStore.customers, clock)
    assert(calls == 1, "constructing the pipeline must authenticate first")
    p.ingestBronze(sources("customers"))
    assert(w.table("bronze_customers").read(spark).count() > 0)
  }

  private val entityNames = SeedStore.entities.map(_.name)
  private val goldNames = Seq("customer_breakdown", "customer_status_by_city",
    "orders_by_customer_week", "orders_by_city_year_month",
    "orders_type_delivery_time")

  /** Every silver, DLQ and gold table's rows, sorted. */
  private def snapshot(w: Warehouse): Map[String, Seq[Seq[Any]]] =
    (entityNames.flatMap(e => Seq(s"silver_$e", s"dlq_$e")) ++
      goldNames.map(g => s"gold_$g"))
      .map(n => n -> TestSpark.rows(w.table(n).read(spark))).toMap

  /** `runAll` then `advanceAll`, spelled out one call at a time. */
  private def serialRun(w: Warehouse, src: Map[String, DataFrame],
      at: () => Column): Unit = {
    val ps = SeedStore.entities.map(c =>
      c.name -> new EntityPipeline(spark, w, c, at)).toMap
    entityNames.foreach(n => ps(n).ingestBronze(src(n)))
    entityNames.foreach { n => ps(n).validateSilver(); ps(n).cleanseDlq() }
    val g = new GoldIncremental(spark, w)
    g.customerBreakdown(); g.customerStatusByCity(); g.ordersByCustomerWeek()
    g.ordersByCityYearMonth(); g.ordersTypeDeliveryTime()
  }

  /** Commit timestamps of a table, from its commit log. */
  private def commitTimes(w: Warehouse, n: String): Seq[Long] = {
    val t = w.table(n)
    graft.io.VersionLog.recordsUpTo(t.path, t.version).flatMap(_.ts)
  }

  test("concurrent runAll + advanceAll equal the serial composition and " +
      "keep the foreign-key order") {
    // batch 2's advance folds the new rows in incrementally
    val batches = Seq((sources, clock), (grown, clock2))
    val serial = new Warehouse(Files.createTempDirectory("graft_wh_serial").toString)
    val expected = batches.map { case (src, at) =>
      serialRun(serial, src, at); snapshot(serial)
    }
    (1 to 3).foreach { i =>
      val w = new Warehouse(Files.createTempDirectory(s"graft_wh_conc$i").toString)
      batches.zip(expected).zipWithIndex.foreach { case (((src, at), want), b) =>
        SeedStore.runAll(spark, w, src, at)
        new GoldIncremental(spark, w).advanceAll()
        val got = snapshot(w)
        want.keys.foreach(n =>
          assert(got(n) == want(n), s"run $i, batch ${b + 1}: $n"))
        if (b == 0) {
          // no orders commit before the last commit of a parent entity
          val lastParent = Seq("customers", "addresses", "items")
            .flatMap(e => Seq(s"silver_$e", s"dlq_$e"))
            .flatMap(commitTimes(w, _)).max
          val firstOrders = Seq("silver_orders", "dlq_orders")
            .flatMap(commitTimes(w, _)).min
          assert(firstOrders >= lastParent, s"run $i")
        }
      }
    }
  }

  test("a failing step: runAll rethrows it after every other step ended, " +
      "and leaves no thread and no staged version behind") {
    val boom = udf((s: String) => {
      if (s != null) throw new IllegalStateException("boom in items")
      s
    })
    val bad = sources.updated("items",
      sources("items").withColumn("Codes", boom(col("Codes"))))
    val w = new Warehouse(Files.createTempDirectory("graft_wh_fail").toString)
    val e = intercept[Throwable](SeedStore.runAll(spark, w, bad, clock))
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("boom in items")), e)
    import scala.jdk.CollectionConverters._
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.getName.startsWith("graft-step-") && t.isAlive))
    // the other bronze ingests ran to their commit; nothing is staged
    assert(entityNames.filterNot(_ == "items")
      .forall(n => w.table(s"bronze_$n").exists))
    assert(!w.table("bronze_items").exists)
    val walk = Files.walk(java.nio.file.Paths.get(w.root))
    try assert(!walk.iterator().asScala.exists(_.getFileName.toString
      .startsWith("_stage_")))
    finally walk.close()
  }

  test("independent steps: the first failure wins with the rest " +
      "suppressed; steps run outside the caller's SQL execution") {
    var ran = false
    val e = intercept[IllegalStateException](IndependentSteps.run(spark)(
      () => { ran = true }, () => throw new IllegalStateException("first"),
      () => throw new IllegalArgumentException("second")))
    assert(ran && e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
    val sc = spark.sparkContext
    val ids = Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
    var seen = Seq.empty[String]
    ids.foreach(sc.setLocalProperty(_, "12345"))
    try IndependentSteps.run(spark)(() => {
      seen = ids.map(sc.getLocalProperty)
      assert(spark.range(3).count() == 3)
    })
    finally ids.foreach(sc.setLocalProperty(_, null))
    assert(seen == Seq(null, null))
  }

  test("every Spark job of runAll and advanceAll carries a graft: label") {
    val descriptions =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        descriptions.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("<none>"))
    }
    val w = new Warehouse(Files.createTempDirectory("graft_wh_labels").toString)
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      SeedStore.runAll(spark, w, sources, clock)
      new GoldIncremental(spark, w).advanceAll()
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    val all = descriptions.asScala.toSeq
    assert(all.nonEmpty)
    assert(all.forall(_.startsWith("graft:")),
      all.filterNot(_.startsWith("graft:")).distinct)
  }

  test("reconcile trips on a status that is neither valid nor invalid") {
    import graft.validate.Validators.StatusCol
    val split = Seq(("a", "valid"), ("b", "invalid"), ("c", "invalid"))
      .toDF("id", StatusCol)
    EntityPipeline.reconcileSplit("probe", split)
    val broken = split.union(Seq(("d", "pending")).toDF("id", StatusCol))
    val e = intercept[IllegalArgumentException](
      EntityPipeline.reconcileSplit("probe", broken))
    assert(e.getMessage.endsWith(
      "reconciliation failed for probe: bronze=4 but silver+dlq=3"))
  }
}
