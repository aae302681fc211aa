package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gold.{Dashboard, GoldBuilds}
import graft.pipeline.Warehouse
import graft.streaming.GoldIncStream

/** VERIFY_DASH, STREAMING edition (round-15 verdict items 1/2/6): the 8
  * reference dashboard queries executed over gold tables maintained by
  * the MIXED-ENTITY CDC stream ([[GoldIncStream.mixedCdcStream]]) at
  * sf1 — orders UPSERTS AND DELETES plus customers and addresses
  * changes in one multiplexed feed — hash-compared to the same queries
  * over a one-shot batch rebuild of the final state. The silver orders
  * table is PARTITIONED (year/month) so every fresh-bearing trigger
  * commits COPY-ON-WRITE; the run asserts the hard-link census on the
  * first trigger (untouched months ride as links, same inode). The
  * intake violates arrival order (newest years first), replays
  * previously-delivered events inside fresh batches, carries an
  * in-batch duplicate, includes one PURE-REPLAY batch that must produce
  * ZERO version churn everywhere, and lands every delete in the final
  * batch. Writes a VERIFY-style JSON with the recorded delete fraction.
  * Usage:
  *   runMain graft.tools.VerifyDashboardStream [sfDir] [outPath]
  * (defaults data/sf1 — generate with ScaleUp first — and
  * VERIFY_DASH_STREAM_sf1.json).
  */
object VerifyDashboardStream {

  /** rel-path → inode of a version dir's data files (the COW census). */
  private def inodeCensus(verDir: String): Map[String, Long] = {
    val root = Paths.get(verDir)
    val walk = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString ->
          Files.getAttribute(p, "unix:ino").asInstanceOf[Long])
        .toMap
    } finally walk.close()
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("data/sf1")
    val outPath = args.drop(1).headOption
      .getOrElse("VERIFY_DASH_STREAM_sf1.json")
    val cpus = graft.HarnessCpus()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // bench-session parity: cached plans coalesce their final stage
      // to advisory bytes (see Bench.scala)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.queries.GoldIncFixture._
    val orders = graft.io.Tables.read(spark, dir, "orders")
    val nation = graft.io.Tables.read(spark, dir, "nation")
    val customer = graft.io.Tables.read(spark, dir, "customer")

    // same tie-free transform as VerifyDashboardIvm (see the design
    // note there): created_on offset by id in MICROSECONDS so the
    // latest-order rank is strict at every tier — and exactly why the
    // CDC payload contract carries micro-precision timestamps
    def tieFree(df: DataFrame): DataFrame = df.withColumn("created_on",
      timestamp_add("MICROSECOND", col("id"),
        col("created_on").cast("timestamp")))

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[dashstream] $label%-34s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    // entity version states: v1 seeds, v2 the final dimension states;
    // orders final = v2 minus the %11 keys (DELETED through the stream)
    val custV1 = silverCustomers(customer, 1)
    val custV2 = silverCustomers(customer, 2)
    val addrV1 = silverAddresses(nation, 1)
    val addrV2 = silverAddresses(nation, 2)
    val ordV1 = tieFree(silverOrders(orders, 1))
    val ordV2 = tieFree(silverOrders(orders, 2))
    val ordFinal = ordV2.filter(pmod(col("id"), lit(11)) =!= 0)

    val root = Paths.get("/tmp/graft_dashstream")
    graft.io.FsUtil.deleteRecursively(root)
    val whInc = new Warehouse(s"$root/inc")
    val silverPart = whInc.table("silver_orders", Seq("year", "month"))
    time("seed silver (dims + orders v1, orders PARTITIONED)") {
      whInc.silverByName("customers").overwrite(custV1)
      // addresses partitioned by city: the %6 renames MOVE rows across
      // partitions through the stream
      whInc.table("silver_addresses", Seq("city")).overwrite(addrV1)
      silverPart.overwrite(ordV1)
    }

    // CDC event payloads (the canonical micro-precision rendering)
    def payloads(df: DataFrame, entity: String,
        op: String): Array[(String, String, String)] =
      df.select(GoldIncStream.cdcPayload(df).as("p")).collect()
        .map(r => (entity, op, r.getString(0)))
    // orders: only CHANGED images upsert (%11-doomed keys carry no
    // upsert — they die in the delete batch); deletes carry the full v2
    // image (the intake only reads the key)
    val ordChanged = ordV2.exceptAll(ordV1)
      .filter(pmod(col("id"), lit(11)) =!= 0)
    val (b1, b2, b5up) = time("collect CDC payloads") {
      (payloads(ordChanged.filter(col("year") >= 1997), "orders", "upsert"),
        payloads(ordChanged.filter(col("year").between(1995, 1996)),
          "orders", "upsert"),
        payloads(ordChanged.filter(col("year") < 1995), "orders", "upsert"))
    }
    val deletes = time("collect delete payloads") {
      payloads(ordV2.filter(pmod(col("id"), lit(11)) === 0),
        "orders", "delete")
    }
    val dims = time("collect dimension payloads") {
      payloads(custV2.exceptAll(custV1), "customers", "upsert") ++
        payloads(addrV2.exceptAll(addrV1), "addresses", "upsert")
    }
    val totalEvents = b1.length + b2.length + b5up.length +
      deletes.length + dims.length
    val deleteFraction = deletes.length.toDouble / totalEvents
    println(f"[dashstream] events: $totalEvents%d total, " +
      f"${deletes.length}%d deletes (fraction $deleteFraction%.3f), " +
      f"${dims.length}%d dimension changes")

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, String, String)]
    val stream = in.toDF().toDF("_entity", "_op", "_payload")
    val q = GoldIncStream.mixedCdcStream(stream, whInc)
    var replayChurnFree = false
    var cowLinkCensus = false
    try {
      val censusV1 = inodeCensus(silverPart.currentPath)
      time("batch 1 (newest years first, COW)") {
        in.addData(b1.toSeq)
        q.processAllAvailable()
      }
      // the COW law at sf1: batch 1 touched only year>=1997 leaves; every
      // earlier month's files must ride into the new version as HARD
      // LINKS (same inode), never rewrites
      val censusV2 = inodeCensus(silverPart.currentPath)
      val untouched = censusV1.filter { case (rel, _) =>
        rel.startsWith("year=") &&
          rel.takeWhile(_ != '/').stripPrefix("year=").toIntOption
            .exists(_ < 1997)
      }
      cowLinkCensus = untouched.nonEmpty && untouched.forall {
        case (rel, ino) => censusV2.get(rel).contains(ino)
      }
      println(s"[dashstream] COW hard-link census (untouched " +
        s"${untouched.size} files): $cowLinkCensus")

      time("batch 2 (1995-96 + replays of b1 + in-batch dup)") {
        in.addData(b2.toSeq ++ b1.take(b1.length / 10) ++ b2.take(1))
        q.processAllAvailable()
      }
      time("batch 3 (mixed dims: customers + addresses)") {
        in.addData(dims.toSeq)
        q.processAllAvailable()
      }
      val silverNames = Seq("orders", "customers", "addresses")
      val sv = silverNames.map(n => whInc.silverByName(n).version)
      val goldNames = Seq("customer_breakdown", "customer_status_by_city",
        "orders_by_customer_week", "orders_by_city_year_month",
        "orders_type_delivery_time")
      val gvs = goldNames.map(n => whInc.gold(n).version)
      time("batch 4 (PURE REPLAY — zero churn)") {
        in.addData(b1.take(1000).toSeq ++ dims.take(100).toSeq)
        q.processAllAvailable()
      }
      replayChurnFree =
        silverNames.map(n => whInc.silverByName(n).version) == sv &&
          goldNames.map(n => whInc.gold(n).version) == gvs
      println(s"[dashstream] pure-replay zero version churn: " +
        s"$replayChurnFree")
      time("batch 5 (rest + ALL DELETES + replays of b2)") {
        in.addData(b5up.toSeq ++ deletes.toSeq ++ b2.take(500).toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()

    // batch arm: the final snapshot, one full rebuild
    val whBat = new Warehouse(s"$root/batch")
    time("batch rebuild") {
      whBat.silverByName("customers").overwrite(custV2)
      whBat.silverByName("addresses").overwrite(addrV2)
      whBat.silverByName("orders").overwrite(ordFinal)
      new GoldBuilds(spark, whBat).buildAll()
    }

    def queriesOf(d: Dashboard): Seq[(String, DataFrame)] = Seq(
      "d1_top_vip_cities" -> d.topVipCities,
      "d2_total_customers" -> d.totalCustomers,
      "d3_breakdown_share" -> d.customerBreakdownShare,
      "d4_orders_in_week" -> d.ordersInWeek(1995, 10),
      "d5_low_volume_affiliates" -> d.lowVolumeAffiliates(1995, 10),
      "d6_city_delivery_profile" -> d.cityDeliveryProfile("germany"),
      "d7_city_averages" -> d.cityAverages(byYear = true),
      "d8_late_order_share" -> d.lateOrderShare())

    val dInc = new Dashboard(spark, whInc)
    val dBat = new Dashboard(spark, whBat)
    val results = queriesOf(dInc).zip(queriesOf(dBat)).map {
      case ((name, qi), (_, qb)) =>
        val (hi, ri) = VerifyDashboardIvm.canonicalHash(qi)
        val (hb, rb) = VerifyDashboardIvm.canonicalHash(qb)
        val ok = hi == hb && ri == rb
        println(f"[dashstream] $name%-26s rows=$ri%6d " +
          (if (ok) "HASH-MATCH" else s"MISMATCH inc=$hi/$ri batch=$hb/$rb"))
        (name, ok, ri)
    }
    val pass = results.count(_._2)
    val body = results.map { case (n, ok, r) =>
      s"""    "$n": {"hash_match": $ok, "rows": $r}"""
    }.mkString(",\n")
    Files.writeString(Paths.get(outPath),
      s"""{
  "_what": "dashboard-over-STREAM-maintained == dashboard-over-rebuilt, CDC edition (round-15 verdict items 1/2/6): the 8 reference dashboard queries over gold tables maintained by GoldIncStream.mixedCdcStream across a replayed, out-of-order, multiplexed orders+customers+addresses CDC intake at sf1 — orders upserts AND deletes on a PARTITIONED silver (every fresh trigger commits copy-on-write; hard-link inode census asserted on trigger 1), dimension changes including cross-partition city renames, one pure-replay batch proving zero version churn — vs the same queries over a one-shot GoldBuilds rebuild of the final state. Canonical hash equality.",
  "_tier": "$dir",
  "_protocol": "runMain graft.tools.VerifyDashboardStream $dir",
  "replay_zero_version_churn": $replayChurnFree,
  "cow_hardlink_census": $cowLinkCensus,
  "events_total": $totalEvents,
  "events_deletes": ${deletes.length},
  "delete_fraction": $deleteFraction,
  "dimension_changes": ${dims.length},
  "queries": {
$body
  },
  "pass": $pass,
  "total": ${results.size}
}
""")
    println(s"[dashstream] $pass/${results.size} hash-match, " +
      s"replay_zero_version_churn=$replayChurnFree, " +
      s"cow_hardlink_census=$cowLinkCensus -> $outPath")
    graft.io.FsUtil.deleteRecursively(root)
    spark.stop()
    if (pass != results.size || !replayChurnFree || !cowLinkCensus)
      sys.exit(1)
  }
}
