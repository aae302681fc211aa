package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.gold.{Dashboard, GoldBuilds, GoldIncremental}
import graft.io.{Catalog, ParquetTable}
import graft.pipeline.{EntityPipeline, SeedStore, Warehouse}

/** What one workload run measured and checked. */
final case class Outcome(
    sf: String,
    setupS: Seq[Double],
    opsMs: Seq[Double],
    opsCpuMs: Seq[Double],
    opsAttempted: Int,
    opsFailed: Int,
    checks: Seq[(String, Boolean)],
    sourceBytes: Long,
    before: Storage,
    after: Storage,
    layers: Map[String, Double])

/** The traced run's metric names, in output order. */
object Layers {
  private val Entities = SourceGen.Names
  private val Stages = Seq("bronze", "silver", "dlq")

  val all: Seq[String] =
    Stages.map(s => s"pipeline.${s}_s") ++
      (for (s <- Stages; e <- Entities) yield s"pipeline.$s.${e}_s") ++
      Seq("pipeline.rows_in", "pipeline.rows_valid", "pipeline.rows_dlq",
        "pipeline.rows_recovered", "pipeline.recovery_ratio", "pipeline.batch2_s",
        "gold.build_s", "gold.advance_first_s", "gold.advance_s") ++
      Workloads.IvmTables.map(g => s"gold.advance.${g}_s") ++
      Dash.Names.map(d => s"dashboard.${d}_ms") ++
      Seq("io.read_plan_ms", "io.register_ms", "io.commits", "io.files_written",
        "io.bytes_written", "io.files_live", "io.bytes_live", "io.files_per_commit",
        "written_bytes_per_source_byte",
        "sql.merge_ms", "sql.update_ms", "sql.delete_ms",
        "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
        "catalyst.actions",
        "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s",
        "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_read_bytes",
        "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.job_busy_s",
        "spark.executor_util") ++
      Tracer.JobModules.flatMap(m => Seq(s"jobs.$m", s"task_s.$m")) ++
      Seq("driver.only_s", "cpu_p50_ms", "trace.overhead_ratio", "trace.attributed_share",
        "failed_op_ratio", "host.steal_s") ++
      (for (e <- Entities; k <- Seq("clean", "dlq", "recovered")) yield s"gen.$e.${k}_share")

  def unit(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_s") || name.startsWith("task_s.")) "s"
    else if (name.endsWith("_bytes") || name.startsWith("io.bytes")) "bytes"
    else if (name.endsWith("_ratio") || name.endsWith("_share") ||
      name.endsWith("_util") || name.endsWith("per_source_byte")) "ratio"
    else "count"
}

object Workloads {

  private val Db = "graft_bench"
  private val Batch1Clock: () => Column = () => to_timestamp(lit("2024-01-01 00:00:00"))

  /** A scale: a test-table directory, cut to the parts below `maxPart`
    * and their line items, holding every `holdEvery`-th order out for
    * batch 2 (0: none).
    */
  private final case class Scale(name: String, dir: String, maxPart: Long, holdEvery: Int = 0) {
    def base(spark: SparkSession, a: Main.Args) =
      new SourceGen.Base(spark, s"${a.data}/$dir", maxPart, holdEvery)
  }

  /** `medallion_cold`'s scale. The first 25 of sf0.001's 200 parts keep
    * `order_details` partitioned over 25 items, which keeps both batches
    * near a minute on 4 vCPUs; every 10th order arrives in batch 2.
    */
  private val Cold = Scale("sf0.001_p25", "sf0.001", 25, holdEvery = 10)
  private val Serving = Scale("sf0.01", "sf0.01", Long.MaxValue)
  private val Scales = Seq(Cold, Serving)

  /** Set-up repetitions per run; `setup_s` is their median. A set-up that
    * only generates sources in memory takes tens of milliseconds, so it
    * repeats more often to steady the median.
    */
  private val SetupRuns = 3
  private val InMemorySetupRuns = 9

  /** Untimed rounds of `sql_commit_loop`'s statements before the timed ones. */
  private val SqlWarmupRounds = 2

  private def nowNs(): Long = System.nanoTime()
  private def msSince(t0: Long): Double = (nowNs() - t0) / 1e6

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this process, every thread included. */
  private def cpuNs(): Long = osBean.getProcessCpuTime

  /** Wall and CPU milliseconds of each timed operation. */
  private final class OpTimes {
    val wall = Seq.newBuilder[Double]
    val cpu = Seq.newBuilder[Double]
    def time[A](f: => A): A = {
      val w0 = nowNs(); val c0 = cpuNs()
      try f finally { wall += msSince(w0); cpu += (cpuNs() - c0) / 1e6 }
    }
  }

  private def timedSetup[A](f: Int => A): (Seq[Double], A) = timedSetup(SetupRuns)(f)

  private def timedSetup[A](n: Int)(f: Int => A): (Seq[Double], A) = {
    val runs = (1 to n).map { i =>
      val t0 = nowNs(); val r = f(i); ((nowNs() - t0) / 1e9, r)
    }
    Main.log("set-up done")
    (runs.map(_._1), runs.last._2)
  }

  private def freshDir(a: Main.Args, name: String): Path = {
    val p = Paths.get(a.work, name)
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally stream.close()
    }
    Files.createDirectories(p.getParent)
    p
  }

  private def genShares(b: SourceGen.Batch): Map[String, Double] =
    b.expect.toSeq.flatMap { case (e, x) =>
      Seq(s"gen.$e.clean_share" -> x.byDirt.getOrElse("clean", 0L).toDouble / x.rowsIn,
        s"gen.$e.dlq_share" -> x.dlqInvalid.toDouble / x.rowsIn,
        s"gen.$e.recovered_share" -> x.recovered.toDouble / x.rowsIn)
    }.toMap

  private def tspan[A](tracer: Option[Tracer], name: String)(f: => A): A =
    tracer.fold(f)(_.span(name)(f))

  private def guarded(failures: => Unit)(f: => Unit): Boolean =
    try { f; true } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] operation failed: $e")
        failures
        false
    }

  // ------------------------------------------------------------------
  // expected hashes

  private lazy val expected: Map[String, Map[String, String]] = {
    val f = Paths.get(sys.props.getOrElse("perfbench.expected", "perfbench/expected.json"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f.toFile)
    node.properties().asScala.map { e =>
      e.getKey -> e.getValue.properties().asScala.map(x => x.getKey -> x.getValue.asText).toMap
    }.toMap
  }

  private def hashCheck(sf: String, key: String, actual: String): (String, Boolean) =
    s"$sf.$key" -> expected.get(sf).flatMap(_.get(key)).contains(actual)

  /** Canonical hash and row count of each entity's silver table. */
  private def silver(spark: SparkSession, wh: Warehouse,
      entities: Seq[String]): Seq[(String, (String, Long))] =
    entities.map { e =>
      val (cols, rows) = Dash.collectSorted(wh.silverByName(e).read(spark))
      e -> (Dash.hash(cols, rows), rows.length.toLong)
    }

  private def silverHashes(spark: SparkSession, wh: Warehouse,
      entities: Seq[String]): Seq[(String, String)] =
    silver(spark, wh, entities).map { case (e, (h, _)) => s"silver_$e" -> h }

  private def goldHashes(spark: SparkSession, wh: Warehouse): Seq[(String, String)] =
    Dash.GoldOf.values.toSeq.distinct.sorted.map(g =>
      s"gold_$g" -> Dash.hashOf(wh.gold(g).read(spark)))

  /** Row counts the pipeline left per entity, against the generator's;
    * with `layers`, also the traced run's row totals (bronze rows in,
    * silver, invalid and recovered DLQ rows).
    */
  private def countChecks(spark: SparkSession, wh: Warehouse,
      expect: Map[String, SourceGen.Expect], silverRows: Map[String, Long],
      layers: Boolean): (Seq[(String, Boolean)], Map[String, Double]) = {
    val per = SourceGen.Names.map { e =>
      val dlq = wh.table(s"dlq_$e").read(spark)
        .groupBy("validation_status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val silver = silverRows(e)
      val (invalid, recovered) = (dlq.getOrElse("invalid", 0L), dlq.getOrElse("valid", 0L))
      val x = expect(e)
      val ok = silver == x.silver && invalid == x.dlqInvalid && recovered == x.recovered
      if (!ok) System.err.println(s"[perfbench] $e (silver, dlq, recovered) = " +
        s"($silver, $invalid, $recovered), expected " +
        s"(${x.silver}, ${x.dlqInvalid}, ${x.recovered})")
      val bronze = if (layers)
        wh.bronze(SeedStore.entities.find(_.name == e).get).read(spark).count() else 0L
      (s"counts.$e" -> ok, Seq(bronze, silver, invalid, recovered).map(_.toDouble))
    }
    val Seq(in, valid, dlq, recovered) = per.map(_._2).transpose.map(_.sum)
    (per.map(_._1), if (!layers) Map.empty else Map(
      "pipeline.rows_in" -> in, "pipeline.rows_valid" -> valid,
      "pipeline.rows_dlq" -> dlq, "pipeline.rows_recovered" -> recovered,
      "pipeline.recovery_ratio" -> (if (recovered > 0) recovered / (recovered + dlq) else 0.0)))
  }

  // ------------------------------------------------------------------
  // medallion_cold

  /** The incrementally maintained gold tables, in `advanceAll`'s order. */
  val IvmTables: Seq[String] = Seq("customer_breakdown", "customer_status_by_city",
    "orders_by_customer_week", "orders_by_city_year_month", "orders_type_delivery_time")

  private val Batch2Clock: () => Column = () => to_timestamp(lit("2024-02-01 00:00:00"))

  /** What one medallion run computed: its outcome, and every hash it
    * checks against `expected.json` (`--record` prints them instead).
    */
  private final case class Medallion(outcome: Outcome, hashes: Seq[(String, String)])

  /** A fresh warehouse, then, timed as one operation: batch 1 through
    * `runAll` → a first `GoldIncremental.advanceAll`, which builds gold in
    * full and writes the IVM marker → the 8 dashboard queries → batch 2
    * (orders only: the re-read source plus the held-out orders and new
    * dirt) through the orders `EntityPipeline` → `advanceAll`, which folds
    * the new orders into gold. The maintained gold must then equal a
    * `GoldBuilds.buildAll` rebuild from the same silver: the rebuild
    * recorded in `expected.json`, and in traced runs one made after the
    * operation, which `gold.build_s` times.
    */
  def medallionCold(spark: SparkSession, a: Main.Args, tracer: Option[Tracer]): Outcome = {
    val m = medallion(spark, a, tracer)
    val sf = Cold.name
    m.outcome.copy(checks = m.outcome.checks ++ m.hashes.map { case (k, h) => hashCheck(sf, k, h) })
  }

  private def medallion(spark: SparkSession, a: Main.Args, tracer: Option[Tracer],
      record: Boolean = false): Medallion = {
    // the test tables are read once; set-up times the benchmark's own
    // generator only, and no library code runs in it
    val base = Cold.base(spark, a)
    val (setupS, (b1, b2, src1, src2)) = timedSetup(InMemorySetupRuns) { _ =>
      val b1 = SourceGen.generate(base, a.seed)
      val b2 = SourceGen.batch2(base, a.seed)
      (b1, b2, b1.sourceFrames(spark), b2.sourceFrames(spark))
    }
    val wh = new Warehouse(freshDir(a, "wh").toString)
    val before = Storage.walk(wh.root)
    val ops = new OpTimes
    var failed = 0
    val dash = Seq.newBuilder[(String, String)]
    tracer.foreach(_.start())
    val ok = ops.time(guarded(failed += 1) {
      tracer match {
        case None => SeedStore.runAll(spark, wh, src1, Batch1Clock)
        case Some(tr) => runAllTraced(spark, wh, src1, tr)
      }
      val ivm = new GoldIncremental(spark, wh)
      tspan(tracer, "gold.advance_first")(ivm.advanceAll())
      val d = new Dashboard(spark, wh)
      Dash.Names.foreach { q =>
        dash += q -> tspan(tracer, s"dashboard.$q")(Dash.hashOf(Dash.api(d, q)))
      }
      val orders = new EntityPipeline(spark, wh,
        SeedStore.entities.find(_.name == "orders").get, Batch2Clock)
      tspan(tracer, "pipeline.batch2.bronze")(orders.ingestBronze(src2("orders")))
      tspan(tracer, "pipeline.batch2.silver")(orders.validateSilver())
      tspan(tracer, "pipeline.batch2.dlq")(orders.cleanseDlq())
      tracer match {
        case None => ivm.advanceAll()
        case Some(tr) => advanceAllTraced(ivm, tr)
      }
    })
    tracer.foreach(_.stop())
    Main.log("batch done")
    val after = Storage.walk(wh.root)

    var checks = Seq.empty[(String, Boolean)]
    var hashes = Seq.empty[(String, String)]
    var layers = Map.empty[String, Double]
    val readPlanMs = if (tracer.isEmpty) Nil else Dash.Names.map(q => readPlan(spark, wh, q))
    if (ok) {
      val silvers = silver(spark, wh, SourceGen.Names)
      val (cc, rows) = countChecks(spark, wh, b1.expect ++ b2.expect,
        silvers.map { case (e, (_, n)) => e -> n }.toMap, tracer.nonEmpty)
      // The maintained gold, on the columns a full rebuild has (the rest
      // are maintenance state), against that rebuild. Untraced runs compare
      // with the recorded rebuild, whose silver every run's silver is
      // checked against; recording and traced runs rebuild from a copy of
      // the silver (a rebuild cannot publish over the maintained tables).
      val recorded = expected.getOrElse(Cold.name, Map.empty)
      val rebuilt = if (!record && tracer.isEmpty) None else Some {
        val w = new Warehouse(freshDir(a, "rebuild").toString)
        Seq("customers", "addresses", "orders").foreach(e =>
          w.silverByName(e).overwrite(wh.silverByName(e).read(spark)))
        tspan(tracer, "gold.build")(new GoldBuilds(spark, w).buildAll())
        w
      }
      val gold = IvmTables.map { g =>
        val (cols, rows) = Dash.collectSorted(wh.gold(g).read(spark))
        val reference = rebuilt.map(w => Dash.collectSorted(w.gold(g).read(spark)))
        val refCols = reference.map(_._1).getOrElse(
          recorded.get(s"gold_columns_$g").fold(Seq.empty[String])(_.split(",").toSeq))
        val at = refCols.map(cols.indexOf(_))
        val maintained =
          if (refCols.isEmpty || at.contains(-1)) s"columns $refCols not all in $cols"
          else Dash.hash(refCols, rows.map(r => Row.fromSeq(at.map(r.get))))
        (g, refCols, maintained, reference.map { case (c, r) => Dash.hash(c, r) })
      }
      if (record) gold.foreach { case (g, _, h, ref) =>
        require(ref.contains(h), s"gold_$g: maintained differs from the rebuild")
      }
      checks = cc ++ gold.collect { case (g, _, h, Some(ref)) => s"ivm_equals_rebuild.$g" -> (h == ref) }
      hashes = silvers.map { case (e, (h, _)) => s"silver_$e" -> h } ++
        gold.map { case (g, _, h, _) => s"gold_$g" -> h } ++
        (if (record) gold.map { case (g, c, _, _) => s"gold_columns_$g" -> c.mkString(",") } else Nil) ++
        dash.result()
      layers = rows
    }

    val traced = tracer.fold(Map.empty[String, Double]) { tr =>
      val stages = Seq("bronze", "silver", "dlq")
      stages.map(s => s"pipeline.${s}_s" -> tr.spanSeconds(s"pipeline.$s.")).toMap ++
        (for (s <- stages; e <- SourceGen.Names)
          yield s"pipeline.$s.${e}_s" -> tr.spanSeconds(s"pipeline.$s.$e")) ++
        IvmTables.map(g => s"gold.advance.${g}_s" -> tr.spanSeconds(s"gold.advance.$g")) ++
        Map("pipeline.batch2_s" -> tr.spanSeconds("pipeline.batch2."),
          "gold.build_s" -> tr.spanSeconds("gold.build"),
          "gold.advance_first_s" -> tr.spanSeconds("gold.advance_first"),
          "gold.advance_s" -> tr.spanSeconds("gold.advance."),
          "io.read_plan_ms" -> Stats.quantile(readPlanMs, 0.5)) ++
        Dash.Names.map(q => s"dashboard.${q}_ms" ->
          Stats.quantile(tr.spanMillis(s"dashboard.$q"), 0.5))
    }
    Medallion(Outcome(Cold.name, setupS, ops.wall.result(), ops.cpu.result(), 1, failed,
      checks, b1.bytes + b2.bytes, before, after, layers ++ traced ++ genShares(b1)), hashes)
  }

  /** Driver time of `ParquetTable.read` on the gold table query `q` reads,
    * timed beside the query (traced runs only).
    */
  private def readPlan(spark: SparkSession, wh: Warehouse, q: String): Double = {
    val t0 = nowNs()
    wh.gold(Dash.GoldOf(q)).read(spark)
    msSince(t0)
  }

  /** `SeedStore.runAll` spelled out through `EntityPipeline`'s public
    * stage methods, in its order, with one span per stage and entity.
    * The end state is checked against the hashes the `runAll` path
    * recorded, like every untraced run.
    */
  private def runAllTraced(spark: SparkSession, wh: Warehouse,
      sources: Map[String, DataFrame], tr: Tracer): Unit = {
    val pipelines = SeedStore.entities.map(c =>
      c.name -> new EntityPipeline(spark, wh, c, Batch1Clock)).toMap
    SeedStore.entities.foreach(c =>
      tr.span(s"pipeline.bronze.${c.name}")(pipelines(c.name).ingestBronze(sources(c.name))))
    Seq("customers", "addresses", "items", "orders", "order_details").foreach { n =>
      tr.span(s"pipeline.silver.$n")(pipelines(n).validateSilver())
      tr.span(s"pipeline.dlq.$n")(pipelines(n).cleanseDlq())
    }
  }

  /** `GoldIncremental.advanceAll` spelled out through its public
    * per-table methods, in its order, with one span per table. The end
    * state is checked against a rebuild, like every untraced run.
    */
  private def advanceAllTraced(ivm: GoldIncremental, tr: Tracer): Unit = {
    tr.span("gold.advance.customer_breakdown")(ivm.customerBreakdown())
    tr.span("gold.advance.customer_status_by_city")(ivm.customerStatusByCity())
    tr.span("gold.advance.orders_by_customer_week")(ivm.ordersByCustomerWeek())
    tr.span("gold.advance.orders_by_city_year_month")(ivm.ordersByCityYearMonth())
    tr.span("gold.advance.orders_type_delivery_time")(ivm.ordersTypeDeliveryTime())
  }

  // ------------------------------------------------------------------
  // dashboard_serving

  /** Silver and gold of a clean batch-1 warehouse, registered in the
    * catalog; then a closed loop of the 8 dashboard queries in a seeded
    * order, half through `Dashboard` and half as SQL text.
    */
  def dashboardServing(spark: SparkSession, a: Main.Args, tracer: Option[Tracer]): Outcome = {
    val sf = Serving.name
    var registerMs = Seq.empty[Double]
    val (setupS, (batch, wh)) = timedSetup { i =>
      val base = Serving.base(spark, a)
      val names = Seq("customers", "addresses", "orders")
      val b = SourceGen.generate(base, a.seed, names)
      val w = new Warehouse(freshDir(a, s"wh$i").toString)
      Dash.loadSilver(spark, w, SourceGen.generate(base, a.seed, names, withDirt = false),
        Batch1Clock())
      new GoldBuilds(spark, w).buildAll()
      val t0 = nowNs()
      w.register(spark, Db)
      registerMs :+= msSince(t0)
      (b, w)
    }
    val setupChecks =
      (silverHashes(spark, wh, Seq("customers", "addresses", "orders")) ++
        goldHashes(spark, wh)).map { case (k, h) => hashCheck(sf, k, h) }

    val d = new Dashboard(spark, wh)
    val rng = new Random(a.seed)
    val ops = new OpTimes
    val readPlanMs = Seq.newBuilder[Double]
    var attempted = 0
    var failed = 0
    val before = Storage.walk(wh.root)
    tracer.foreach(_.start())
    val start = nowNs()
    while (msSince(start) < a.seconds * 1000.0) {
      val viaSql = rng.shuffle(Dash.Names.indices.toList).take(Dash.Names.size / 2).toSet
      rng.shuffle(Dash.Names.indices.toList).foreach { i =>
        if (msSince(start) < a.seconds * 1000.0) {
          val q = Dash.Names(i)
          attempted += 1
          var h = ""
          ops.time(guarded(failed += 1) {
            h = tspan(tracer, s"dashboard.$q")(Dash.hashOf(
              if (viaSql(i)) spark.sql(Dash.Sql(q)) else Dash.api(d, q)))
          })
          if (h.nonEmpty && !hashCheck(sf, q, h)._2) failed += 1
          if (tracer.nonEmpty) readPlanMs += readPlan(spark, wh, q)
        }
      }
    }
    tracer.foreach(_.stop())

    // both client forms of every query, once more after the loop
    val formChecks = Dash.Names.flatMap { q =>
      val viaApi = Dash.hashOf(Dash.api(d, q))
      val viaSql = Dash.hashOf(spark.sql(Dash.Sql(q)))
      Seq(s"sql_equals_api.$q" -> (viaApi == viaSql), hashCheck(sf, q, viaApi))
    }
    val traced = tracer.fold(Map.empty[String, Double]) { tr =>
      Dash.Names.map(q => s"dashboard.${q}_ms" ->
        Stats.quantile(tr.spanMillis(s"dashboard.$q"), 0.5)).toMap ++ Map(
        "io.read_plan_ms" -> Stats.quantile(readPlanMs.result(), 0.5),
        "io.register_ms" -> Stats.quantile(registerMs, 0.5))
    }
    Outcome(sf, setupS, ops.wall.result(), ops.cpu.result(), attempted, failed,
      setupChecks ++ formChecks,
      batch.bytes, before, Storage.walk(wh.root), traced ++ genShares(batch))
  }

  // ------------------------------------------------------------------
  // sql_commit_loop

  /** Silver orders of a clean batch, registered; then a closed loop of
    * small `MERGE INTO … UPDATE SET * / INSERT *`, `UPDATE … WHERE` and
    * `DELETE … WHERE` statements, up to 100 rows of one partition and one
    * commit each, mirrored statement by statement in a driver-side model.
    */
  def sqlCommitLoop(spark: SparkSession, a: Main.Args, tracer: Option[Tracer]): Outcome = {
    val sf = Serving.name
    var registerMs = Seq.empty[Double]
    val base = Serving.base(spark, a)
    val batch = SourceGen.generate(base, a.seed, Seq("orders"))
    val clean = SourceGen.generate(base, a.seed, Seq("orders"), withDirt = false)
    // set-up times the library's part: the silver load and its registration
    val (setupS, table) = timedSetup { i =>
      val w = new Warehouse(freshDir(a, s"wh$i").toString)
      Dash.loadSilver(spark, w, clean, Batch1Clock())
      val t = w.silverByName("orders")
      val t0 = nowNs()
      Catalog.ensureDatabase(spark, Db)
      Catalog.registerTable(spark, Db, "silver_orders", t)
      registerMs :+= msSince(t0)
      t
    }
    val target = s"$Db.silver_orders"
    val initial = spark.table(target)
    val schema = initial.schema
    val idx = schema.fieldNames.zipWithIndex.toMap
    val cols = schema.fieldNames.sorted.toSeq
    def hashRows(rs: Iterable[Row]): String =
      Dash.hash(cols, rs.map(r => Row.fromSeq(cols.map(c => r.get(idx(c))))).toArray)
    val model = scala.collection.mutable.Map[Long, Row]()
    initial.collect().foreach(r => model(r.getLong(idx("id"))) = r)
    val setupCheck = hashCheck(sf, "silver_orders", hashRows(model.values))

    def id(r: Row): Long = r.getLong(idx("id"))
    def leaf(r: Row): (Int, Int) = (r.getInt(idx("year")), r.getInt(idx("month")))
    def shifted(r: Row): Row = {
      val v = r.toSeq.toArray
      v(idx("delivered_on")) = java.sql.Date.valueOf(
        r.getDate(idx("delivered_on")).toLocalDate.plusDays(1))
      Row.fromSeq(v.toSeq)
    }
    def withId(r: Row, newId: Long): Row = {
      val v = r.toSeq.toArray
      v(idx("id")) = newId
      Row.fromSeq(v.toSeq)
    }

    val rng = new Random(a.seed)
    // statement kinds take turns, so every seed runs the same mix
    val kinds = Seq("merge", "update", "delete")
    var nextId = 2000000000L
    val ops = new OpTimes
    val kindMs = scala.collection.mutable.Map[String, Seq[Double]]().withDefaultValue(Nil)
    var attempted = 0
    var failed = 0

    /** The next statement of `kind` and its effect on the model: up to 100
      * consecutive ids of one (year, month) leaf, so every statement
      * commits a copy-on-write of a single partition. A delete takes half
      * as many, the rows a merge inserts, so a round leaves the table's
      * size as it was and every round does the same work.
      */
    def statement(kind: String): (String, () => Unit) = {
      val live = model.valuesIterator.toIndexedSeq
      val (y, m) = leaf(live(rng.nextInt(live.size)))
      val leafIds = live.filter(leaf(_) == ((y, m))).map(id).sorted
      val size = if (kind == "delete") 50 else 100
      val from = rng.nextInt(math.max(1, leafIds.size - size + 1))
      val band = leafIds.slice(from, from + size)
      val where = s"year = $y AND month = $m AND id >= ${band.head} AND id < ${band.last + 1}"
      kind match {
        case "merge" =>
          // half the band updated, as many new ids inserted into the leaf
          val src = band.take(band.size / 2).map(i => shifted(model(i))) ++
            band.takeRight(band.size / 2).map { i => nextId += 1; withId(model(i), nextId) }
          spark.createDataFrame(src.asJava, schema).createOrReplaceTempView("bench_merge_src")
          (s"""MERGE INTO $target t USING bench_merge_src s ON t.id = s.id
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
            () => src.foreach(r => model(id(r)) = r))
        case "update" =>
          (s"UPDATE $target SET delivered_on = date_add(delivered_on, 1) WHERE $where",
            () => band.foreach(i => model(i) = shifted(model(i))))
        case _ =>
          (s"DELETE FROM $target WHERE $where", () => band.foreach(model.remove))
      }
    }
    // untimed rounds first: the first pays the JVM's and Spark's one-time
    // costs; statements keep getting faster for about a minute after it,
    // while the JIT compiles the DML path, and the second cuts the steepest
    // part of that slope
    (1 to SqlWarmupRounds).foreach(_ => kinds.foreach { k =>
      val (stmt, apply) = statement(k)
      spark.sql(stmt).collect()
      apply()
    })

    val root = Paths.get(table.path).getParent
    val before = Storage.walk(root)
    tracer.foreach(_.start())
    val start = nowNs()
    // whole rounds of the three kinds, so every run times the same mix; a
    // round starts only if it should end within --seconds, judged by the last
    var roundMs = 0.0
    while (msSince(start) + roundMs < a.seconds * 1000.0 || attempted == 0) {
      val round0 = nowNs()
      kinds.foreach { kind =>
        val (stmt, apply) = statement(kind)
        attempted += 1
        val t0 = nowNs()
        val ok = ops.time(guarded(failed += 1) {
          tspan(tracer, s"sql.$kind")(spark.sql(stmt).collect())
        })
        kindMs(kind) :+= msSince(t0)
        if (ok) apply()
      }
      roundMs = msSince(round0)
    }
    tracer.foreach(_.stop())
    Main.log("loop done")

    val finalCheck = "sql_model" ->
      (Dash.hashOf(spark.table(target)) == hashRows(model.values))
    val traced = tracer.fold(Map.empty[String, Double]) { _ =>
      Seq("merge", "update", "delete").map(k =>
        s"sql.${k}_ms" -> Stats.quantile(kindMs(k), 0.5)).toMap ++
        Map("io.register_ms" -> Stats.quantile(registerMs, 0.5))
    }
    // one sample per round, its statements' mean, so the median weighs
    // each kind alike
    def perRound(ms: Seq[Double]) = ms.grouped(kinds.size).map(_.sum / kinds.size).toSeq
    Outcome(sf, setupS, perRound(ops.wall.result()), perRound(ops.cpu.result()),
      attempted, failed, Seq(setupCheck, finalCheck),
      batch.bytes, before, Storage.walk(root), traced ++ genShares(batch))
  }

  // ------------------------------------------------------------------
  // expected.json

  /** Prints the silver, gold and dashboard hashes of the named scale as
    * one `expected.json` entry, from seed 0: for `medallion_cold`'s scale
    * the untraced workload itself, for the serving scale `runAll` →
    * `buildAll` → the 8 queries. The dirt never reaches silver, so the
    * hashes hold for every seed; runs of any seed check against them.
    */
  def record(spark: SparkSession, a: Main.Args, sf: String): Unit = {
    val entries = if (sf == Cold.name) {
      val m = medallion(spark, a.copy(seed = 0L), None, record = true)
      require(m.outcome.opsFailed == 0 && m.outcome.checks.forall(_._2),
        s"the medallion run fails its own checks: ${m.outcome.checks}")
      m.hashes
    } else {
      val scale = Scales.find(_.name == sf).getOrElse(
        throw new IllegalArgumentException(s"unknown scale $sf; one of ${Scales.map(_.name)}"))
      val b = SourceGen.generate(scale.base(spark, a), 0L)
      val wh = new Warehouse(freshDir(a, "record").toString)
      SeedStore.runAll(spark, wh, b.sourceFrames(spark), Batch1Clock)
      val silvers = silver(spark, wh, SourceGen.Names)
      val (cc, _) = countChecks(spark, wh, b.expect,
        silvers.map { case (e, (_, n)) => e -> n }.toMap, layers = false)
      require(cc.forall(_._2), s"pipeline counts differ from the generator: $cc")
      new GoldBuilds(spark, wh).buildAll()
      val d = new Dashboard(spark, wh)
      silvers.map { case (e, (h, _)) => s"silver_$e" -> h } ++ goldHashes(spark, wh) ++
        Dash.Names.map(q => q -> Dash.hashOf(Dash.api(d, q)))
    }
    println(Json.str(sf) + ": " + Json.obj(entries.map { case (k, h) => k -> Json.str(h) }))
  }
}
