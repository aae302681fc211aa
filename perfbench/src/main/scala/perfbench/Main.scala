package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point: runs one workload and prints its result.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --data <dir> --work <dir> --records <dir>
  *   perfbench.Main --record <sf> --data <dir> --work <dir>
  * }}}
  *
  * The last stdout line is the result object (`correct`, `attempted`,
  * `failed`, `metrics`); the lines before it are `# host`, `# check` and
  * `# table` records. `--record` runs the medallion path on a scale factor
  * and prints the silver, gold and dashboard hashes `expected.json` keeps.
  */
object Main {

  final case class Args(workload: String = "", seed: Long = 0, seconds: Int = 10,
      trace: Boolean = false, data: String = "perfbench/tpch",
      work: String = "perfbench/work/run", records: String = "perfbench/work/records",
      record: Option[String] = None)

  private def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--data" :: v :: rest => parse(rest, a.copy(data = v))
    case "--work" :: v :: rest => parse(rest, a.copy(work = v))
    case "--records" :: v :: rest => parse(rest, a.copy(records = v))
    case "--record" :: v :: rest => parse(rest, a.copy(record = Some(v)))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  def session(): SparkSession = {
    val cpus = Host.nproc.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the session settings every graft harness shares (see graft.Bench)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Progress on stderr, stamped with the JVM's uptime. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s $msg")

  def main(argv: Array[String]): Unit = {
    val parsed = parse(argv.toList)
    // table paths are registered in the catalog, which needs them absolute
    val a = parsed.copy(work = Paths.get(parsed.work).toAbsolutePath.toString)
    Files.createDirectories(Paths.get(a.work))
    val spark = session()
    log("session ready")
    try a.record match {
      case Some(sf) => Workloads.record(spark, a, sf)
      case None => run(spark, a)
    } finally spark.stop()
  }

  private def run(spark: SparkSession, a: Args): Unit = {
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val steal0 = Host.stealTicks()
    val out = a.workload match {
      case "medallion_cold" => Workloads.medallionCold(spark, a, tracer)
      case "dashboard_serving" => Workloads.dashboardServing(spark, a, tracer)
      case "sql_commit_loop" => Workloads.sqlCommitLoop(spark, a, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    val stealS = (Host.stealTicks() - steal0) / 100.0
    log("workload done")

    val host = Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "sf" -> Json.str(out.sf), "nproc" -> Host.nproc.toString,
      "mem_total_kb" -> Host.memTotalKb.toString,
      "heap_max_mb" -> Host.heapMaxMb.toString, "steal_s" -> Json.num(stealS),
      "trace" -> a.trace.toString)
    println("# host " + Json.obj(host))
    out.checks.foreach { case (name, ok) => println(s"# check $name ${if (ok) "ok" else "FAILED"}") }
    Storage.perTable(out.before, out.after).foreach { case (t, fw, bw, fl, bl) =>
      println(s"# table $t files_written=$fw bytes_written=$bw files_live=$fl bytes_live=$bl")
    }

    val checksOk = out.checks.forall(_._2)
    val attempted = out.opsAttempted + 1
    val failed = out.opsFailed + (if (checksOk) 0 else 1)
    val p50 = Stats.quantile(out.opsMs, 0.5)

    val metrics: Seq[(String, Double, String)] = if (!a.trace) {
      Records.append(a.records, a.workload, a.seed, p50)
      val live = out.after.live
      Seq(
        ("setup_s", Stats.quantile(out.setupS, 0.5), "s"),
        ("latency_p50_ms", p50, "ms"),
        ("peak_rss_mb", Host.peakRssMb, "MB"),
        ("stored_bytes_per_source_byte",
          live.map(_.bytes).sum.toDouble / out.sourceBytes, "ratio"))
    } else {
      val tr = tracer.get
      val written = out.after.writtenSince(out.before)
      val live = out.after.live
      val commits = out.after.commits(written)
      val untraced = Records.median(a.records, a.workload, a.seed)
      if (untraced.isEmpty)
        println("# flag trace.overhead_ratio: no untraced run of this build recorded; reads -1")
      val layer = Layers.all.map(_ -> 0.0).toMap ++
        tr.sparkMetrics(Host.nproc) ++ out.layers ++ Map(
          "io.commits" -> commits.toDouble,
          "io.files_written" -> written.size.toDouble,
          "io.bytes_written" -> written.map(_.bytes).sum.toDouble,
          "io.files_live" -> live.size.toDouble,
          "io.bytes_live" -> live.map(_.bytes).sum.toDouble,
          "io.files_per_commit" -> (if (commits > 0) written.size.toDouble / commits else 0.0),
          "written_bytes_per_source_byte" ->
            written.map(_.bytes).sum.toDouble / out.sourceBytes,
          "trace.overhead_ratio" -> untraced.map(p50 / _).getOrElse(-1.0),
          "trace.attributed_share" -> tr.attributedShare,
          "cpu_p50_ms" -> Stats.quantile(out.opsCpuMs, 0.5),
          "failed_op_ratio" -> failed.toDouble / attempted,
          "host.steal_s" -> stealS)
      Layers.all.map(n => (n, layer(n), Layers.unit(n)))
    }
    val metricJson = metrics.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    println(Json.obj(Seq(
      "correct" -> (checksOk && failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metricJson))))
  }
}

/** Median op latencies of earlier untraced runs of this build (the
  * launcher keeps one records directory per build fingerprint), the base
  * of `trace.overhead_ratio`: runs of the same seed when there are any
  * (seeds change the work), else all.
  */
object Records {
  private def file(dir: String, workload: String) = Paths.get(dir, s"$workload.txt")

  def append(dir: String, workload: String, seed: Long, p50Ms: Double): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(file(dir, workload), s"$seed $p50Ms\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }

  def median(dir: String, workload: String, seed: Long): Option[Double] = {
    val f = file(dir, workload)
    val all = if (!Files.exists(f)) Nil
      else Files.readAllLines(f).asScala.toSeq.map(_.trim.split(" "))
        .collect { case Array(s, v) => (s.toLong, v.toDouble) }
    val same = all.filter(_._1 == seed).map(_._2)
    val vs = if (same.nonEmpty) same else all.map(_._2)
    if (vs.isEmpty) None else Some(Stats.quantile(vs, 0.5))
  }
}

object Stats {
  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
