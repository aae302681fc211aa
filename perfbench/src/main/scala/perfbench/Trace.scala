package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. It lives entirely outside the library:
  * spans are taken around the benchmark's own calls into each module's
  * public functions, and Spark's listener buses report the jobs, stages,
  * tasks and Catalyst phases those calls caused.
  *
  * Every Spark job is assigned to a module from its call site: the job's
  * stack, innermost frame first, is searched for the first frame of a
  * known file (see [[moduleOf]]); a job with a SQL write-bridge frame
  * anywhere in its stack belongs to `sql`. The stack depth is raised with
  * the `spark.callstack.depth` system property (set by the launcher for
  * traced runs only) so the bridge frames stay visible.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.{Job, Span}

  private val spans = ArrayBuffer[Span]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageModule = new ConcurrentHashMap[Int, String]()
  private val counters = new ConcurrentHashMap[String, java.lang.Double]()
  /** SQL execution id → (root execution id, call-site stack). */
  private val executions = new ConcurrentHashMap[Long, (Long, String)]()
  @volatile private var active = false

  private def add(key: String, v: Double): Unit =
    counters.merge(key, v, (a, b) => a + b)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      val stack = e.stageInfos.headOption.map(_.details).getOrElse("")
      // a job of a SQL execution takes the execution's call site: AQE and
      // broadcast jobs are submitted from pool threads with no user frames
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(executions.get(id.toLong)))
      val module = exec.fold(Tracer.moduleOf(stack)) { case (root, details) =>
        val rootDetails = Option(executions.get(root)).map(_._2).getOrElse("")
        Tracer.moduleOf(details, rootDetails)
      }
      jobs.put(e.jobId, Job(module, e.time, -1L))
      e.stageIds.foreach(stageModule.put(_, module))
      add("spark.jobs", 1); add(s"jobs.$module", 1)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        executions.put(x.executionId, (x.rootExecutionId.getOrElse(x.executionId), x.details))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (active) {
        val s = e.stageInfo
        add("spark.stages", 1)
        add("spark.tasks", s.numTasks)
        Option(s.taskMetrics).foreach { m =>
          val module = Option(stageModule.get(s.stageId)).getOrElse("other")
          add("spark.task_run_s", m.executorRunTime / 1e3)
          add(s"task_s.$module", m.executorRunTime / 1e3)
          add("spark.task_cpu_s", m.executorCpuTime / 1e9)
          add("spark.gc_s", m.jvmGCTime / 1e3)
          add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("spark.spill_bytes", (m.diskBytesSpilled + m.memoryBytesSpilled).toDouble)
        }
      }
  }

  private val queryListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = if (active) {
      add("catalyst.actions", 1)
      qe.tracker.phases.foreach { case (phase, summary) =>
        add(s"catalyst.${phase}_ms", summary.durationMs.toDouble)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(queryListener)

  private val windows = ArrayBuffer[(Long, Long)]()
  private var windowStart = 0L

  /** Epoch nanoseconds on the monotonic clock: spans and windows are
    * compared with job intervals, which the listener bus stamps in epoch
    * milliseconds.
    */
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nowNs(): Long = epochOffsetNs + System.nanoTime()

  /** Opens a recording window; events outside windows are ignored. */
  def start(): Unit = { drain(); active = true; windowStart = nowNs() }

  /** Closes the window once every event of the finished work is delivered. */
  def stop(): Unit = {
    windows += ((windowStart, nowNs()))
    drain(); active = false
  }

  private def drain(): Unit =
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark)

  /** Seconds inside recording windows. */
  def wallSeconds: Double = windows.map { case (a, b) => b - a }.sum / 1e9

  def span[A](name: String)(f: => A): A = {
    val t0 = nowNs()
    try f finally spans.synchronized { spans += Span(name, t0, nowNs()) }
  }

  /** Seconds spent in spans whose name starts with `prefix`. */
  def spanSeconds(prefix: String): Double =
    spans.filter(_.name.startsWith(prefix)).map(s => (s.endNs - s.startNs) / 1e9).sum

  /** Durations (ms) of every span named exactly `name`. */
  def spanMillis(name: String): Seq[Double] =
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).toSeq

  /** Intervals (epoch ns) of the finished jobs whose module passes `keep`. */
  private def jobIntervals(keep: String => Boolean): Seq[(Long, Long)] =
    jobs.values.asScala.filter(j => j.endMs >= 0 && keep(j.module))
      .map(j => (j.startMs * 1000000L, j.endMs * 1000000L)).toSeq

  /** Share of the windows' wall time assigned to a named module: the time
    * a job assigned to a module other than `other` was running, plus the
    * driver-only time (no job running) inside a module span
    * (`pipeline.*`, `gold.*`, `dashboard.*`, `sql.*`). Time in `other`
    * jobs, and driver time outside every span, is not assigned.
    */
  def attributedShare: Double = {
    val named = spans.filter(s => Tracer.Modules.exists(m => s.name.startsWith(m + ".")))
      .map(s => (s.startNs, s.endNs)).toSeq
    val allJobs = jobIntervals(_ => true)
    val namedJobs = jobIntervals(_ != "other")
    val assigned = windows.map { case (w0, w1) =>
      def clip(xs: Seq[(Long, Long)]) = Tracer.unionLength(
        xs.map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }.filter { case (a, b) => b > a })
      clip(namedJobs) + clip(named ++ allJobs) - clip(allJobs)
    }.sum
    assigned / (wallSeconds * 1e9)
  }

  private def counter(name: String): Double =
    Option(counters.get(name)).map(_.doubleValue).getOrElse(0.0)

  /** Spark-layer metrics over the recording windows. */
  def sparkMetrics(cores: Int): Map[String, Double] = {
    val busyS = Tracer.unionLength(jobIntervals(_ => true)) / 1e9
    val base = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s",
      "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_read_bytes",
      "spark.shuffle_write_bytes", "spark.spill_bytes", "catalyst.analysis_ms",
      "catalyst.optimization_ms", "catalyst.planning_ms", "catalyst.actions")
      .map(k => k -> counter(k))
    val perModule = Tracer.JobModules.flatMap(m =>
      Seq(s"jobs.$m" -> counter(s"jobs.$m"), s"task_s.$m" -> counter(s"task_s.$m")))
    (base ++ perModule ++ Seq(
      "spark.job_busy_s" -> busyS,
      "spark.executor_util" ->
        (if (busyS > 0) counter("spark.task_run_s") / (busyS * cores) else 0.0),
      "driver.only_s" -> math.max(0.0, wallSeconds - busyS))).toMap
  }
}

object Tracer {

  private final case class Span(name: String, startNs: Long, endNs: Long)
  private final case class Job(module: String, startMs: Long, var endMs: Long)

  /** Span name prefixes that count as a named module. */
  val Modules: Seq[String] = Seq("pipeline", "gold", "dashboard", "sql")

  /** Modules a Spark job can be assigned to; `other` holds the benchmark's
    * own checks and anything launched outside the library.
    */
  val JobModules: Seq[String] = Seq("pipeline", "io", "merge", "gold", "sql", "other")

  private val FileModule: Seq[(String, String)] = Seq(
    "EntityPipeline.scala" -> "pipeline", "SeedStore.scala" -> "pipeline",
    "Validators.scala" -> "pipeline", "Tables.scala" -> "io",
    "VersionLog.scala" -> "io", "Catalog.scala" -> "io",
    "MergeOps.scala" -> "merge", "GoldBuilds.scala" -> "gold",
    "GoldIncremental.scala" -> "gold", "GoldMaintenance.scala" -> "gold")

  /** Module of a job from its call-site stack (one frame per line,
    * innermost first), falling back to the stack of the SQL execution it
    * is nested in. A statement issued as SQL text with no library frame
    * on its stack belongs to `sql` as well.
    */
  def moduleOf(stack: String, rootStack: String = ""): String = {
    val frames = stack.split("\n").toSeq
    val rootFrames = rootStack.split("\n").toSeq
    def known(fs: Seq[String]) = fs.iterator.flatMap(f =>
      FileModule.collectFirst { case (file, m) if f.contains(s"($file:") => m }).nextOption()
    def sqlText(fs: Seq[String]) = fs.headOption.exists(_.contains("SparkSession.sql("))
    if ((frames ++ rootFrames).exists(f =>
        f.contains("GraftMergeInto") || f.contains("GraftSqlDml"))) "sql"
    else known(frames).orElse(known(rootFrames))
      .getOrElse(if (sqlText(frames) || sqlText(rootFrames)) "sql" else "other")
  }

  /** Total length of the union of `[a, b)` intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
