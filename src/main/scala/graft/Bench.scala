package graft
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Prints ONE compact JSON line on stdout
  * ({"metric":"total",...,"queries":{short-name:sec},...,"value":N} —
  * sized to survive the driver's 2000-char tail capture, headline total
  * LAST) and writes the full record (long query names, every raw run,
  * per-run steal) to BENCH_DETAIL.json for committing.
  *
  * Timing on this host is contaminated by hypervisor CPU steal (round-3
  * adjudication measured ~950 s of stolen CPU in a 300 s wall window), so a
  * single-shot timing of any query can be 3-40x its true cost. This harness
  * is steal-robust by construction:
  *
  *   - every query runs up to PASSES times within one JVM, in an order
  *     re-shuffled per pass so a steal burst never keeps landing on the
  *     same (long) query;
  *   - /proc/stat steal ticks are sampled around EACH run; a run whose
  *     window saw more than STEAL_RUN_TOL seconds of stolen CPU is flagged
  *     dirty and the query earns extra retry attempts (up to MAX_ATTEMPTS);
  *   - the reported number per query is the best CLEAN run when one
  *     exists, else the best overall; all raw runs and their per-run steal
  *     are emitted so a reader can audit the selection.
  *
  * The first pass is also recorded separately ("first") for readers who
  * want codegen-inclusive cold timings.
  */
object Bench {
  private val Passes = 3
  private val MaxAttempts = 5
  private val StealRunTolSec = 0.5
  private val RetryBudgetSec = 300.0
  // A run window averaging more than half a vCPU of continuous steal is
  // not measuring this code; label the artifact so a reader (or a driver
  // comparing totals across rounds) can reject it mechanically instead of
  // adjudicating. Round-3's contaminated run measured ~3.2 stolen
  // CPU-seconds per wall second; clean runs sit near 0.
  private val ContaminatedStealRate = 0.5
  private val ContaminatedDirtyQueries = 3

  // Hypervisor CPU-steal in seconds of stolen CPU time (field 8 of
  // /proc/stat's cpu line, USER_HZ ticks summed over all vCPUs).
  private def stealTicks(): Long =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).getOrElse("")
      val f = line.trim.split("\\s+")
      if (f.length > 8) f(8).toLong else 0L
    } catch { case _: Throwable => 0L }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = HarnessCpus()
    // Pre-flight steal probe BEFORE any Spark work: a host that is already
    // under contention will contaminate every pass, and sampling it while
    // idle is the only window where steal is unambiguously not ours.
    // SPARK_GRAFT_STEAL_PROBE_SEC=0 skips it for local iteration.
    val probeSec =
      sys.env.getOrElse("SPARK_GRAFT_STEAL_PROBE_SEC", "30").toDouble
    val preflightRate =
      if (probeSec <= 0) 0.0
      else {
        val s0 = stealTicks()
        Thread.sleep((probeSec * 1000).toLong)
        (stealTicks() - s0) / 100.0 / probeSec
      }
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // drive the ContextCleaner even if the heap never fills: accumulated
      // shuffle/broadcast state from 70+ queries otherwise survives until
      // an expensive full GC lands mid-query (see build.sbt's -Xmx note)
      .config("spark.cleaner.periodicGC.interval", "45s")
      // the generated-class cache defaults to 100 entries; 99 queries ×
      // several codegen units each THRASH it, so multi-stage queries
      // (q93's per-round plans, q97's advances) re-pay whole-stage
      // compilation on every pass — measured q93 4.1 s in-bench vs 2.6 s
      // standalone on the same host window. Classes are KBs; cache them
      // all. (Static conf — must be set at session creation.)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Cached plans skip AQE's final-stage shuffle coalescing by default
      // (canChangeCachedPlanOutputPartitioning=false), so every persisted
      // intermediate — the merge/IVM family's KB-scale deltas — stays
      // pinned at the session's shuffle parallelism and each consuming
      // stage fans out full-width tasks over near-empty cached partitions
      // (round-18 per-job profile: 32-task stages per KB frame; the feed
      // write emitted 32 files per commit). Enabling it lets the cache's own
      // final stage coalesce to advisoryPartitionSizeInBytes — 1 partition
      // at KB scale, advisory-sized pieces at 100 TB — adding NO shuffle
      // (the stage already exists; only its partition count changes).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the JVM/codegen/parquet-footer paths so per-query timings
    // measure steady state, not first-query startup
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
    // The connected-components loop (q64) generates per-round plan shapes
    // no other query compiles, so its first timed run paid ~2.6x its
    // steady state in whole-stage codegen + checkpoint setup
    // (BENCH_DETAIL r5). Compile those shapes against the SMALLEST
    // testdata slice when a sibling sf0.001 dir exists: the codegen cache
    // is keyed on generated source, so the bench-scale runs reuse it,
    // while "first" stays a true first pass over sfDir's data. Measured:
    // first/best 2.6x -> ~1.2x, steady state unchanged.
    // q93's eager PageRank loop likewise compiles per-round plan shapes
    // nothing else exercises — warm both loops' codegen at the smallest
    // slice so bench-scale "first" pays data, not compilation
    val ccWarmDir = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001")
    if (java.nio.file.Files.isDirectory(ccWarmDir)) {
      for (warm <- Seq("q64_dedup_clusters", "q93_supplier_rank")) {
        try SparkEntry.queries(warm)(spark, ccWarmDir.toString).count()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $warm warmup skipped: ${e.getMessage}")
        } finally spark.catalog.clearCache()
      }
    }

    // MEASURED shuffle volume per run (complement to PLANAUDIT's logical
    // ESTIMATES): task-metric deltas around each query, bus-drained so a
    // fast query's tail stages can't leak into the next window. At 100 TB
    // the shuffle-bytes column is the capacity-planning number; a query
    // whose wall time holds steady while its shuffle volume balloons is a
    // regression the timing census cannot see.
    object Shuffles extends org.apache.spark.scheduler.SparkListener {
      val write = new java.util.concurrent.atomic.AtomicLong
      val read = new java.util.concurrent.atomic.AtomicLong
      val spill = new java.util.concurrent.atomic.AtomicLong
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          spill.addAndGet(m.diskBytesSpilled)
        }
      }
    }
    spark.sparkContext.addSparkListener(Shuffles)

    final case class Run(sec: Double, stealSec: Double, failed: Boolean,
        shuffleWrite: Long = 0L, shuffleRead: Long = 0L, spilled: Long = 0L)
    val names = SparkEntry.queries.keys.toSeq.sorted
    val runs = scala.collection.mutable.Map[String, Vector[Run]]()
      .withDefaultValue(Vector.empty)
    // Deterministic-but-decorrelated pass orders: seed from wall clock so
    // two bench invocations don't align their pass schedules with a
    // periodic steal pattern, but log it for reproducibility.
    val seed = System.nanoTime()
    val rng = new scala.util.Random(seed)

    def runOne(name: String): Run = {
      val fn = SparkEntry.queries(name)
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      val (w0, r0, p0) =
        (Shuffles.write.get, Shuffles.read.get, Shuffles.spill.get)
      val s0 = stealTicks()
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        }
        finally spark.catalog.clearCache()
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      Run(sec, (stealTicks() - s0) / 100.0, failed = !ok,
        shuffleWrite = Shuffles.write.get - w0,
        shuffleRead = Shuffles.read.get - r0,
        spilled = Shuffles.spill.get - p0)
    }

    val wall0 = System.nanoTime()
    val steal0 = stealTicks()
    for (_ <- 1 to Passes)
      for (name <- rng.shuffle(names)) runs(name) = runs(name) :+ runOne(name)
    // Extra attempts for queries with no clean (steal-free, non-failed) run
    // yet — a burst that straddled all three passes of one query would
    // otherwise poison its best-of. Budgeted: under SUSTAINED contention
    // every query can earn its full retry quota and the run never ends —
    // the retry phase stops after RetryBudgetSec of wall clock and the
    // affected queries simply report dirty with their best contended run
    // (the honest answer on a host that never went quiet).
    val retryDeadline = System.nanoTime() + (RetryBudgetSec * 1e9).toLong
    var more = true
    while (more && System.nanoTime() < retryDeadline) {
      more = false
      for (name <- rng.shuffle(names)
           if System.nanoTime() < retryDeadline) {
        val rs = runs(name)
        val hasClean = rs.exists(r => !r.failed && r.stealSec <= StealRunTolSec)
        if (!hasClean && rs.length < MaxAttempts) {
          runs(name) = rs :+ runOne(name); more = true
        }
      }
    }
    val stealSec = (stealTicks() - steal0) / 100.0
    val wallSec = (System.nanoTime() - wall0) / 1e9

    def bestOf(rs: Vector[Run]): Double = {
      val okRuns = rs.filter(!_.failed)
      if (okRuns.isEmpty) -1.0
      else {
        val clean = okRuns.filter(_.stealSec <= StealRunTolSec)
        (if (clean.nonEmpty) clean else okRuns).map(_.sec).min
      }
    }
    // Locale.ROOT: a comma-decimal default locale would make this line
    // unparseable as JSON
    def fmt(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))
    val best = names.map(n => n -> bestOf(runs(n))).toMap

    // ---- per-query bests protocol (BASELINE.md): totals on this host
    // swing ±20% on identical code, so the official regression signal is
    // each query's best across the ROUND's steal-clean runs, accumulated
    // into BENCH_BESTS.json across invocations and compared against the
    // prior round's committed bests (>1.3x flags). Contended queries
    // (no clean run) contribute nothing to the bests file — a contended
    // "best" is not a measurement of this code.
    def readBests(path: String): Map[String, Double] = {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) Map.empty
      else """"([A-Za-z0-9_]+)":([0-9.]+)""".r
        .findAllMatchIn(java.nio.file.Files.readString(p))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    val cleanBest = names.flatMap { n =>
      val clean = runs(n).filter(r => !r.failed && r.stealSec <= StealRunTolSec)
      if (clean.isEmpty) None else Some(n -> clean.map(_.sec).min)
    }.toMap
    val bestsPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BESTS",
      "BENCH_BESTS.json")
    // tier guard: bests are per-SF measurements — a smoke run at another
    // tier (e.g. sf0.001 while iterating) must neither fold its times
    // into an sf0.1 bests file (hiding/faking regressions) nor be
    // compared against the other tier's priors. The file carries an
    // "_sf" tag; an existing untagged file is assumed to be the tier of
    // the round protocol's default dir.
    def readSfTag(path: String): Option[String] = {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) None
      else """"_sf":"([^"]+)"""".r
        .findFirstMatchIn(java.nio.file.Files.readString(p)).map(_.group(1))
    }
    val DefaultTier = "/root/testdata/sf0.1"
    def tierOf(path: String): String = readSfTag(path).getOrElse(DefaultTier)
    val bestsExist = java.nio.file.Files
      .exists(java.nio.file.Paths.get(bestsPath))
    val sameTier = !bestsExist || tierOf(bestsPath) == sfDir
    val merged =
      if (sameTier) (readBests(bestsPath).toSeq ++ cleanBest.toSeq)
        .groupMapReduce(_._1)(_._2)(math.min)
      else cleanBest // report this run's bests; leave the file untouched
    val priorPath = sys.env.getOrElse("SPARK_GRAFT_PRIOR_BESTS",
      "BENCH_BESTS_PRIOR.json")
    val priorBests =
      if (tierOf(priorPath) == sfDir) readBests(priorPath)
      else Map.empty[String, Double]
    val regressed = merged.keys.toSeq.sorted.filter(n =>
      priorBests.get(n).exists(p => merged(n) > 1.3 * p))
    // ---- volume census (BASELINE.md protocol): wall time is host-noisy
    // and the PLAN-side size estimates are taint-censored on multi-join
    // queries, so the round-over-round VOLUME diff uses the MEASURED
    // task-metric shuffle-write bytes against the prior round's committed
    // detail file. Flag >1.5x growth above a 1 MiB floor (small queries'
    // serialization jitter is not a volume regression); volume is a
    // property of the plan, so any clean run's bytes are the query's.
    def readPriorVolumes(path: String): Map[String, Long] = {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) Map.empty
      else """"([A-Za-z0-9_]+)":\{"best":[^{}]*?"shuffle_write_bytes":(-?\d+)""".r
        .findAllMatchIn(java.nio.file.Files.readString(p))
        .map(m => m.group(1) -> m.group(2).toLong).toMap
    }
    val priorDetailPath = sys.env.getOrElse(
      "SPARK_GRAFT_PRIOR_DETAIL", "BENCH_DETAIL_PRIOR.json")
    // same tier guard as the bests: bytes scale with SF, so cross-tier
    // volume comparison is meaningless (the detail file records "sf")
    def detailTier(path: String): Option[String] = {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) None
      else """"sf":"([^"]+)"""".r
        .findFirstMatchIn(java.nio.file.Files.readString(p)).map(_.group(1))
    }
    val priorVolumes =
      if (detailTier(priorDetailPath).forall(_ == sfDir))
        readPriorVolumes(priorDetailPath)
      else Map.empty[String, Long]
    val VolumeFloorBytes = 1L << 20
    // MIN across the run set, not the first run: load-or-build serving
    // queries (q112's fingerprinted index) legitimately run a one-time
    // build job on a cold scratch whose shuffle volume is NOT the
    // query's steady-state plan — a census keyed to the first run then
    // flags or misses depending on scratch warmth, which is a
    // measurement bug, not a signal (r17: q112 flagged purely because
    // the prior round's detail recorded a warm probe). The min is the
    // steady-state plan's volume and is deterministic; the first run's
    // number is still recorded per query as shuffle_write_bytes_first.
    def steadyVolume(n: String): Option[Long] = {
      val ok = runs(n).filter(!_.failed)
      if (ok.isEmpty) None else Some(ok.map(_.shuffleWrite).min)
    }
    val volumeRegressed = names.sorted.filter { n =>
      (steadyVolume(n), priorVolumes.get(n)) match {
        case (Some(c), Some(p)) if p >= 0 =>
          c > math.max(1.5 * p, p + VolumeFloorBytes)
        case _ => false
      }
    }
    if (sameTier) try {
      val bq = merged.toSeq.sortBy(_._1)
        .map { case (n, s) => s""""$n":${fmt(s)}""" }.mkString(",")
      java.nio.file.Files.write(java.nio.file.Paths.get(bestsPath),
        (s"""{"_sf":"$sfDir","queries":{$bq}}""" + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bests write failed: ${e.getMessage}")
    } else System.err.println(s"[bench] tier mismatch: bests file is " +
      s"${tierOf(bestsPath)}, run is $sfDir — bests not folded")
    val qs = names.map(n => s"\"$n\":${fmt(best(n))}").mkString("{", ",", "}")
    val detail = names.map { n =>
      val rs = runs(n)
      val secs = rs.map(r => fmt(if (r.failed) -1.0 else r.sec)).mkString("[", ",", "]")
      val st = rs.map(r => fmt(r.stealSec)).mkString("[", ",", "]")
      // measured shuffle volume: MIN across successful runs = the
      // steady-state plan's volume (see steadyVolume — a load-or-build
      // query's first cold run includes one-time build jobs); the first
      // run's number rides along for cold-cost readers. Spill CAN vary,
      // so it is the max.
      val okRuns = rs.filter(!_.failed)
      val sw = if (okRuns.isEmpty) -1L else okRuns.map(_.shuffleWrite).min
      val swF = okRuns.headOption.map(_.shuffleWrite).getOrElse(-1L)
      val sr = if (okRuns.isEmpty) -1L else okRuns.map(_.shuffleRead).min
      val sp = if (okRuns.isEmpty) -1L else okRuns.map(_.spilled).max
      s""""$n":{"best":${fmt(best(n))},"first":${fmt(if (rs.head.failed) -1.0 else rs.head.sec)},"runs":$secs,"steal":$st,"shuffle_write_bytes":$sw,"shuffle_write_bytes_first":$swF,"shuffle_read_bytes":$sr,"spill_bytes":$sp}"""
    }.mkString("{", ",", "}")
    // -1.0 failure markers must not be summed — they would understate the
    // total and make it non-monotonic with failures
    val total = best.values.filter(_ >= 0).sum
    // "dirty" = SUCCEEDED somewhere but never in a low-steal window — a
    // contention symptom. A query with zero successful runs is a FAILURE
    // (code regression / OOM), counted separately: three broken queries on
    // a perfectly quiet host must not read as steal contamination.
    val failed = names.count(n => !runs(n).exists(!_.failed))
    val dirty = names.count(n => runs(n).exists(!_.failed) &&
      !runs(n).exists(r => !r.failed && r.stealSec <= StealRunTolSec))
    val stealRate = if (wallSec > 0) stealSec / wallSec else 0.0
    val contaminated = stealRate > ContaminatedStealRate ||
      preflightRate > ContaminatedStealRate ||
      dirty >= ContaminatedDirtyQueries
    // The timing-regression census compares a SINGLE invocation's bests
    // against the prior round's ACCUMULATED minimums (many runs'
    // quietest windows) with only 1.3x headroom — on a host window
    // carrying a few percent of sustained steal, dozens of queries
    // legitimately exceed that without any code change (measured: 28-34
    // "regressed" on 3-6% steal windows vs 0 on quiet ones, identical
    // HEAD). A census taken on such a window is marked contended:
    // readers must treat its regressed count as host noise, not signal.
    // The volume census is unaffected (bytes are a plan property).
    val censusContended = stealRate > 0.02

    // The driver's artifact keeps only the LAST 2000 chars of the final
    // stdout line — every pre-round-5 artifact lost the total and q01-q59
    // to that cap. So: the FULL record (long query names, every raw run,
    // per-run steal) goes to a file the repo commits, and the final stdout
    // line stays well under 2000 chars by shortening query keys to their
    // first '_'-segment (extended only where names collide) and putting
    // the headline "value" LAST so even a truncated tail retains it.
    def shorten(ns: Seq[String]): Map[String, String] = {
      def seg(n: String, k: Int) = n.split('_').take(k).mkString("_")
      var depth = ns.map(n => n -> 1).toMap
      var done = false
      while (!done) {
        val dups = ns.groupBy(n => seg(n, depth(n)))
          .filter(_._2.size > 1).values.flatten.toSet
        if (dups.isEmpty) done = true
        else depth = depth.map { case (n, k) =>
          n -> (if (dups(n) && seg(n, k) != n) k + 1 else k)
        }
      }
      ns.map(n => n -> seg(n, depth(n))).toMap
    }
    val short = shorten(names)
    val qsShort = names.map(n => s"\"${short(n)}\":${fmt(best(n))}")
      .mkString("{", ",", "}")
    val summary = Seq(
      s""""metric":"total"""",
      s""""unit":"sec"""",
      s""""sf":"$sfDir"""",
      s""""passes":$Passes""",
      s""""seed":$seed""",
      s""""queries":$qsShort""",
      s""""wall_sec":${fmt(wallSec)}""",
      s""""steal_sec":${fmt(stealSec)}""",
      s""""preflight_steal_rate":${fmt(preflightRate)}""",
      s""""dirty_queries":$dirty""",
      s""""failed_queries":$failed""",
      s""""contaminated":$contaminated""",
      s""""regressed_queries":${regressed.length}""",
      s""""regression_census_contended":$censusContended""",
      s""""volume_regressed":${volumeRegressed.length}""",
      s""""value":${fmt(total)}""").mkString("{", ",", "}")
    val full = Seq(
      s""""metric":"total"""",
      s""""value":${fmt(total)}""",
      s""""unit":"sec"""",
      s""""queries":$qs""",
      s""""wall_sec":${fmt(wallSec)}""",
      s""""steal_sec":${fmt(stealSec)}""",
      s""""preflight_steal_rate":${fmt(preflightRate)}""",
      s""""passes":$Passes""",
      s""""dirty_queries":$dirty""",
      s""""failed_queries":$failed""",
      s""""contaminated":$contaminated""",
      s""""regressed_queries":${regressed.length}""",
      s""""regression_census_contended":$censusContended""",
      s""""regressed":${regressed.map(n => s""""$n"""").mkString("[", ",", "]")}""",
      s""""volume_regressed":${volumeRegressed.length}""",
      s""""volume_regressed_queries":${volumeRegressed.map(n => s""""$n"""").mkString("[", ",", "]")}""",
      s""""seed":$seed""",
      s""""detail":$detail""",
      s""""sf":"$sfDir"""").mkString("{", ",", "}")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "BENCH_DETAIL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }
    // stop Spark BEFORE printing so no shutdown logging can land after the
    // JSON — the driver parses the final stdout line as the result object
    spark.stop()
    println(summary)
    Console.out.flush()
  }
}
