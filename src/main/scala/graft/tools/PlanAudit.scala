package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

/** Whole-surface plan-shape audit: for EVERY SparkEntry query, count the
  * physical plan's shuffle exchanges, broadcast exchanges, parquet scans,
  * and flag any CartesianProduct / BroadcastNestedLoopJoin — emitted as one
  * machine-readable JSON artifact (committed per round as
  * `PLANAUDIT_r{NN}.json`).
  *
  * This is the scale story in numbers instead of prose: a query whose
  * shuffle count silently grows, loses its broadcast, or picks up a
  * cartesian product is exactly the regression that stays invisible at
  * sf0.1 wall times but dominates at 100 TB. The ScaleSpec plan assertions
  * pin a handful of headline shapes; this audit covers the whole surface
  * every round.
  *
  * Top-level gates:
  *  - `cartesian_free`: CartesianProduct is never acceptable.
  *  - `bnlj_unexpected`: every BroadcastNestedLoopJoin must be one of the
  *    [[PlanAudit.BnljAllowlist]]ed broadcast-1-row/vocab-bounds sites
  *    (each individually reviewed: the broadcast side is a scalar bounds
  *    frame or vocab-sized model). A NEW or extra BNLJ anywhere — the
  *    accidental scale-killer this tool exists to catch — flips the gate
  *    even though it is not a cartesian product.
  *  - allowlisted BNLJs additionally record their broadcast side's
  *    estimated size (`bnlj_bcast_bytes`); a "bounded" side that starts
  *    estimating large shows up in the artifact diff.
  *
  * Shuffle VOLUME carries two tiers per query:
  *  - ESTIMATES (`shuffle_bytes`/`shuffle_rows`, from each exchange
  *    child's logical-plan stats) — predictive, available without
  *    running, but only as good as the stats: when any input to the
  *    estimate is a DEFAULT guess (a stats-less leaf reporting
  *    `spark.sql.defaultSizeInBytes`, or a join product past any
  *    physical plausibility), the "number" is garbage (r6 recorded
  *    1.1e54 "bytes" for q94). Such entries are emitted as JSON `null`
  *    and the query carries `unreliable_stats: true` — a censored
  *    census beats a wrong one.
  *  - MEASURED (`measured_shuffle_write_bytes`, merged from the bench's
  *    task-metric record when a BENCH_DETAIL file is present) — the
  *    canonical volume number; the same artifact then carries shape AND
  *    true volume, diffable across rounds.
  *
  * Usage: `runMain graft.tools.PlanAudit [outPath] [benchDetailPath]`
  * (defaults `PLANAUDIT.json`, `BENCH_DETAIL.json`); scale dir from
  * SPARK_GRAFT_SF_DIR (default sf0.01).
  */
object PlanAudit {

  /** The reviewed broadcast-1-row/vocab BNLJ sites (count per query).
    * q26/q81: bounded query-set broadcast (the ANN serving contract);
    * q47/q61/q71/q73: 1-row totals / bounds frames; q66: 1-row centroid
    * frame; q107: the 1-row corpus-stats frame (N/avgdl/df) Bm25
    * broadcasts; q108: that same Bm25 frame plus the fixed probe-set
    * broadcast of its dense arm (the q26 shape). Anything else is a
    * regression.
    */
  val BnljAllowlist: Map[String, Int] = Map(
    "q26_knn_brute" -> 1,
    "q47_tfidf_terms" -> 1,
    "q61_zipf_profile" -> 1,
    "q66_embedding_outliers" -> 1,
    "q71_bigram_fluency" -> 1,
    "q73_temperature_mixture" -> 1,
    "q81_pq_ann" -> 1,
    "q107_bm25_topk" -> 1,
    "q108_hybrid_rrf" -> 2,
    // q112 = q108 with the dense arm swapped to the partition-pruned
    // IVF probe (an equi hash join on cell, never a BNLJ) — only the
    // Bm25 arm's 1-row corpus-stats frame remains
    "q112_hybrid_rrf_ivf" -> 1)

  /** No plan at the audit scale factors legitimately estimates a
    * TEBIBYTE through one exchange (the measured ceiling across the
    * whole surface is ~35 MB) — anything past this is a stats
    * propagation artifact (default-leaf or join-product blowup), not a
    * measurement.
    */
  val EstimateCeiling: BigInt = BigInt(1) << 40

  final case class Shape(shuffles: Int, broadcasts: Int, scans: Int,
      cartesian: Boolean, bnlj: Int, bnljBcastBytes: Seq[Option[BigInt]],
      shuffleBytes: Seq[Option[BigInt]], shuffleRows: Seq[BigInt],
      unreliableStats: Boolean, err: Option[String])

  /** The pre-execution physical tree. AdaptiveSparkPlanExec is a LEAF
    * node (collect would find nothing under it) and its `inputPlan` is
    * pre-EnsureRequirements (no exchanges yet) — its `executedPlan`
    * accessor returns the current plan WITH exchanges without running
    * the query.
    */
  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  /** EVERY operator this query would actually RUN: the physical tree
    * plus subquery plans, with nested adaptive wrappers expanded.
    * Collecting over the TREE (not the rendered string) is what keeps an
    * already-MATERIALIZED cached relation's recorded build plan out of
    * the census — InMemoryTableScan is a leaf here, while toString
    * renders the whole cached subtree and would double-count its
    * exchanges/scans against a query that never re-runs them.
    */
  private def allOps(p: SparkPlan): Seq[SparkPlan] =
    p.collectWithSubqueries { case n => n }.flatMap {
      case a: AdaptiveSparkPlanExec => allOps(a.executedPlan)
      // a FINALIZED adaptive plan (a query executed inside its own
      // constructor, e.g. q122's scanned-file require) wraps each stage
      // in a QueryStageExec LEAF — without expanding `.plan`, every op
      // below an exchange is invisible and the query audits as 0/0/0
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allOps(q.plan)
      case n => Seq(n)
    }

  /** Estimated (bytes, rows) of a physical node from its logical link's
    * stats; rows is -1 when the estimate carries no rowCount. Wrapper
    * nodes the planner inserts (exchanges, reused subtrees) carry no
    * logicalLink of their own — descend to the first node that does.
    * bytes is None — a TAINTED estimate — when a default-stat input
    * poisons it: some leaf under the linked plan reports the
    * `spark.sql.defaultSizeInBytes` guess (it had no statistics at all),
    * or the propagated product is past [[EstimateCeiling]].
    */
  private def estimate(p: SparkPlan,
      defaultSize: BigInt): (Option[BigInt], BigInt) = {
    val linked = (p +: p.collect { case c if c.logicalLink.isDefined => c })
      .find(_.logicalLink.isDefined)
    linked.flatMap(_.logicalLink).map { lp =>
      val st = lp.stats
      val leafDefault = lp.collectLeaves()
        .exists(_.stats.sizeInBytes == defaultSize)
      val bytes =
        if (leafDefault || st.sizeInBytes >= EstimateCeiling) None
        else Some(st.sizeInBytes)
      (bytes, st.rowCount.getOrElse(BigInt(-1)))
    }.getOrElse((None, BigInt(-1)))
  }

  def shapeOf(df: DataFrame): Shape = {
    // Counts AND volume estimates both come from the operator tree
    // (subqueries included via allOps) — the rendered string would count
    // operators inside materialized cached relations' recorded build
    // plans, which this query never re-runs.
    val tree = physical(df)
    val ops = allOps(tree)
    val defaultSize =
      BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes)
    val shuffleEst = ops.collect {
      case s: ShuffleExchangeExec => estimate(s.child, defaultSize)
    }
    val bnljSides = ops.collect {
      case j: BroadcastNestedLoopJoinExec =>
        val side = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          case _ => j.right
        }
        estimate(side, defaultSize)._1
    }
    Shape(
      shuffles = shuffleEst.length,
      broadcasts = ops.count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange
          .BroadcastExchangeExec]),
      scans = ops.count(
        _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]),
      cartesian = ops.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins
          .CartesianProductExec]),
      bnlj = bnljSides.length,
      bnljBcastBytes = bnljSides,
      shuffleBytes = shuffleEst.map(_._1),
      shuffleRows = shuffleEst.map(_._2),
      unreliableStats = (shuffleEst.map(_._1) ++ bnljSides).contains(None),
      err = None)
  }

  /** Audit every query; failures are recorded per query, never fatal. */
  def audit(spark: SparkSession, dir: String,
      queries: Map[String, (SparkSession, String) => DataFrame])
      : Seq[(String, Shape)] =
    queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val shape =
        try shapeOf(fn(spark, dir))
        catch { case e: Throwable =>
          // getMessage is null for NPEs and many wrapped JVM errors — a
          // null here must record the query's failure, not kill the audit
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          Shape(-1, -1, -1, cartesian = false, bnlj = -1, Nil, Nil, Nil,
            unreliableStats = false,
            err = Some(msg.takeWhile(_ != '\n').take(200)))
        } finally spark.catalog.clearCache()
      name -> shape
    }

  /** True iff some query carries a BNLJ beyond its allowlisted count. */
  def bnljUnexpected(shapes: Seq[(String, Shape)]): Boolean =
    shapes.exists { case (n, s) =>
      s.bnlj > BnljAllowlist.getOrElse(n, 0)
    }

  /** Measured-truth censor (round 13): the absolute [[EstimateCeiling]]
    * misses join-product estimates that are physically implausible yet
    * numerically modest (q110's delete-mask join estimated ~26 GB where
    * the task metrics measured 1.5 MB — garbage-in, reported as if
    * real). With a measured record in hand there is a per-query truth
    * to censor against: any single exchange ESTIMATE more than 100×
    * the query's measured total shuffle-write bytes (floored at 1 MiB
    * so near-zero measurements don't null honest small estimates) is a
    * stats artifact — nulled, and the query marked
    * `unreliable_stats`. Volume regressions already compare measured
    * bytes only; this closes the reporting gap.
    */
  def censorAgainstMeasured(shapes: Seq[(String, Shape)],
      measured: Map[String, Long]): Seq[(String, Shape)] =
    shapes.map { case (n, s) =>
      measured.get(n).filter(_ >= 0) match {
        case Some(m) if s.err.isEmpty =>
          val bound = BigInt(math.max(m, 1L << 20)) * 100
          if (!s.shuffleBytes.exists(_.exists(_ > bound))) n -> s
          else n -> s.copy(
            shuffleBytes = s.shuffleBytes.map(_.filter(_ <= bound)),
            unreliableStats = true)
        case _ => n -> s
      }
    }

  /** Per-query measured shuffle-write bytes from a Bench detail record
    * (the task-metric truth the estimates are censored against). The
    * file is this repo's own format; absent file → empty map.
    */
  def measuredShuffleWrites(detailPath: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(detailPath)
    if (!java.nio.file.Files.exists(p)) return Map.empty
    val text = java.nio.file.Files.readString(p)
    val re = """"([A-Za-z0-9_]+)":\{"best":[^{}]*?"shuffle_write_bytes":(-?\d+)""".r
    re.findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val out = args.headOption.getOrElse("PLANAUDIT.json")
    val detailPath = args.drop(1).headOption.getOrElse("BENCH_DETAIL.json")
    val cpus = graft.HarnessCpus()
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
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

    // queries whose data-scale stage executes eagerly inside the query
    // constructor (q88's merge loop returns a driver-local frame) are
    // audited via their registered distributed-stage plan instead —
    // otherwise the gates would see an empty LocalTableScan and a real
    // regression in the corpus stage would be invisible
    val all =
      graft.SparkEntry.queries ++ graft.queries.NorthStarQueries.auditPlans
    // optional subset (args 3+): the scale-tier audits (e.g. sf1) census
    // a heavy subset instead of paying the whole 110+-query surface
    val subset = args.drop(2).toSet
    val selected =
      if (subset.isEmpty) all
      else {
        val unknown = subset -- all.keySet
        require(unknown.isEmpty, s"PlanAudit: unknown queries $unknown")
        all.view.filterKeys(subset).toMap
      }
    val measured = measuredShuffleWrites(detailPath)
    val shapes = censorAgainstMeasured(audit(spark, dir, selected), measured)

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    def jarr(xs: Seq[Option[BigInt]]): String =
      xs.map(_.map(_.toString).getOrElse("null")).mkString("[", ",", "]")
    def jarrB(xs: Seq[BigInt]): String = xs.mkString("[", ",", "]")
    val body = shapes.map { case (n, s) =>
      val errJson = s.err.map(jstr).getOrElse("null")
      val meas = measured.get(n).map(_.toString).getOrElse("null")
      s"${jstr(n)}:{\"shuffles\":${s.shuffles},\"broadcasts\":${s.broadcasts}," +
        s"\"scans\":${s.scans},\"cartesian\":${s.cartesian}," +
        s"\"bnlj\":${s.bnlj},\"bnlj_bcast_bytes\":${jarr(s.bnljBcastBytes)}," +
        s"\"shuffle_bytes\":${jarr(s.shuffleBytes)}," +
        s"\"shuffle_rows\":${jarrB(s.shuffleRows)}," +
        s"\"unreliable_stats\":${s.unreliableStats}," +
        s"\"measured_shuffle_write_bytes\":$meas,\"err\":$errJson}"
    }.mkString(",")
    val cartesianFree = shapes.forall(!_._2.cartesian)
    val unexpected = bnljUnexpected(shapes)
    val errCount = shapes.count(_._2.err.isDefined)
    val maxShuffles = shapes.map(_._2.shuffles).max
    val tainted = shapes.count(_._2.unreliableStats)
    val json = s"""{"sf":"$dir","cartesian_free":$cartesianFree,""" +
      s""""bnlj_unexpected":$unexpected,""" +
      s""""errors":$errCount,"max_shuffles":$maxShuffles,""" +
      s""""unreliable_stats_queries":$tainted,""" +
      s""""measured_from":${if (measured.isEmpty) "null"
        else jstr(detailPath)},"queries":{$body}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    println(json)
  }
}
