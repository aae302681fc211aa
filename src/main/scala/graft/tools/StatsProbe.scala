package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Scratch diagnostic: for each PLANAUDIT-tainted query, classify WHY its
  * shuffle/BNLJ estimates are censored — a stats-less leaf reporting
  * `spark.sql.defaultSizeInBytes`, or size propagation past the audit
  * ceiling (join-product blowup). Drives the CatalogStatistics work.
  */
object StatsProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = graft.HarnessCpus()
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q02_top_segment_nations", "q15_weighted_avg_delivery",
      "q124_sql_merge", "q64_dedup_clusters", "q87_change_data_feed")
    def allOps(p: SparkPlan): Seq[SparkPlan] =
      p.collectWithSubqueries { case n => n }.flatMap {
        case a: AdaptiveSparkPlanExec => allOps(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allOps(q.plan)
        case n => Seq(n)
      }
    for (name <- names) {
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val defaultSize = BigInt(spark
          .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .sessionState.conf.defaultSizeInBytes)
        val tree = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        val shuffles = allOps(tree).collect {
          case s: ShuffleExchangeExec => s.child
        }
        println(s"== $name: ${shuffles.length} shuffles")
        shuffles.zipWithIndex.foreach { case (c, i) =>
          val linked = (c +: c.collect { case n if n.logicalLink.isDefined => n })
            .find(_.logicalLink.isDefined).flatMap(_.logicalLink)
          linked match {
            case Some(lp) =>
              val st = lp.stats
              val leaves = lp.collectLeaves()
              val defLeaves = leaves.filter(_.stats.sizeInBytes == defaultSize)
              println(f"  shuffle#$i size=${st.sizeInBytes} " +
                s"rows=${st.rowCount} defaultLeaves=${defLeaves.size} " +
                s"leafKinds=${leaves.map(l => l.getClass.getSimpleName + ":" + l.stats.sizeInBytes).mkString(", ")}")
            case None => println(s"  shuffle#$i NO logicalLink")
          }
        }
      } catch { case e: Throwable =>
        println(s"== $name ERROR ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }
    spark.stop()
  }
}
