package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Scratch timer: run named SparkEntry queries N times each and print
  * per-run wall seconds (not part of the surface; Bench is the measured
  * contract). Mirrors the bench session conf (codegen cache size,
  * shuffle partitions, periodic GC) and samples /proc/stat steal around
  * each run so a contended window cannot masquerade as a regression —
  * prints best CLEAN run per query at the end.
  * Usage: runMain graft.tools.TimeQuery <sfDir> q50_ivf_probe ...
  */
object TimeQuery {
  private def steal(): Long =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).getOrElse("")
      val f = line.trim.split("\\s+")
      if (f.length > 8) f(8).toLong else 0L
    } catch { case _: Throwable => 0L }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val cpus = graft.HarnessCpus()
    val passes = sys.env.getOrElse("SPARK_GRAFT_TQ_PASSES", "3").toInt
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "45s")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // bench-session parity: cached plans coalesce their final stage
      // to advisory bytes (see Bench.scala)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val best = scala.collection.mutable.Map[String, Double]()
    val bestAny = scala.collection.mutable.Map[String, Double]()
    for (i <- 1 to passes; name <- names) {
      val s0 = steal()
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(name)(spark, dir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      val st = (steal() - s0) / 100.0
      println(f"[time] $name%-28s #$i $sec%.2f s (steal $st%.2f s, $rows rows)")
      if (st <= 0.5 && sec < best.getOrElse(name, Double.MaxValue))
        best(name) = sec
      if (sec < bestAny.getOrElse(name, Double.MaxValue)) bestAny(name) = sec
      spark.catalog.clearCache()
    }
    for (name <- names)
      println(f"[best] $name%-28s ${best.get(name).map(b => f"$b%.3f s clean").getOrElse(f"${bestAny.getOrElse(name, -1.0)}%.3f s CONTENDED")}")
    spark.stop()
  }
}
