package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Dev helper: dump one query's result parquet + its oracle SQL so the
  * driver-side DuckDB compare can be rehearsed locally before a round's
  * official Verify run. Usage:
  * runMain graft.tools.DumpQuery <sfDir> <outDir> <name> [name...]
  */
object DumpQuery {
  def main(args: Array[String]): Unit = {
    val (dir, outDir, names) = (args(0), args(1), args.drop(2).toSeq)
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
    for (name <- names) {
      SparkEntry.queries(name)(spark, dir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      SparkEntry.oracleSql.get(name).foreach(sql =>
        Files.writeString(Paths.get(s"$outDir/$name.sql"), sql))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
