package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-stage wall-time decomposition of q100's composed curation
  * pipeline (BASELINE.md budget row): gate (quality filter), dedup
  * (fingerprint window), split (hash projection), pack (grouped greedy
  * packing), rollup (the census aggregate). Each stage is timed as the
  * MARGINAL cost of materializing the pipeline cut at that stage
  * (cumulative count minus the previous cut, same plan prefixes Spark
  * would execute inside the composition), so future rounds can see
  * WHICH stage regressed instead of only q100's composite time.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain
  * graft.tools.CurationBudget"` — prints one JSON line.
  */
object CurationBudget {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = graft.HarnessCpus()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.northstar.{CorpusClean, Sampling, SeqPack}
    import graft.queries.NorthStarQueries.{PackBudget, PackBucket, SplitWeights}

    def docs = graft.io.Tables.read(spark, sfDir, "documents")
    def gated = CorpusClean.qualityFilter(docs, "text",
      CorpusClean.Config())
    def deduped = CorpusClean.clean(docs, "doc_id", "text")
    def split = deduped.withColumn("split",
      Sampling.splitLabel(Sampling.modKey(col("doc_id"), seed = 7L),
        SplitWeights))
    def packed = SeqPack.packGreedyGrouped(split, "doc_id", "text",
      budget = PackBudget, bucketSize = PackBucket, groupCol = "split")

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    // warm codegen/footers so stage deltas measure data, not startup
    docs.limit(1).count()
    // best-of-3 per cut, medians are host-noise-robust enough for a
    // budget row; each cut repeats the prior stages (the marginal cost
    // of a stage is cut(k) - cut(k-1))
    def best(body: => Unit): Double = (1 to 3).map(_ => time(body)).min
    val tGate = best(gated.count())
    val tDedup = best(deduped.count())
    val tSplit = best(split.count())
    val tPack = best(packed.toDF().count())
    val tAll = best(
      graft.SparkEntry.queries("q100_corpus_curation")(spark, sfDir)
        .collect())
    def fmt(d: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    spark.stop()
    println(s"""{"sf":"$sfDir","cuts_sec":{"gate":${fmt(tGate)},""" +
      s""""gate_dedup":${fmt(tDedup)},"gate_dedup_split":${fmt(tSplit)},""" +
      s""""gate_dedup_split_pack":${fmt(tPack)},""" +
      s""""q100_composite":${fmt(tAll)}},""" +
      s""""marginal_sec":{"gate":${fmt(tGate)},""" +
      s""""dedup":${fmt(math.max(0, tDedup - tGate))},""" +
      s""""split":${fmt(math.max(0, tSplit - tDedup))},""" +
      s""""pack":${fmt(math.max(0, tPack - tSplit))},""" +
      s""""rollup":${fmt(math.max(0, tAll - tPack))}}}""")
  }
}
