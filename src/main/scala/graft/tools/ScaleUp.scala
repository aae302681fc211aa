package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic next-tier generator (round-10 verdict task: "prove the next
  * 10×"): writes an sf1-equivalent dataset as N key-shifted copies of
  * sf0.1, preserving the star-schema FK relationships (every id-bearing
  * column in a copy shifts by the same stride, so joins land exactly as
  * the original's within each copy) while keeping the dimension tables
  * (region/nation) and literal probe rows (copy 0 is the identity)
  * untouched. NOT part of the surface and NOT an oracle tier — it exists
  * so PLAN SHAPES and wall-time curves can be measured one decade above
  * the bench tier (spill onset, AQE flips, IVM commit-cost growth).
  *
  * Two deliberate perturbations keep the copies statistically honest:
  * document text gets a per-copy suffix token (10 exact copies of every
  * document would otherwise hand the dedup queries a degenerate
  * 10-clique per doc — the opposite of how a real corpus grows), and
  * embeddings get a small deterministic per-copy offset (identical
  * vectors would tie every cosine rank).
  *
  * Usage: runMain graft.tools.ScaleUp [srcDir] [outDir] [copies]
  * (defaults /root/testdata/sf0.1 → data/sf1 × 10).
  */
object ScaleUp {

  /** Key stride between copies — far above any sf0.1 key (≤ ~6 M). */
  val Stride = 100000000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.drop(1).headOption.getOrElse("data/sf1")
    val copies = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val cpus = graft.HarnessCpus()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    /** The id columns that shift per copy, per table (FK-consistent). */
    val shifted: Map[String, Seq[String]] = Map(
      "customer" -> Seq("c_custkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))
    // dims ride along unscaled: a 10× fact table joins the SAME 25
    // nations, like a real warehouse decade
    val unscaled = Seq("region", "nation")

    def copyOf(name: String, df: DataFrame, i: Int): DataFrame = {
      val shift = i * Stride
      var d = shifted.getOrElse(name, Nil)
        .foldLeft(df)((acc, c) => acc.withColumn(c, col(c) + lit(shift)))
      if (i > 0 && name == "documents")
        d = d.withColumn("text", concat(col("text"), lit(s" c$i")))
          .withColumn("n_chars", length(col("text")).cast("long"))
      if (i > 0 && name == "embeddings") {
        // deterministic per-copy, per-dimension offset: the modular term
        // varies by dimension, the i-linear term guarantees DISTINCT
        // vectors for every copy pair (a %-only form has period 7 in i —
        // copies 1/8 and 2/9 of a 10-copy run would be bitwise twins)
        val off = (j: Column) =>
          ((lit(i * 31L) + j) % 7 - lit(3)).cast("float") * lit(1e-3f) +
            lit(i.toFloat * 1e-4f)
        d = d.withColumn("embedding",
          zip_with(col("embedding"),
            transform(col("embedding"), (_, j) => off(j)),
            (x, o) => x + o))
      }
      d
    }

    for (name <- shifted.keys.toSeq.sorted ++ unscaled) {
      val df = spark.read.parquet(s"$src/$name.parquet")
      val scaled =
        if (unscaled.contains(name)) df
        else (0 until copies).map(i => copyOf(name, df, i))
          .reduce(_ unionByName _)
      scaled.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name -> $out/$name.parquet")
    }
    spark.stop()
  }

  private type Column = org.apache.spark.sql.Column
}
