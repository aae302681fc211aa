package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.gold.Dashboard
import graft.pipeline.{EntityConfig, SeedStore, Warehouse}

/** The 8 dashboard queries in their two client forms, the canonical result
  * hash, and the direct silver load the serving workloads start from.
  */
object Dash {

  /** Parameters dense in every generated batch. */
  val Year = 1997
  val Week = 10
  val City = "Phoenix"

  val Names: IndexedSeq[String] = IndexedSeq("d1", "d2", "d3", "d4", "d5", "d6", "d7", "d8")

  /** Gold table each query reads first (what `io.read_plan_ms` re-plans). */
  val GoldOf: Map[String, String] = Map(
    "d1" -> "customer_status_by_city", "d2" -> "customer_breakdown",
    "d3" -> "customer_breakdown", "d4" -> "orders_by_customer_week",
    "d5" -> "orders_by_customer_week", "d6" -> "orders_by_city_year_month",
    "d7" -> "orders_by_city_year_month", "d8" -> "orders_type_delivery_time")

  def api(d: Dashboard, name: String): DataFrame = name match {
    case "d1" => d.topVipCities
    case "d2" => d.totalCustomers
    case "d3" => d.customerBreakdownShare
    case "d4" => d.ordersInWeek(Year, Week)
    case "d5" => d.lowVolumeAffiliates(Year, Week)
    case "d6" => d.cityDeliveryProfile(City)
    case "d7" => d.cityAverages(byYear = true)
    case "d8" => d.lateOrderShare()
  }

  /** The same queries as SQL text over the registered gold tables, as the
    * reference's SQL dashboard issues them.
    */
  val Sql: Map[String, String] = Map(
    "d1" -> """SELECT * FROM gold_customer_status_by_city WHERE status = 'VIP'
              |ORDER BY customer_count DESC, city LIMIT 5""".stripMargin,
    "d2" -> "SELECT sum(customer_count) AS total_customers FROM gold_customer_breakdown",
    "d3" -> """SELECT type, status, customer_count,
              |  round(customer_count / sum(customer_count) OVER (PARTITION BY type) * 100, 2)
              |    AS relative_frequency_by_type_status
              |FROM gold_customer_breakdown""".stripMargin,
    "d4" -> s"SELECT * FROM gold_orders_by_customer_week WHERE year = $Year AND week = $Week",
    "d5" -> s"""SELECT * FROM gold_orders_by_customer_week WHERE year = $Year AND week = $Week
               |AND order_count < 5 AND customer_type = 'affiliate'""".stripMargin,
    "d6" -> s"""SELECT avg(order_count) AS avg_orders_month,
               |  sum(avg_delivery_time * order_count) / sum(order_count) AS average_delivery_time
               |FROM gold_orders_by_city_year_month WHERE city = '$City'""".stripMargin,
    "d7" -> """SELECT city, year, round(avg(order_count), 2) AS avg_order_count,
              |  round(avg(avg_delivery_time), 2) AS avg_delivery_time
              |FROM gold_orders_by_city_year_month GROUP BY city, year
              |ORDER BY city, year""".stripMargin,
    "d8" -> """WITH total AS (
              |  SELECT type, sum(order_count) AS total_orders
              |  FROM gold_orders_type_delivery_time GROUP BY type),
              |late AS (
              |  SELECT type, sum(order_count) AS late_orders
              |  FROM gold_orders_type_delivery_time WHERE delivery_time > 7 GROUP BY type)
              |SELECT total.type AS order_type, total_orders, late_orders,
              |  late_orders / total_orders AS late_share
              |FROM total JOIN late ON total.type = late.type""".stripMargin)

  /** Runs a query to completion with its columns in canonical (sorted)
    * order, the form [[hash]] reads.
    */
  def collectSorted(df: DataFrame): (Seq[String], Array[Row]) = {
    val cols = df.columns.sorted.toSeq
    (cols, df.select(cols.map(c => col(s"`$c`")): _*).collect())
  }

  /** `graft.tools.VerifyDashboardIvm.canonicalHash`'s canonical form, over
    * rows already collected in sorted-column order: rows rendered with
    * explicit field delimiters, sorted, MD5 over the column list and rows.
    */
  def hash(cols: Seq[String], rows: Array[Row]): String = {
    val rendered = rows.map(_.toSeq.map {
      case null => "\u0000"
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case d: java.lang.Double => d.toString
      case x => x.toString
    }.mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("MD5")
    md.update(cols.mkString("|").getBytes("UTF-8"))
    rendered.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def hashOf(df: DataFrame): String = {
    val (cols, rows) = collectSorted(df)
    hash(cols, rows)
  }

  /** Loads silver for a dirt-free batch's entities straight from it, with the
    * projection and declared casts the pipeline's promotion applies — the
    * state a clean medallion run leaves. Checked against the silver hashes
    * the pipeline path recorded.
    */
  def loadSilver(spark: SparkSession, wh: Warehouse, clean: SourceGen.Batch,
      ingestedAt: Column): Unit = {
    val frames = clean.sourceFrames(spark)
    clean.entities.map(_.name).foreach { n =>
      val cfg: EntityConfig = SeedStore.entities.find(_.name == n).get
      val renamed = cfg.renames.foldLeft(cfg.derivePartitions(frames(n))) {
        case (d, (from, to)) => d.withColumnRenamed(from, to)
      }
      val casts = cfg.silverCasts.toMap
      val silver = renamed.select(cfg.silverColumns.map(c =>
        casts.get(c).fold(col(c))(t => col(c).cast(t)).as(c)): _*)
        .withColumn("silver_ingestion_time", ingestedAt)
      wh.silver(cfg).overwrite(silver)
    }
  }
}
