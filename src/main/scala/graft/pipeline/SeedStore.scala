package graft.pipeline

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.clean.Strings

/** The reference's five seed-store entities as [[EntityConfig]]s — the
  * parameter sets that collapse the 15 Bronze/Silver/DLQ notebooks into one
  * pipeline class.
  *
  * Each config cites the notebooks it replicates; the ordering constraint
  * (customers/addresses/items before orders before order_details, reference
  * readme.md:79,86) is encoded in [[runAll]].
  */
object SeedStore {

  /** Bronze-Ingestion-Customers.py + Silver-Validation-Customers.py +
    * Silver-DLQ-Customers.py.
    */
  // SHARED between validations and dlqValidations: the reference re-runs
  // the identical rule set in the DLQ notebook (Silver-DLQ-Customers.py:
  // 56-59) — two hand-maintained copies could silently diverge (a rule
  // edited in one list would bounce repaired rows forever, or promote
  // rows the silver gate rejects)
  private val customerRules = Seq(
    NumericRule("id"),
    AcceptedValuesRule("type", Seq("affiliate", "individual")),
    AcceptedValuesRule("status", Seq("regular", "VIP")),
    TimestampRule("created_on"))

  val customers: EntityConfig = EntityConfig(
    name = "customers",
    renames = Seq("CreatedOn" -> "created_on"),
    derivePartitions = df => df
      .withColumn("year", year(col("CreatedOn").try_cast("timestamp")))
      .withColumn("month", month(col("CreatedOn").try_cast("timestamp"))),
    partitionColumns = Seq("year", "month"),
    idColumns = Seq("id"),
    validations = customerRules,
    silverColumns = Seq("id", "type", "status", "created_on", "year", "month"),
    // Silver-Validation-Customers.py:24-32 declared schema
    silverCasts = Seq("id" -> "bigint", "created_on" -> "timestamp",
      "year" -> "int", "month" -> "int"),
    uncleanSnapshot = Seq("type", "status"),
    // V10 (Silver-DLQ-Customers.py:48-50): clean + lower type; clean status,
    // 3-letter values upper (VIP) else lower.
    repair = Some { df =>
      val cleanedType = Strings.cleanStringInDf(df, "type")
        .withColumn("type", lower(col("type")))
      Strings.cleanStringInDf(cleanedType, "status")
        .withColumn("status",
          when(length(col("status")) === 3, upper(col("status")))
            .otherwise(lower(col("status"))))
    },
    dlqValidations = customerRules,
    dlqUpdateKeys = Seq("id", "created_on", "window_id", "unclean_type", "unclean_status"))

  /** Bronze-Ingestion-Addresses.py + Silver-Validation-Addresses.py +
    * Silver-DLQ-Addresses.py. Bronze partitions on the cleaned city
    * (partition_city); silver on the validated city column.
    */
  val addresses: EntityConfig = EntityConfig(
    name = "addresses",
    renames = Seq("createdOn" -> "created_on", "addressline" -> "address_line"),
    derivePartitions = df =>
      df.withColumn("partition_city", Strings.cleanString(col("city"))),
    partitionColumns = Seq("partition_city"),
    idColumns = Seq("id"),
    preValidate = df => {
      val withState = Strings.cleanStringInDf(df, "state", Some("clean_state"))
      Strings.cleanStringInDf(withState, "address_line",
        Some("clean_address_line"), isAddress = true)
    },
    silverPartitionColumns = Some(Seq("city")),
    validations = Seq(
      TimestampRule("created_on"),
      CompareColumnRule("city", "partition_city"),
      CompareColumnRule("state", "clean_state"),
      AcceptedValuesRule("country", Seq("Us")),
      NumericRule("id"),
      CompareColumnRule("address_line", "clean_address_line")),
    silverColumns = Seq("created_on", "city", "state", "country", "id", "address_line"),
    // Silver-Validation-Addresses.py:37-45 declared schema
    silverCasts = Seq("created_on" -> "timestamp", "id" -> "bigint"),
    uncleanSnapshot = Seq("city", "state", "country", "address_line"),
    // V11 (Silver-DLQ-Addresses.py:47-50): adopt the cleaned columns.
    repair = Some { df =>
      Strings.cleanStringInDf(
        df.withColumn("city", col("partition_city"))
          .withColumn("state", col("clean_state")),
        "country")
        .withColumn("address_line", col("clean_address_line"))
    },
    // the reference DLQ notebook re-validates address_line too
    // (Silver-DLQ-Addresses.py:61) — the compare rule also rejects EMPTY
    // strings, so omitting it would promote a repaired row whose address
    // cleaned down to "" where the reference keeps it invalid
    dlqValidations = Seq(
      TimestampRule("created_on"),
      CompareColumnRule("city", "partition_city"),
      CompareColumnRule("state", "clean_state"),
      AcceptedValuesRule("country", Seq("Us")),
      NumericRule("id"),
      CompareColumnRule("address_line", "clean_address_line")),
    dlqUpdateKeys = Seq("id", "created_on", "window_id", "unclean_city",
      "unclean_state", "unclean_country", "unclean_address_line"))

  /** Bronze-Ingestion-Orders.py + Silver-Validation-Orders.py +
    * Silver-DLQ-Orders.py (revive-by-ingestion shape, no repair).
    */
  val orders: EntityConfig = EntityConfig(
    name = "orders",
    renames = Seq("customerId" -> "customer_id", "createdOn" -> "created_on",
      "addressId" -> "address_id", "deliveryDate" -> "delivery_date",
      "deliveredOn" -> "delivered_on"),
    derivePartitions = df => df
      .withColumn("year", year(col("createdOn").try_cast("timestamp")))
      .withColumn("month", month(col("createdOn").try_cast("timestamp"))),
    partitionColumns = Seq("year", "month"),
    idColumns = Seq("id"),
    validations = Seq(
      NumericRule("customer_id"),
      TimestampRule("created_on"),
      NumericRule("address_id"),
      TimestampRule("delivery_date"),
      TimestampRule("delivered_on"),
      NumericRule("id")),
    fkChecks = Seq(
      FkCheck("customer_id", "customers", "id"),
      FkCheck("address_id", "addresses", "id")),
    silverColumns = Seq("customer_id", "created_on", "address_id",
      "delivery_date", "delivered_on", "id", "year", "month"),
    // Silver-Validation-Orders.py:24-34 declared schema
    silverCasts = Seq("customer_id" -> "bigint", "created_on" -> "timestamp",
      "address_id" -> "bigint", "delivery_date" -> "date",
      "delivered_on" -> "date", "id" -> "bigint",
      "year" -> "int", "month" -> "int"),
    dlqUpdateKeys = Seq("customer_id", "created_on", "address_id",
      "delivery_date", "delivered_on", "id", "window_id"))

  /** Bronze-Ingestion-Items.py + Silver-Validation-Items.py +
    * Silver-DLQ-Items.py.
    */
  val items: EntityConfig = EntityConfig(
    name = "items",
    renames = Seq("Codes" -> "codes", "Descriptions" -> "descriptions"),
    idColumns = Seq("id"),
    validations = Seq(NumericRule("id"), NumericRule("price")),
    silverColumns = Seq("codes", "descriptions", "id", "price"),
    // Silver-Validation-Items.py:24-30 declared schema
    silverCasts = Seq("id" -> "int", "price" -> "float"),
    dlqUpdateKeys = Seq("codes", "descriptions", "id", "price", "window_id"))

  /** Bronze-Ingestion-OrderDetails.py + Silver-Validation-OrderDetails.py +
    * Silver-DLQ-Order-Details.py. Composite business key.
    */
  val orderDetails: EntityConfig = EntityConfig(
    name = "order_details",
    renames = Seq("OrderId" -> "order_id", "ItemId" -> "item_id",
      "Quantity" -> "quantity"),
    partitionColumns = Seq("ItemId"),
    silverPartitionColumns = Some(Seq("item_id")),
    idColumns = Seq("order_id", "item_id"),
    validations = Seq(
      NumericRule("order_id"), NumericRule("item_id"), NumericRule("quantity")),
    fkChecks = Seq(
      FkCheck("order_id", "orders", "id"),
      FkCheck("item_id", "items", "id")),
    silverColumns = Seq("order_id", "item_id", "quantity"),
    // Silver-Validation-OrderDetails.py:24-29 declared schema
    silverCasts = Seq("order_id" -> "bigint", "item_id" -> "bigint",
      "quantity" -> "bigint"),
    dlqUpdateKeys = Seq("order_id", "item_id", "quantity", "window_id"))

  val entities: Seq[EntityConfig] =
    Seq(customers, addresses, items, orders, orderDetails)

  /** Full medallion run in FK dependency order (reference readme.md:70-88):
    * the five bronze ingests at once → the silver+DLQ chains of the three
    * parents at once → silver+DLQ for orders → then order_details. Only
    * the foreign keys order the stages: an entity reads its own tables
    * and, at validation, its parents' silver.
    */
  def runAll(spark: SparkSession, warehouse: Warehouse,
      sources: Map[String, org.apache.spark.sql.DataFrame],
      clock: () => Column = () => current_timestamp()): Unit = {
    val pipelines = entities.map(c =>
      c.name -> new EntityPipeline(spark, warehouse, c, clock)).toMap
    def chain(n: String): () => Unit = () => {
      pipelines(n).validateSilver(); pipelines(n).cleanseDlq()
    }
    IndependentSteps.run(spark)(entities.map(c =>
      () => { pipelines(c.name).ingestBronze(sources(c.name)); () }): _*)
    IndependentSteps.run(spark)(
      chain("customers"), chain("addresses"), chain("items"))
    chain("orders")()
    chain("order_details")()
  }
}

/** Runs a fixed list of independent steps at once, one thread per step
  * (at most [[MaxSteps]], the medallion run's widest fan-out), and waits
  * for all of them. Steps must not read what another step writes. There
  * is no pool-size option: the step list is the bound.
  *
  * Every step runs to its end; then the first failed step in list order
  * rethrows, with the later failures suppressed on it. The threads are
  * joined before returning. Each starts outside any SQL execution: a
  * child thread inherits the caller's local properties, so a step
  * started from inside a SQL command would otherwise run its queries as
  * nested executions of that command.
  */
private[graft] object IndependentSteps {
  private val MaxSteps = 5

  def run(spark: SparkSession)(steps: (() => Unit)*): Unit = {
    require(steps.size <= MaxSteps,
      s"${steps.size} independent steps; at most $MaxSteps run at once")
    val sc = spark.sparkContext
    val failures = new Array[Throwable](steps.size)
    val threads = steps.zipWithIndex.map { case (step, i) =>
      val t = new Thread(() => {
        Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
          .foreach(sc.setLocalProperty(_, null))
        try step() catch { case e: Throwable => failures(i) = e }
      }, s"graft-step-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    failures.filter(_ != null).toList match {
      case first :: rest =>
        rest.foreach(first.addSuppressed)
        throw first
      case Nil => ()
    }
  }
}
