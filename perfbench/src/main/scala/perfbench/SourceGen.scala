package perfbench

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Deterministic seed-store sources built from the TPC-H-shaped test
  * tables vendored under `perfbench/tpch/sf*`:
  *
  *   customer → customers, customer + nation → addresses, part → items,
  *   orders → orders, lineitem → order_details.
  *
  * Every source column is a string, as in the reference's landing files, so
  * dirt can sit in any column. The seed decides which rows are dirty and how
  * (a row hash compared against fixed per-class rates); it never decides
  * what the clean warehouse holds. Dirt is added as extra rows with fresh
  * keys, and recoverable dirt is applied to base rows in a form the DLQ
  * repair restores exactly. So the silver and gold state of a batch is the
  * same for every seed and the result hashes are recorded once per scale
  * factor, while bronze, the DLQ and the repair path carry seed-dependent
  * work.
  *
  * Base duplicates are not injected: lineitem's repeating (orderkey,
  * partkey) pairs collide on order_details' business key and go to the
  * DLQ in every copy, which [[Expect]] counts as duplicates.
  */
object SourceGen {

  sealed abstract class Dirt(val name: String)
  case object Clean extends Dirt("clean")
  /** Dirt the DLQ repair undoes (customers and addresses only). */
  case object Recoverable extends Dirt("recoverable")
  /** A domain value no rule accepts, before or after repair. */
  case object Junk extends Dirt("junk")
  /** An id or date that does not cast. */
  case object Uncastable extends Dirt("uncastable")
  /** A foreign key with no parent. */
  case object Dangling extends Dirt("dangling")
  /** One of two identical rows with a fresh key. */
  case object Duplicate extends Dirt("duplicate")
  /** A base row whose business key repeats in the base data. */
  case object BaseDuplicate extends Dirt("base_duplicate")

  /** Share of base rows, in 1/10000, that spawn each dirt class. */
  private val Rates: Seq[(Dirt, Int)] = Seq(
    Recoverable -> 800, Junk -> 300, Uncastable -> 300, Dangling -> 300,
    Duplicate -> 200)
  private val Thresholds: Seq[(Dirt, Int)] =
    Rates.map(_._1).zip(Rates.map(_._2).scanLeft(0)(_ + _).tail)

  private val Cities = Vector("Phoenix", "Tucson", "Mesa", "Chandler",
    "Scottsdale", "Glendale", "Tempe", "Peoria", "Surprise", "Yuma",
    "Flagstaff", "Goodyear", "Buckeye", "Avondale", "Sedona", "Prescott",
    "Kingman", "Casa Grande", "Maricopa", "Gilbert", "Queen Creek",
    "Bullhead City", "Lake Havasu City", "Sierra Vista", "Oro Valley")
  private val States = Vector("Arizona", "Nevada", "Utah", "New Mexico",
    "Colorado")
  private val Streets = Vector("Main St", "Oak Ave", "Pine Rd", "Elm St",
    "Cedar Ln", "Maple Dr", "Palm Blvd", "Mesquite Way", "Saguaro Trl")

  /** Fresh-key offset of the extra rows: far above every base key. */
  private val ExtraKeyBase = 1000000000L

  val Names: Seq[String] = Seq("customers", "addresses", "items", "orders", "order_details")

  private type Rows = Seq[(Seq[String], Dirt)]

  final case class Entity(name: String, columns: Seq[String], rows: Rows)

  /** What the pipeline must leave behind for one entity. */
  final case class Expect(rowsIn: Long, silver: Long, dlqInvalid: Long,
      recovered: Long, byDirt: Map[String, Long])

  final case class Batch(entities: Seq[Entity]) {
    def sourceFrames(spark: SparkSession): Map[String, DataFrame] =
      entities.map { e =>
        val schema = StructType(e.columns.map(StructField(_, StringType)))
        val rows = e.rows.map { case (v, _) => Row.fromSeq(v) }
        e.name -> spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema)
      }.toMap

    /** Silver and DLQ row counts the batch leaves in a fresh warehouse:
      * every clean or recovered base row reaches silver, every other row
      * stays invalid in the DLQ.
      */
    def expect: Map[String, Expect] = entities.map { e =>
      val byDirt = e.rows.groupBy(_._2.name).map { case (k, v) => k -> v.size.toLong }
      def n(d: Dirt) = byDirt.getOrElse(d.name, 0L)
      e.name -> Expect(
        rowsIn = e.rows.size.toLong,
        silver = n(Clean) + n(Recoverable),
        dlqInvalid = e.rows.size - n(Clean) - n(Recoverable),
        recovered = n(Recoverable),
        byDirt = byDirt)
    }.toMap

    /** Bytes of the batch as delimited text. */
    def bytes: Long = entities.map(_.rows.map { case (v, _) =>
      v.map(_.getBytes("UTF-8").length + 1).sum.toLong }.sum).sum
  }

  /** The test tables of one scale factor, each collected to the driver on
    * first use; parts, and the line items of parts, from key `maxPart` on
    * are left out. With `holdEvery = n > 0`, every order whose key is a
    * multiple of `n` is held out of batch 1 for [[batch2]], and its line
    * items are left out of both batches (order_details has no batch 2).
    */
  final class Base(spark: SparkSession, dir: String, maxPart: Long = Long.MaxValue,
      holdEvery: Int = 0) {
    private def held(orderkey: Long) = holdEvery > 0 && orderkey % holdEvery == 0
    private def t(n: String) = spark.read.parquet(s"$dir/$n.parquet")
    lazy val customers: IndexedSeq[(Long, Int, Double, String)] =
      t("customer").select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getString(3)))
        .sortBy(_._1).toIndexedSeq
    lazy val nationRegion: Map[Int, Int] =
      t("nation").select("n_nationkey", "n_regionkey").collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
    lazy val parts: IndexedSeq[(Long, String, String, Double)] =
      t("part").select("p_partkey", "p_name", "p_brand", "p_retailprice")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3)))
        .filter(_._1 < maxPart).sortBy(_._1).toIndexedSeq
    lazy val orders: IndexedSeq[(Long, Long, LocalDateTime)] = allOrders.filterNot(o => held(o._1))
    lazy val heldOrders: IndexedSeq[(Long, Long, LocalDateTime)] = allOrders.filter(o => held(o._1))
    private lazy val allOrders: IndexedSeq[(Long, Long, LocalDateTime)] =
      t("orders").select("o_orderkey", "o_custkey", "o_orderdate").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.get(2) match {
          case ts: java.sql.Timestamp => ts.toLocalDateTime
          case ntz: LocalDateTime => ntz // TIMESTAMP_NTZ files
        }))
        .sortBy(_._1).toIndexedSeq
    lazy val lineitems: IndexedSeq[(Long, Long, Long)] =
      t("lineitem").select("l_orderkey", "l_partkey", "l_quantity").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2).toLong))
        .filter(l => l._2 < maxPart && !held(l._1)).sortBy(r => (r._1, r._2, r._3))
        .toIndexedSeq
  }

  private val Ts = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val TsMicros = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  private def customerCreated(custkey: Long): String =
    LocalDateTime.of(2019, 1, 1, 0, 0).plusDays(custkey * 37 % 1460)
      .plusSeconds(custkey * 7919 % 86400).format(Ts)

  /** The named entities of one batch. `withDirt = false` gives the clean
    * rows only: the silver a medallion run of any seed leaves.
    */
  def generate(base: Base, seed: Long, names: Seq[String] = Names,
      withDirt: Boolean = true): Batch = {
    val g = new Generator(base, seed, withDirt)
    Batch(names.map {
      case "customers" => g.customers
      case "addresses" => g.addresses
      case "items" => g.items
      case "orders" => g.orders
      case "order_details" => g.orderDetails
    })
  }

  /** Batch 2, orders only: the full re-read of batch 1's orders source
    * plus the held-out orders and their dirt. Its [[Batch.expect]] is the
    * orders state after both batches.
    */
  def batch2(base: Base, seed: Long): Batch =
    Batch(Seq(new Generator(base, seed, withDirt = true)
      .ordersOf(base.orders ++ base.heldOrders)))

  private final class Generator(base: Base, seed: Long, withDirt: Boolean) {

    /** Dirt class of one base row: a hash of (seed, entity, key) against
      * the cumulative rates. Classes an entity cannot carry fall back to
      * clean.
      */
    private def dirtOf(entity: String, key: String, allowed: Set[Dirt]): Dirt =
      if (!withDirt) Clean
      else {
        val bucket = (MurmurHash3.stringHash(s"$seed|$entity|$key") & 0x7fffffff) % 10000
        Thresholds.collectFirst { case (d, upTo) if bucket < upTo => d }
          .filter(allowed.contains).getOrElse(Clean)
      }

    /** A second hash for choosing among the variants of one dirt class. */
    private def variant(entity: String, key: String, n: Int): Int =
      (MurmurHash3.stringHash(s"$key|$entity|$seed") & 0x7fffffff) % n

    private def twice(r: Seq[String]): Rows = Seq((r, Duplicate), (r, Duplicate))

    def customers: Entity = Entity("customers", Seq("id", "type", "status", "CreatedOn"),
      base.customers.flatMap { case (k, _, bal, seg) =>
        val tpe = if (seg == "AUTOMOBILE" || seg == "MACHINERY") "affiliate" else "individual"
        val status = if (bal > 7000) "VIP" else "regular"
        val created = customerCreated(k)
        val key = k.toString
        val fresh = (ExtraKeyBase + k).toString
        dirtOf("customers", key, Set(Recoverable, Junk, Uncastable, Duplicate)) match {
          case Recoverable =>
            val (t, s) = variant("customers", key, 3) match {
              case 0 => (s" ${tpe.capitalize}!! ", status)
              case 1 => (tpe.toUpperCase, status.toLowerCase + "#")
              case _ => (tpe, if (status == "VIP") "vip" else "Regular\t")
            }
            Seq((Seq(key, t, s, created), Recoverable))
          case d =>
            (Seq(key, tpe, status, created), Clean) +: (d match {
              case Junk =>
                val (t, s) = if (variant("customers", key, 2) == 0) ("reseller", status)
                  else (tpe, "gold")
                Seq((Seq(fresh, t, s, created), Junk))
              case Uncastable => Seq((
                if (variant("customers", key, 2) == 0) Seq(s"C-$k", tpe, status, created)
                else Seq(fresh, tpe, status, "not-a-date"), Uncastable))
              case Duplicate => twice(Seq(fresh, tpe, status, created))
              case _ => Nil
            })
        }
      })

    /** One address per customer, its city from the customer's nation. */
    def addresses: Entity = Entity("addresses",
      Seq("createdOn", "city", "state", "country", "id", "addressline"),
      base.customers.flatMap { case (k, nation, _, _) =>
        val city = Cities(nation % Cities.size)
        val state = States(base.nationRegion(nation) % States.size)
        val line = s"${100 + k * 13 % 9000} ${Streets((k % Streets.size).toInt)}"
        val created = customerCreated(k)
        val key = k.toString
        val fresh = (ExtraKeyBase + k).toString
        dirtOf("addresses", key, Set(Recoverable, Junk, Uncastable, Duplicate)) match {
          case Recoverable => Seq((variant("addresses", key, 4) match {
            case 0 => Seq(created, city.toLowerCase + "!!", state, "Us", key, line)
            case 1 => Seq(created, city, state.toUpperCase, "Us", key, line)
            case 2 => Seq(created, city, state, "US", key, line)
            case _ => Seq(created, city, state, "Us", key, line.toLowerCase + ".")
          }, Recoverable))
          case d =>
            (Seq(created, city, state, "Us", key, line), Clean) +: (d match {
              case Junk => Seq((Seq(created, city, state, "Mexico", fresh, line), Junk))
              case Uncastable => Seq((
                if (variant("addresses", key, 2) == 0)
                  Seq("unknown", city, state, "Us", fresh, line)
                else Seq(created, city, state, "Us", s"A-$k", line), Uncastable))
              case Duplicate => twice(Seq(created, city, state, "Us", fresh, line))
              case _ => Nil
            })
        }
      })

    def items: Entity = Entity("items", Seq("Codes", "Descriptions", "id", "price"),
      base.parts.flatMap { case (k, name, brand, price) =>
        val key = k.toString
        val p = "%.2f".formatLocal(java.util.Locale.ROOT, price)
        val fresh = (ExtraKeyBase + k).toString
        (Seq(brand, name, key, p), Clean) +:
          (dirtOf("items", key, Set(Uncastable, Duplicate)) match {
            case Uncastable => Seq((
              if (variant("items", key, 2) == 0) Seq(brand, name, fresh, "free")
              else Seq(brand, name, s"P-$k", p), Uncastable))
            case Duplicate => twice(Seq(brand, name, fresh, p))
            case _ => Nil
          })
      })

    /** `createdOn` is offset by the order id in microseconds, so the latest
      * order per customer is strict: `GoldBuilds`' rank-based
      * customer-status invariant breaks on ties.
      */
    def orders: Entity = ordersOf(base.orders)

    def ordersOf(rows: Seq[(Long, Long, LocalDateTime)]): Entity = Entity("orders",
      Seq("customerId", "createdOn", "addressId", "deliveryDate", "deliveredOn", "id"),
      rows.flatMap { case (k, cust, date) =>
        val created = date.plusNanos(k * 1000).format(TsMicros)
        val day = date.toLocalDate
        val due = day.plusDays(1 + k % 5).toString
        val delivered = day.plusDays(k % 13).toString
        val key = k.toString
        val c = cust.toString
        val fresh = (ExtraKeyBase + k).toString
        val nowhere = (ExtraKeyBase * 2 + cust).toString
        (Seq(c, created, c, due, delivered, key), Clean) +:
          (dirtOf("orders", key, Set(Uncastable, Dangling, Duplicate)) match {
            case Uncastable => Seq((variant("orders", key, 3) match {
              case 0 => Seq(c, "bad-date", c, due, delivered, fresh)
              case 1 => Seq(c, created, c, "soon", delivered, fresh)
              case _ => Seq(c, created, c, due, delivered, s"O-$k")
            }, Uncastable))
            case Dangling => Seq((
              if (variant("orders", key, 2) == 0) Seq(nowhere, created, c, due, delivered, fresh)
              else Seq(c, created, nowhere, due, delivered, fresh), Dangling))
            case Duplicate => twice(Seq(c, created, c, due, delivered, fresh))
            case _ => Nil
          })
      })

    /** Extras keep a real item id (order_details partitions by item, so a
      * fresh item would add a partition) and take a fresh order id, so no
      * extra shares a business key with a base row.
      */
    def orderDetails: Entity = {
      val pairs = base.lineitems.groupBy(l => (l._1, l._2)).map { case (p, ls) => p -> ls.size }
      Entity("order_details", Seq("OrderId", "ItemId", "Quantity"),
        base.lineitems.zipWithIndex.flatMap { case ((o, p, q), i) =>
          val fresh = (ExtraKeyBase + i).toString
          (Seq(o.toString, p.toString, q.toString),
            if (pairs((o, p)) > 1) BaseDuplicate else Clean) +:
            (dirtOf("order_details", s"$o/$p/$i", Set(Uncastable, Dangling, Duplicate)) match {
              case Uncastable => Seq((Seq(s"OD-$i", p.toString, q.toString), Uncastable))
              case Dangling => Seq((Seq(fresh, p.toString, q.toString), Dangling))
              case Duplicate => twice(Seq(fresh, p.toString, q.toString))
              case _ => Nil
            })
        })
    }
  }
}
