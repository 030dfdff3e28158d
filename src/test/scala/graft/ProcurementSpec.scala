package graft

import java.sql.Date
import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Procurement

/** Edge-case fixtures from FIXTURES.md §A over the reference-native
  * procurement schemas: every branch of the MRP expression, the rank-1
  * supplier selection, the anti-join quality checks, and the export
  * nesting (reference: docker/dags/sql/net_demand.sql:4-87,
  * docker/dags/procurement_dag.py:86-194).
  */
class ProcurementSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val d: LocalDate = LocalDate.parse("2026-01-13")
  val sd: Date = Date.valueOf(d)

  def bd(s: String): BigDecimal = BigDecimal(s)

  // products: 1 normal, 2 no-orders, 3 no-snapshot, 4 inactive,
  // 5 overstocked, 6 inactive-supplier, 7 unmapped
  lazy val products: DataFrame = Seq(
    (1, "widget", 20, true), (2, "gadget", 30, true), (3, "gizmo", 10, true),
    (4, "dead", 10, false), (5, "pile", 50, true), (6, "orphan", 15, true),
    (7, "lost", 5, true)
  ).toDF("product_id", "product_name", "safety_stock_level", "is_active")

  lazy val suppliers: DataFrame = Seq(
    (10, "Acme", true), (11, "Bolt", true), (12, "Gone", false)
  ).toDF("supplier_id", "supplier_name", "is_active")

  lazy val productSuppliers: DataFrame = Seq(
    (1, 10, bd("5.00"), 1), (1, 11, bd("4.00"), 1),
    (2, 10, bd("7.50"), 2), (2, 11, bd("6.00"), 1),
    (3, 10, bd("2.00"), 1), (4, 10, bd("1.00"), 1),
    (5, 10, bd("3.00"), 1), (6, 12, bd("9.99"), 1)
  ).toDF("product_id", "supplier_id", "unit_cost", "priority")

  // order_id 2 duplicated (FIXTURES edge 8)
  lazy val orders: DataFrame = Seq(
    (1L, 1, 10, "PENDING", sd), (2L, 1, 5, "CONFIRMED", sd),
    (2L, 1, 5, "CONFIRMED", sd), (3L, 3, 7, "SHIPPED", sd),
    (4L, 5, 2, "PENDING", sd), (5L, 7, 4, "PENDING", sd),
    (6L, 6, 1, "PENDING", sd)
  ).toDF("order_id", "product_id", "quantity", "status", "order_date")

  // p1 multi-warehouse; p3 missing (snapshot fallback); p2 rich; p5 overstock
  lazy val inventory: DataFrame = Seq(
    (1, 5, 2, 25, 1, sd), (1, 3, 1, 15, 2, sd),
    (2, 100, 0, 40, 1, sd), (5, 500, 10, 5, 1, sd), (6, 0, 0, 5, 1, sd)
  ).toDF("product_id", "available_qty", "reserved_qty", "safety_stock",
    "warehouse_id", "snapshot_date")

  lazy val netDemand: Array[org.apache.spark.sql.Row] =
    Procurement.netDemand(orders, inventory, products, suppliers,
      productSuppliers, d).collect()

  test("A1 aggregate orders: SUM includes dup rows, COUNT DISTINCT does not") {
    val rows = Procurement.aggregateOrders(orders, d)
      .collect().map(r => r.getInt(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(rows(1) == ((20, 2)))  // 10+5+5 qty, orders {1,2}
    assert(rows(3) == ((7, 1)))
  }

  test("A2 inventory rollup: SUM/SUM/MAX across warehouses") {
    val r = Procurement.aggregatedInventory(inventory, d)
      .filter($"product_id" === 1).collect().head
    assert(r.getAs[Long]("available_qty") == 8)
    assert(r.getAs[Long]("reserved_qty") == 3)
    assert(r.getAs[Int]("safety_stock") == 25)
  }

  test("W1 rank-1 supplier: unit_cost breaks priority ties, priority first") {
    val rank1 = Procurement.rankedSuppliers(productSuppliers)
      .filter($"supplier_rank" === 1)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(rank1(1) == 11) // same priority, cheaper wins
    assert(rank1(2) == 11) // lower priority number wins over cheaper
  }

  test("MRP: full formula with snapshot safety stock (p1)") {
    val r = netDemand.find(_.getAs[Int]("product_id") == 1).get
    // 20 ordered + 25 safety − (8 − 3) = 40, supplier 11 @ 4.00
    assert(r.getAs[Long]("net_demand") == 40)
    assert(r.getAs[Int]("supplier_id") == 11)
    assert(r.getAs[java.math.BigDecimal]("estimated_cost")
      .compareTo(new java.math.BigDecimal("160.00")) == 0)
  }

  test("MRP: missing snapshot falls back to master safety_stock_level (p3)") {
    val r = netDemand.find(_.getAs[Int]("product_id") == 3).get
    assert(r.getAs[Long]("net_demand") == 17) // 7 + 10 − 0
  }

  test("MRP: overstocked clamps to 0 and is dropped (p5); no-orders product " +
    "with surplus dropped (p2)") {
    assert(!netDemand.exists(_.getAs[Int]("product_id") == 5))
    assert(!netDemand.exists(_.getAs[Int]("product_id") == 2))
  }

  test("inactive product (p4) and inactive supplier (p6) are excluded") {
    assert(!netDemand.exists(_.getAs[Int]("product_id") == 4))
    assert(!netDemand.exists(_.getAs[Int]("product_id") == 6))
  }

  test("presentation order: supplier_id asc") {
    assert(netDemand.map(_.getAs[Int]("supplier_id")).toSeq == Seq(10, 11))
  }

  test("Q1 missing supplier mapping finds only unmapped ordered product (p7)") {
    val rows = Procurement.missingSupplierMapping(orders, productSuppliers, d)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows == Map(7 -> 1L))
  }

  test("Q2 missing inventory finds products ordered without snapshot (p3, p7)") {
    val ids = Procurement.missingInventory(orders, inventory, d)
      .collect().map(_.getInt(0)).toSet
    assert(ids == Set(3, 7))
  }

  test("Q3 exceptions union carries type + severity") {
    val rows = Procurement.exceptions(orders, inventory, productSuppliers, d)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(rows == Set(
      ("MISSING_SUPPLIER_MAPPING", "HIGH", 7),
      ("MISSING_INVENTORY", "MEDIUM", 3),
      ("MISSING_INVENTORY", "MEDIUM", 7)))
  }

  /** Q1 ∪ Q2 as the reference states them: two anti-joins, tagged. */
  private def taggedUnion(o: DataFrame, inv: DataFrame, ps: DataFrame,
                          day: LocalDate): Set[(String, String, Any)] =
    (Procurement.missingSupplierMapping(o, ps, day).collect()
      .map(r => ("MISSING_SUPPLIER_MAPPING", "HIGH", r.get(0))) ++
      Procurement.missingInventory(o, inv, day).collect()
        .map(r => ("MISSING_INVENTORY", "MEDIUM", r.get(0)))).toSet

  private def exceptionSet(df: DataFrame): Set[(String, String, Any)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.get(2))).toSet

  test("Q3 exceptions: both overloads equal the tagged union of Q1 and Q2, " +
    "product_id keeps the orders' type, ids of mixed integer types") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.LongType
    val sdLit = org.apache.spark.sql.functions.lit(sd)
    val longOrders = orders.withColumn("product_id",
      col("product_id").cast(LongType))
    val longPs = productSuppliers.withColumn("product_id",
      col("product_id").cast(LongType))
    // (orders, product_suppliers): the fixture (p7 misses both checks, p3
    // only inventory), then the two ways the id types can differ
    for ((o, ps) <- Seq((orders, productSuppliers), (orders, longPs),
                        (longOrders, productSuppliers))) {
      val want = taggedUnion(o, inventory, ps, d)
      assert(want.size == 3)
      val byDay = Procurement.exceptions(o, inventory, ps, d)
      val byWhen = Procurement.exceptions(o, inventory, ps,
        col("order_date") === sdLit, col("snapshot_date") === sdLit)
      assert(exceptionSet(byDay) == want)
      assert(exceptionSet(byWhen) == want)
      for (df <- Seq(byDay, byWhen))
        assert(df.schema("product_id").dataType ==
          o.schema("product_id").dataType)
    }
  }

  test("Q3 exceptions: the day's set is sorted mapping rows first, then " +
    "by product_id, and the log keeps that order") {
    val exc = Procurement.exceptions(orders, inventory, productSuppliers, d)
    assert(exc.collect().map(r => (r.getString(0), r.getInt(2))).toSeq == Seq(
      ("MISSING_SUPPLIER_MAPPING", 7), ("MISSING_INVENTORY", 3),
      ("MISSING_INVENTORY", 7)))
    val dir = java.nio.file.Files.createTempDirectory("graft-exclog")
    val log = java.nio.file.Files.readString(java.nio.file.Paths.get(
      graft.sources.Sinks.writeExceptionLog(exc, d.toString, dir.toString)))
    assert(log.contains("\"exception_count\": 3"))
    assert(log.contains("\"exceptions\": [" +
      "{\"type\": \"MISSING_SUPPLIER_MAPPING\", \"severity\": \"HIGH\", " +
      "\"product_id\": 7}, " +
      "{\"type\": \"MISSING_INVENTORY\", \"severity\": \"MEDIUM\", " +
      "\"product_id\": 3}, " +
      "{\"type\": \"MISSING_INVENTORY\", \"severity\": \"MEDIUM\", " +
      "\"product_id\": 7}]"))
  }

  test("Q3 exceptions: a day with no orders has none, and runDay writes " +
    "no exception log") {
    import org.apache.spark.sql.functions.{col, lit}
    val empty = d.plusDays(3)
    val el = lit(Date.valueOf(empty))
    assert(taggedUnion(orders, inventory, productSuppliers, empty).isEmpty)
    val byDay = Procurement.exceptions(orders, inventory, productSuppliers,
      empty)
    assert(byDay.count() == 0)
    assert(exceptionSet(Procurement.exceptions(orders, inventory,
      productSuppliers, col("order_date") === el,
      col("snapshot_date") === el)).isEmpty)
    val tmp = java.nio.file.Files.createTempDirectory("graft-noorders")
    val r = graft.Pipeline.runDay(spark, orders, inventory, products,
      suppliers, productSuppliers, graft.Pipeline.Config(
        warehouseDir = s"$tmp/warehouse", outputDir = s"$tmp/output",
        logsDir = s"$tmp/logs", dataDate = empty,
        generatedAt = s"${empty.plusDays(1)}T00:00:00"))
    assert(r.exceptionCount == 0)
    assert(r.exceptionLogPath.isEmpty)
    assert(!java.nio.file.Files.exists(tmp.resolve("logs")))
  }

  test("A6 export: one doc per supplier, items nested, totals = sum of items") {
    val docs = Procurement.supplierOrders(
      Procurement.netDemand(orders, inventory, products, suppliers,
        productSuppliers, d),
      d, d.plusDays(1), "2026-01-14T00:00:00").collect()
    assert(docs.length == 2)
    val doc11 = docs.find(_.getAs[Int]("supplier_id") == 11).get
    val items = doc11.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("items")
    assert(items.length == 1)
    assert(items.head.getAs[Int]("quantity") == 40)
    assert(doc11.getAs[java.math.BigDecimal]("total_estimated_cost")
      .compareTo(new java.math.BigDecimal("160.00")) == 0)
    assert(doc11.getAs[String]("order_date") == "2026-01-14")
    assert(doc11.getAs[String]("data_date") == "2026-01-13")
  }

  test("A5 dashboard: latest-partition idiom uses only the max date") {
    val agg = Procurement.aggregateOrders(orders, d)
      .unionByName(Seq((9, 999, 9, Date.valueOf("2026-01-01")))
        .toDF("product_id", "total_quantity", "order_count", "order_date"))
    val total = Procurement.Dashboard.totalDailyOrders(agg)
      .collect().head.getLong(0)
    assert(total == 34) // 20+7+2+4+1 from 2026-01-13; the 999 row is older
  }
}
