package graft.operators

import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType}

import graft.plans.OpaqueLiteral

/** The procurement engine core: every relational stage of the reference
  * pipeline (SALMASAID1/Procurement-Data-Pipeline) re-expressed as a
  * composable `DataFrame => DataFrame` library over Spark.
  *
  * Input contracts (reference DDL, docker/dags/trino_init_tables_dag.py:33-96
  * and docker/dags/sql/ddl_postgres.sql:8-42):
  *  - orders(order_id L, product_id I, quantity I, status S, order_date D)
  *  - inventory(product_id I, available_qty I, reserved_qty I,
  *    safety_stock I, warehouse_id I, snapshot_date D)
  *  - products(product_id I, product_name S, safety_stock_level I,
  *    is_active B, ...)
  *  - suppliers(supplier_id I, supplier_name S, is_active B, ...)
  *  - product_suppliers(product_id I, supplier_id I,
  *    unit_cost DECIMAL(10,2), priority I, is_preferred B)
  *
  * Scale posture (100 TB): facts are large and partitioned by date — every
  * stage filters the partition column first so Catalyst prunes partitions
  * and pushes predicates into the Parquet scan. Master dims are small —
  * always joined with an explicit `broadcast()` hint so no fact-side shuffle
  * is introduced by J1–J4. The only shuffles left are the two hash
  * aggregations (map-side partial agg applies) and the window, which
  * partitions the *dim-sized* product_suppliers table, not the fact.
  */
object Procurement {

  private def onDate(dateCol: String, d: LocalDate): Column =
    col(dateCol) === lit(java.sql.Date.valueOf(d))

  /** A1 — aggregated orders (docker/dags/sql/aggregate_orders.sql:6-14):
    * per (product_id, order_date): SUM(quantity), COUNT(DISTINCT order_id),
    * both cast to INTEGER as the reference does (P5). `when` is the
    * partition predicate (the reference's `order_date = DATE d`, P2);
    * generalized to any pruning predicate so a backfill over a range is a
    * single scan rather than a per-day loop.
    */
  def aggregateOrders(orders: DataFrame, when: Column): DataFrame =
    orders
      .filter(when)
      .groupBy(col("product_id"), col("order_date"))
      .agg(
        sum("quantity").cast(IntegerType).as("total_quantity"),
        countDistinct("order_id").cast(IntegerType).as("order_count"))
      .select("product_id", "total_quantity", "order_count", "order_date")

  def aggregateOrders(orders: DataFrame, d: LocalDate): DataFrame =
    aggregateOrders(orders, onDate("order_date", d))

  /** daily_orders CTE (docker/dags/sql/net_demand.sql:4-12). */
  def dailyOrders(orders: DataFrame, when: Column): DataFrame =
    orders
      .filter(when)
      .groupBy("product_id")
      .agg(
        sum("quantity").as("total_ordered"),
        countDistinct("order_id").as("order_count"))

  def dailyOrders(orders: DataFrame, d: LocalDate): DataFrame =
    dailyOrders(orders, onDate("order_date", d))

  /** A2 — aggregated_inventory CTE (net_demand.sql:15-24): roll up the
    * per-warehouse snapshot to product grain: SUM available, SUM reserved,
    * MAX safety_stock.
    */
  def aggregatedInventory(inventory: DataFrame, when: Column): DataFrame =
    inventory
      .filter(when)
      .groupBy("product_id")
      .agg(
        sum("available_qty").as("available_qty"),
        sum("reserved_qty").as("reserved_qty"),
        max("safety_stock").as("safety_stock"))

  def aggregatedInventory(inventory: DataFrame, d: LocalDate): DataFrame =
    aggregatedInventory(inventory, onDate("snapshot_date", d))

  /** W1 — ranked_suppliers CTE (net_demand.sql:27-38): pick ONE preferred
    * supplier per product: ROW_NUMBER over (priority ASC, unit_cost ASC).
    * Catalyst rewrites the downstream `supplier_rank = 1` filter into a
    * WindowGroupLimit (top-1 per key without full sort materialization).
    * Ties beyond (priority, unit_cost) are nondeterministic exactly as in
    * the reference (SURVEY.md §2.5); callers needing determinism add a key.
    */
  def rankedSuppliers(productSuppliers: DataFrame,
                      extraTieBreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(col("product_id"))
      .orderBy(asc("priority") +: asc("unit_cost") +: extraTieBreak: _*)
    productSuppliers
      .select("product_id", "supplier_id", "unit_cost", "priority")
      .withColumn("supplier_rank", row_number().over(w))
  }

  /** The MRP clamp (P6/P7, net_demand.sql:50-57):
    * GREATEST(0, orders + COALESCE(snapshot_safety, master_safety)
    *              - (available - reserved)), with 0-defaults after the
    * two LEFT joins.
    */
  def netDemandExpr: Column =
    greatest(
      lit(0),
      coalesce(col("total_ordered"), lit(0))
        + coalesce(col("safety_stock"), col("safety_stock_level"))
        - (coalesce(col("available_qty"), lit(0))
           - coalesce(col("reserved_qty"), lit(0))))

  /** Entry point B core — the full net-demand query
    * (docker/dags/sql/net_demand.sql:4-87): J1 products⟕daily_orders,
    * J2 ⟕aggregated_inventory, J3 ⋈ranked_suppliers(rank=1),
    * J4 ⋈suppliers; MRP expression; `net_demand > 0`; presentation order.
    *
    * Plan shape note: the CTEs pre-aggregate BOTH fact sides to product
    * grain before any join (the reference's hand-applied agg-below-join,
    * SURVEY.md §4) — at 100 TB this means the joins operate on dim-sized
    * inputs and are all broadcastable.
    */
  def netDemand(orders: DataFrame,
                inventory: DataFrame,
                products: DataFrame,
                suppliers: DataFrame,
                productSuppliers: DataFrame,
                d: LocalDate): DataFrame =
    netDemand(orders, inventory, products, suppliers, productSuppliers,
      onDate("order_date", d), onDate("snapshot_date", d))

  def netDemand(orders: DataFrame,
                inventory: DataFrame,
                products: DataFrame,
                suppliers: DataFrame,
                productSuppliers: DataFrame,
                ordersWhen: Column,
                inventoryWhen: Column,
                rankTieBreak: Seq[Column] = Nil,
                money: DecimalType = DecimalType(10, 2)): DataFrame =
    netDemandRows(orders, inventory, products, suppliers, productSuppliers,
      ordersWhen, inventoryWhen, rankTieBreak, money)
      .orderBy(asc("supplier_id"), asc("supplier_priority"),
        desc("net_demand"))

  /** [[netDemand]] without its presentation order (net_demand.sql:87). */
  private def netDemandRows(
      orders: DataFrame, inventory: DataFrame, products: DataFrame,
      suppliers: DataFrame, productSuppliers: DataFrame,
      ordersWhen: Column, inventoryWhen: Column,
      rankTieBreak: Seq[Column] = Nil,
      money: DecimalType = DecimalType(10, 2)): DataFrame = {
    val dOrders = dailyOrders(orders, ordersWhen)
    val aggInv = aggregatedInventory(inventory, inventoryWhen)
    val rs = rankedSuppliers(productSuppliers, rankTieBreak)
      .filter(col("supplier_rank") === 1)
      .drop("supplier_rank")

    // Broadcast is HINTED only for the supplier dim (genuinely small at any
    // scale). The product-grain sides (daily_orders, agg_inventory, ranked
    // suppliers) share products' cardinality — at 100 TB they must be free
    // to fall back to shuffle joins, so those are left to Catalyst/AQE
    // (auto-broadcast under the threshold keeps the small-scale plan
    // all-broadcast; see PlanSpec).
    val joined = products.filter(col("is_active"))
      .select("product_id", "product_name", "safety_stock_level")
      .join(dOrders, Seq("product_id"), "left")
      .join(aggInv, Seq("product_id"), "left")
      .join(rs, Seq("product_id"), "inner")
      .join(
        broadcast(suppliers.filter(col("is_active"))
          .select("supplier_id", "supplier_name")),
        Seq("supplier_id"), "inner")

    joined
      .withColumn("net_demand", netDemandExpr)
      .withColumn("unit_cost", col("unit_cost").cast(money))
      .withColumn("estimated_cost",
        (col("net_demand") * col("unit_cost")).cast(money))
      .withColumn("supplier_priority", col("priority"))
      .filter(col("net_demand") > 0)
      .select("product_id", "product_name", "supplier_id", "supplier_name",
        "net_demand", "unit_cost", "estimated_cost", "supplier_priority")
  }

  /** net_demand with the persisted-table schema + calculation_date column
    * (docker/dags/sql/net_demand_insert.sql:38-69,
    * trino_init_tables_dag.py:82-91). The rows carry no presentation
    * order: the reference's insert has no ORDER BY (it ends at the
    * `net_demand > 0` filter), and a table write keeps none, so the
    * range-sampling job and shuffle of [[netDemand]]'s sort are left out.
    * The date is an [[OpaqueLiteral]]: a plain DATE literal is inlined
    * into the generated Java, so every day would compile its own copy of
    * this stage's classes.
    */
  def netDemandForInsert(orders: DataFrame, inventory: DataFrame,
                         products: DataFrame, suppliers: DataFrame,
                         productSuppliers: DataFrame, d: LocalDate): DataFrame =
    netDemandRows(orders, inventory, products, suppliers, productSuppliers,
      onDate("order_date", d), onDate("snapshot_date", d))
      .withColumn("net_demand", col("net_demand").cast(IntegerType))
      .withColumn("calculation_date",
        OpaqueLiteral.column(java.sql.Date.valueOf(d)))
      .select("product_id", "product_name", "supplier_id", "supplier_name",
        "net_demand", "unit_cost", "estimated_cost", "calculation_date")

  // ---------------------------------------------------------------- quality

  /** Q1/J5 — MISSING_SUPPLIER_MAPPING (docker/dags/procurement_dag.py:161-169):
    * products ordered on `d` that have no product_suppliers row.
    * Anti-join keeps the fact partitioned; the dim side broadcasts.
    */
  def missingSupplierMapping(orders: DataFrame, productSuppliers: DataFrame,
                             when: Column): DataFrame =
    missingSupplierMapping(orders, productSuppliers, when,
      broadcastKeys = true)

  /** @param broadcastKeys the anti-join only tests key EXISTENCE, so the
    *   build side collapses to DISTINCT product_ids — products-master
    *   cardinality, which the reference keeps in a Postgres master table
    *   (inherently bounded). With `true` (default) those keys are
    *   broadcast-hinted: AQE otherwise judges the build side by the FULL
    *   mapping's stage stats (the distinct fuses into the dim's stage)
    *   and flips to a fact-shuffling sort-merge join. Deployments whose
    *   distinct key set genuinely outgrows a broadcast (billions of
    *   products) pass `false` and get the shuffled anti-join. */
  def missingSupplierMapping(orders: DataFrame, productSuppliers: DataFrame,
                             when: Column, broadcastKeys: Boolean): DataFrame = {
    val keys = productSuppliers.select("product_id").distinct()
    orders.filter(when)
      .join(if (broadcastKeys) broadcast(keys) else keys,
        Seq("product_id"), "left_anti")
      .groupBy("product_id")
      .agg(count(lit(1)).as("order_count"))
  }

  def missingSupplierMapping(orders: DataFrame, productSuppliers: DataFrame,
                             d: LocalDate): DataFrame =
    missingSupplierMapping(orders, productSuppliers, onDate("order_date", d))

  /** Q2/J6 — MISSING_INVENTORY (procurement_dag.py:172-179): products
    * ordered on `d` with no inventory snapshot dated `d`.
    */
  def missingInventory(orders: DataFrame, inventory: DataFrame,
                       ordersWhen: Column, inventoryWhen: Column): DataFrame =
    orders.filter(ordersWhen)
      .join(
        inventory.filter(inventoryWhen).select("product_id"),
        Seq("product_id"), "left_anti")
      .select("product_id").distinct()

  def missingInventory(orders: DataFrame, inventory: DataFrame,
                       d: LocalDate): DataFrame =
    missingInventory(orders, inventory,
      onDate("order_date", d), onDate("snapshot_date", d))

  private val Ordered = 1
  private val Stocked = 2
  private val Mapped = 4
  private val MissingMapping = "MISSING_SUPPLIER_MAPPING"

  /** Q3 — exception records, Q1 ∪ Q2 with type/severity tags
    * (procurement_dag.py:169,179): a `MISSING_SUPPLIER_MAPPING`/`HIGH` row
    * per product ordered under `ordersWhen` with no product_suppliers row,
    * and a `MISSING_INVENTORY`/`MEDIUM` row per such product with no
    * inventory row under `inventoryWhen`.
    *
    * One aggregation answers both checks: the three key sets (the day's
    * ordered ids, its stocked ids, the mapped ids), each tagged with one
    * bit and cast to long, are unioned and grouped by `product_id` with
    * `bit_or(tag)`. An ordered id lacking a mapping, a snapshot or both
    * expands into one row per missing bit. That is one scan of each input
    * and one shuffle, with no broadcast; the report only needs product
    * SETS (the per-product order counts of q05 are not part of it). Null
    * ids on the stocked and mapped sides are dropped, as they match
    * nothing in the anti-joins the checks are defined by; a null ordered
    * id is reported. `product_id` keeps the type of `orders.product_id`.
    */
  def exceptions(orders: DataFrame, inventory: DataFrame,
                 productSuppliers: DataFrame, ordersWhen: Column,
                 inventoryWhen: Column): DataFrame = {
    def tagged(ids: DataFrame, tag: Int): DataFrame =
      ids.select(col("product_id").cast(LongType).as("product_id"),
        lit(tag).as("tag"))
    def known(df: DataFrame): DataFrame = df.filter(col("product_id").isNotNull)
    val missing = col("missing") === Mapped
    tagged(orders.filter(ordersWhen), Ordered)
      .unionByName(tagged(known(inventory.filter(inventoryWhen)), Stocked))
      .unionByName(tagged(known(productSuppliers), Mapped))
      .groupBy("product_id")
      .agg(bit_or(col("tag")).as("tags"))
      .filter(col("tags").isin(Ordered, Ordered | Stocked, Ordered | Mapped))
      .select(col("product_id"), col("tags"),
        explode(array(lit(Mapped), lit(Stocked))).as("missing"))
      .filter((col("tags") bitwiseAND col("missing")) === 0)
      .select(
        when(missing, MissingMapping).otherwise("MISSING_INVENTORY")
          .as("type"),
        when(missing, "HIGH").otherwise("MEDIUM").as("severity"),
        col("product_id").cast(orders.schema("product_id").dataType)
          .as("product_id"))
  }

  /** The day's exception records, computed once and held as a local
    * relation, sorted mapping rows first, then by `product_id`.
    * `runDay` counts the set and then writes it to the exception log, so a
    * lazy frame would run the aggregation twice; this one runs it in one
    * execution, and counting or collecting it afterwards reads driver
    * memory. The set is bounded: at most two rows per product ordered that
    * day, so at most twice the product master, and the exception log
    * collects it to the driver anyway. The `Column` overload stays lazy.
    */
  def exceptions(orders: DataFrame, inventory: DataFrame,
                 productSuppliers: DataFrame, d: LocalDate): DataFrame = {
    val plan = exceptions(orders, inventory, productSuppliers,
      onDate("order_date", d), onDate("snapshot_date", d))
    val rows = plan.collect().sortBy(r => (r.getString(0) != MissingMapping,
      Option(r.get(2)).map(_.asInstanceOf[Number].longValue)))
    plan.sparkSession.createDataFrame(rows.toSeq.asJava, plan.schema)
  }

  // ----------------------------------------------------------------- export

  /** A6/S6 — per-supplier purchase order document
    * (procurement_dag.py:101-133): group net-demand rows by supplier, nest
    * items as array<struct>, accumulate total cost (rounded to 2dp at the
    * document level, procurement_dag.py:142). `generatedAt` is injected —
    * the reference uses wall-clock (procurement_dag.py:113), which is
    * untestable (SURVEY.md §7.4).
    *
    * Items are sorted by product_id for determinism (the reference inherits
    * Trino's ORDER BY supplier_id, priority, net_demand DESC row order).
    */
  def supplierOrders(netDemandRows: DataFrame,
                     dataDate: LocalDate, orderDate: LocalDate,
                     generatedAt: String): DataFrame =
    netDemandRows
      .filter(col("net_demand") > 0)
      .groupBy(col("supplier_id"), col("supplier_name"))
      .agg(
        array_sort(collect_list(struct(
          col("product_id"),
          col("product_name"),
          col("net_demand").cast(IntegerType).as("quantity"),
          round(col("unit_cost"), 2).as("unit_cost"),
          round(col("estimated_cost"), 2).as("total_cost")))).as("items"),
        round(sum(col("estimated_cost")), 2).as("total_estimated_cost"))
      .withColumn("order_date", lit(orderDate.toString))
      .withColumn("data_date", lit(dataDate.toString))
      .withColumn("generated_at", lit(generatedAt))
      .select("supplier_id", "supplier_name", "order_date", "data_date",
        "generated_at", "items", "total_estimated_cost")

  /** The net-demand plan in Spark SQL text — the reference's
    * net_demand.sql (docker/dags/sql/net_demand.sql:4-87) re-dialected,
    * proving SQL-level parity alongside the DataFrame API. Requires temp
    * views orders/inventory/products/suppliers/product_suppliers; dates
    * are bound parameters, not string splices.
    */
  def netDemandSql(spark: org.apache.spark.sql.SparkSession,
                   d: LocalDate): DataFrame =
    spark.sql(
      """WITH daily_orders AS (
        |  SELECT o.product_id, SUM(o.quantity) AS total_ordered,
        |         COUNT(DISTINCT o.order_id) AS order_count
        |  FROM orders o WHERE o.order_date = :d GROUP BY o.product_id
        |), aggregated_inventory AS (
        |  SELECT i.product_id, SUM(i.available_qty) AS available_qty,
        |         SUM(i.reserved_qty) AS reserved_qty,
        |         MAX(i.safety_stock) AS safety_stock
        |  FROM inventory i WHERE i.snapshot_date = :d GROUP BY i.product_id
        |), ranked_suppliers AS (
        |  SELECT ps.product_id, ps.supplier_id, ps.unit_cost, ps.priority,
        |         ROW_NUMBER() OVER (PARTITION BY ps.product_id
        |           ORDER BY ps.priority ASC, ps.unit_cost ASC) AS supplier_rank
        |  FROM product_suppliers ps
        |), net_demand_calc AS (
        |  SELECT p.product_id, p.product_name, s.supplier_id,
        |         s.supplier_name,
        |         GREATEST(0, COALESCE(dord.total_ordered, 0)
        |           + COALESCE(ai.safety_stock, p.safety_stock_level)
        |           - (COALESCE(ai.available_qty, 0)
        |              - COALESCE(ai.reserved_qty, 0))) AS net_demand,
        |         CAST(rs.unit_cost AS DECIMAL(10,2)) AS unit_cost,
        |         rs.priority AS supplier_priority
        |  FROM products p
        |  LEFT JOIN daily_orders dord ON p.product_id = dord.product_id
        |  LEFT JOIN aggregated_inventory ai ON p.product_id = ai.product_id
        |  INNER JOIN ranked_suppliers rs
        |    ON p.product_id = rs.product_id AND rs.supplier_rank = 1
        |  INNER JOIN suppliers s ON rs.supplier_id = s.supplier_id
        |  WHERE p.is_active = TRUE AND s.is_active = TRUE
        |)
        |SELECT product_id, product_name, supplier_id, supplier_name,
        |       net_demand, unit_cost,
        |       CAST(net_demand * unit_cost AS DECIMAL(10,2))
        |         AS estimated_cost,
        |       supplier_priority
        |FROM net_demand_calc WHERE net_demand > 0
        |ORDER BY supplier_id, supplier_priority, net_demand DESC
        |""".stripMargin,
      Map("d" -> java.sql.Date.valueOf(d)))

  // -------------------------------------------------------------- dashboard

  /** The five Metabase cards (docker/dags/metabase_setup_dag.py:237-313) as
    * named queries over the pipeline's result tables. Each uses the
    * latest-partition scalar-aggregate idiom (A5) expressed as a broadcast
    * 1-row cross join — declarative (no driver collect), so at scale the max
    * is computed from partition stats / a metadata-only scan.
    */
  object Dashboard {

    private def atMax(df: DataFrame, dateCol: String): DataFrame = {
      val m = df.agg(max(col(dateCol)).as("__max_date"))
      df.join(broadcast(m), col(dateCol) === col("__max_date"))
        .drop("__max_date")
    }

    /** Total Daily Orders (metabase_setup_dag.py:246-249). */
    def totalDailyOrders(aggregatedOrders: DataFrame): DataFrame =
      atMax(aggregatedOrders, "order_date")
        .agg(sum("total_quantity").as("total_orders"))

    /** Net Demand by Product (metabase_setup_dag.py:261-265). `keepId`
      * adds product_id for deterministic ordering (the card itself shows
      * name+demand only). */
    def netDemandByProduct(netDemandTable: DataFrame,
                           keepId: Boolean = false): DataFrame =
      atMax(netDemandTable, "calculation_date")
        .filter(col("net_demand") > 0)
        .select((if (keepId) Seq("product_id") else Nil) ++
          Seq("product_name", "net_demand") map col: _*)
        .orderBy(desc("net_demand"))

    /** Supplier Order Volume (metabase_setup_dag.py:277-282). */
    def supplierOrderVolume(netDemandTable: DataFrame): DataFrame =
      atMax(netDemandTable, "calculation_date")
        .groupBy("supplier_name")
        .agg(sum("net_demand").as("total_demand"))
        .orderBy(desc("total_demand"))

    /** Total Procurement Cost (metabase_setup_dag.py:306-309). The
      * reference casts to DECIMAL(12,2); default widened to (18,2) so the
      * total cannot overflow at larger scale factors. */
    def totalProcurementCost(netDemandTable: DataFrame,
                             money: DecimalType = DecimalType(18, 2)): DataFrame =
      atMax(netDemandTable, "calculation_date")
        .agg(sum("estimated_cost").cast(money).as("total_cost"))
  }
}
