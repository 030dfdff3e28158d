package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._


/** The oracle-checked query surface: every SURVEY.md §2 operator replayed on
  * the driver's test tables, each paired with ANSI SQL the driver runs in
  * DuckDB (SparkEntry contract). Column names and exact types are aligned
  * on both sides — doubles are cast to DECIMAL before SUM, double→int goes
  * through floor(), counts are cast to BIGINT, and each query carries a
  * deterministic ORDER BY (unique key suffix) so results are reproducible
  * in both engines.
  */
object ParityQueries {

  final case class Q(name: String,
                     fn: (SparkSession, String) => DataFrame,
                     oracle: Option[String])

  private val Money = Replay.Money

  /** Prepared-statement memo for SQL-text queries: parse + temp-view
    * registration + analysis happen ONCE per (session, dir) — the analyzed
    * logical plan is what a SQL view stores — while every call still gets a
    * FRESH QueryExecution (fresh optimize/plan/execute, nothing cached, no
    * shuffle-output reuse). Cuts the per-call parse/analyze overhead of the
    * big re-dialected SQL (~0.2s measured on q16's 5-view tree) without
    * touching what the benchmark measures: the execution itself.
    * Lifetime: [[graft.sources.SessionMemo]]. */
  private val preparedCache = new graft.sources.SessionMemo[(String, String),
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]

  private[operators] def prepared(key: String)
      (build: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = (s, dir) => {
    val plan = preparedCache(s, (dir, key))(
      org.apache.spark.sql.graftops.ColumnBridge.analyzed(build(s, dir)))
    org.apache.spark.sql.graftops.ColumnBridge.ofRows(s, plan)
  }

  /** Shared DuckDB CTE prelude mirroring Replay 1:1 (unused CTEs are free —
    * DuckDB inlines lazily). */
  val prelude: String =
    s"""WITH orders_r AS (
       |  SELECT l_orderkey AS order_id, l_partkey AS product_id,
       |         CAST(l_quantity AS INTEGER) AS quantity,
       |         l_returnflag AS status,
       |         CAST(l_shipdate AS DATE) AS order_date
       |  FROM lineitem
       |), orders_w AS (
       |  SELECT * FROM orders_r
       |  WHERE order_date >= DATE '${Replay.ordersFrom}'
       |    AND order_date <  DATE '${Replay.ordersTo}'
       |), inv_r AS (
       |  SELECT l_partkey AS product_id,
       |         CAST(l_quantity AS INTEGER) * 3 AS available_qty,
       |         CAST(floor(l_quantity * l_discount * 10) AS INTEGER) AS reserved_qty,
       |         l_linenumber * 10 AS safety_stock,
       |         CAST(l_suppkey % 3 AS INTEGER) AS warehouse_id,
       |         CAST(l_shipdate AS DATE) AS snapshot_date
       |  FROM lineitem WHERE l_partkey % 7 <> 3
       |), inv_w AS (
       |  SELECT * FROM inv_r
       |  WHERE snapshot_date >= DATE '${Replay.invFrom}'
       |    AND snapshot_date <  DATE '${Replay.invTo}'
       |), products_r AS (
       |  SELECT p_partkey AS product_id, p_name AS product_name,
       |         p_size AS safety_stock_level, (p_size % 7 <> 0) AS is_active
       |  FROM part
       |), suppliers_r AS (
       |  SELECT s_suppkey AS supplier_id, s_name AS supplier_name,
       |         (s_acctbal > 1000.0) AS is_active
       |  FROM supplier
       |), ps_r AS (
       |  SELECT l_partkey AS product_id, l_suppkey AS supplier_id,
       |         MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS unit_cost,
       |         CAST(l_suppkey % 5 AS INTEGER) + 1 AS priority
       |  FROM lineitem WHERE l_partkey % 10 <> 0
       |  GROUP BY l_partkey, l_suppkey
       |), daily_orders AS (
       |  SELECT product_id,
       |         CAST(SUM(quantity) AS BIGINT) AS total_ordered,
       |         CAST(COUNT(DISTINCT order_id) AS BIGINT) AS order_count
       |  FROM orders_w GROUP BY product_id
       |), agg_inv AS (
       |  SELECT product_id,
       |         CAST(SUM(available_qty) AS BIGINT) AS available_qty,
       |         CAST(SUM(reserved_qty) AS BIGINT) AS reserved_qty,
       |         MAX(safety_stock) AS safety_stock
       |  FROM inv_w GROUP BY product_id
       |), ranked AS (
       |  SELECT product_id, supplier_id, unit_cost, priority,
       |         ROW_NUMBER() OVER (PARTITION BY product_id
       |           ORDER BY priority ASC, unit_cost ASC, supplier_id ASC) AS supplier_rank
       |  FROM ps_r
       |), net_demand_calc AS (
       |  SELECT p.product_id, p.product_name, s.supplier_id, s.supplier_name,
       |         CAST(GREATEST(0, COALESCE(dord.total_ordered, 0)
       |             + COALESCE(ai.safety_stock, p.safety_stock_level)
       |             - (COALESCE(ai.available_qty, 0) - COALESCE(ai.reserved_qty, 0)))
       |           AS BIGINT) AS net_demand,
       |         rs.unit_cost, rs.priority AS supplier_priority
       |  FROM products_r p
       |  LEFT JOIN daily_orders dord ON p.product_id = dord.product_id
       |  LEFT JOIN agg_inv ai ON p.product_id = ai.product_id
       |  JOIN ranked rs ON p.product_id = rs.product_id AND rs.supplier_rank = 1
       |  JOIN suppliers_r s ON rs.supplier_id = s.supplier_id
       |  WHERE p.is_active AND s.is_active
       |), net_demand_q AS (
       |  SELECT product_id, product_name, supplier_id, supplier_name,
       |         net_demand, unit_cost,
       |         CAST(net_demand * unit_cost AS DECIMAL(18,2)) AS estimated_cost,
       |         supplier_priority
       |  FROM net_demand_calc WHERE net_demand > 0
       |)
       |""".stripMargin

  // ------------------------------------------------------------ spark side

  private def ndReplay(s: SparkSession, dir: String): DataFrame =
    Procurement.netDemand(
      Replay.orders(s, dir), Replay.inventory(s, dir),
      Replay.products(s, dir), Replay.suppliers(s, dir),
      Replay.productSuppliers(s, dir),
      Replay.ordersWhen, Replay.inventoryWhen,
      rankTieBreak = Seq(asc("supplier_id")), money = Money)

  /** The reference's dataflow materializes net_demand once (INSERT INTO,
    * net_demand_insert.sql:4) and every downstream consumer — the export
    * stage (via XCom, procurement_dag.py:77) and all dashboard cards —
    * reads the RESULT table, never recomputes the MRP plan. The replay
    * mirrors that: export/dashboard queries consume this memoized
    * (dim-sized, persisted) materialization; q03 itself remains the full
    * from-facts computation.
    */
  private def ndTable(s: SparkSession, dir: String): DataFrame =
    graft.sources.Standing.frame(s, dir, "net_demand")(
      ndReplay(s, dir)
        .withColumn("calculation_date",
          lit(java.sql.Date.valueOf("1996-12-31"))))

  /** Same for the aggregated_orders table (aggregate_orders.sql:6). */
  private def aggOrdersTable(s: SparkSession, dir: String): DataFrame =
    graft.sources.Standing.frame(s, dir, "agg_orders")(
      Procurement.aggregateOrders(Replay.orders(s, dir), Replay.ordersWhen))

  val parity: Seq[Q] = Seq(
    Q("q01_aggregate_orders",
      (s, dir) =>
        Procurement.aggregateOrders(Replay.orders(s, dir), Replay.ordersWhen)
          .orderBy("product_id", "order_date"),
      Some(prelude +
        """SELECT product_id,
          |       CAST(SUM(quantity) AS INTEGER) AS total_quantity,
          |       CAST(COUNT(DISTINCT order_id) AS INTEGER) AS order_count,
          |       order_date
          |FROM orders_w
          |GROUP BY product_id, order_date
          |ORDER BY product_id, order_date""".stripMargin)),

    Q("q02_inventory_rollup",
      (s, dir) =>
        Procurement.aggregatedInventory(Replay.inventory(s, dir),
            Replay.inventoryWhen)
          .orderBy("product_id"),
      Some(prelude +
        """SELECT product_id, available_qty, reserved_qty, safety_stock
          |FROM agg_inv ORDER BY product_id""".stripMargin)),

    // Money columns cross the oracle channel as DOUBLE: the driver's
    // comparator string-normalizes pandas cells, and Spark DECIMAL keeps
    // trailing zeros ("3474180.50") while DuckDB decimals arrive as float64
    // ("3474180.5") — decimal(≤2dp)→double is exact in both engines, so the
    // cast loses nothing and the reprs agree. Internal math stays decimal.
    Q("q03_net_demand",
      (s, dir) => ndReplay(s, dir)
        .withColumn("unit_cost", col("unit_cost").cast("double"))
        .withColumn("estimated_cost", col("estimated_cost").cast("double"))
        .orderBy(asc("supplier_id"), asc("supplier_priority"),
          desc("net_demand"), asc("product_id")),
      Some(prelude +
        """SELECT product_id, product_name, supplier_id, supplier_name,
          |       net_demand, CAST(unit_cost AS DOUBLE) AS unit_cost,
          |       CAST(estimated_cost AS DOUBLE) AS estimated_cost,
          |       supplier_priority
          |FROM net_demand_q
          |ORDER BY supplier_id, supplier_priority, net_demand DESC, product_id""".stripMargin)),

    Q("q04_ranked_suppliers",
      (s, dir) =>
        Procurement.rankedSuppliers(Replay.productSuppliers(s, dir),
            Seq(asc("supplier_id")))
          .filter(col("supplier_rank") === 1).drop("supplier_rank")
          .withColumn("unit_cost", col("unit_cost").cast("double"))
          .orderBy("product_id"),
      Some(prelude +
        """SELECT product_id, supplier_id,
          |       CAST(unit_cost AS DOUBLE) AS unit_cost, priority
          |FROM ranked WHERE supplier_rank = 1 ORDER BY product_id""".stripMargin)),

    Q("q05_missing_supplier",
      (s, dir) =>
        Procurement.missingSupplierMapping(Replay.orders(s, dir),
            Replay.productSuppliers(s, dir), Replay.ordersWhen)
          .orderBy("product_id"),
      Some(prelude +
        """SELECT o.product_id, CAST(COUNT(*) AS BIGINT) AS order_count
          |FROM orders_w o
          |LEFT JOIN (SELECT DISTINCT product_id FROM ps_r) ps
          |  ON o.product_id = ps.product_id
          |WHERE ps.product_id IS NULL
          |GROUP BY o.product_id ORDER BY o.product_id""".stripMargin)),

    Q("q06_missing_inventory",
      (s, dir) =>
        Procurement.missingInventory(Replay.orders(s, dir),
            Replay.inventory(s, dir), Replay.ordersWhen, Replay.inventoryWhen)
          .orderBy("product_id"),
      Some(prelude +
        """SELECT DISTINCT o.product_id
          |FROM orders_w o
          |LEFT JOIN (SELECT DISTINCT product_id FROM inv_w) i
          |  ON o.product_id = i.product_id
          |WHERE i.product_id IS NULL
          |ORDER BY o.product_id""".stripMargin)),

    Q("q07_dash_total_daily",
      (s, dir) =>
        Procurement.Dashboard.totalDailyOrders(aggOrdersTable(s, dir)),
      Some(prelude +
        """, ao AS (
          |  SELECT product_id,
          |         CAST(SUM(quantity) AS INTEGER) AS total_quantity,
          |         order_date
          |  FROM orders_w GROUP BY product_id, order_date
          |)
          |SELECT CAST(SUM(total_quantity) AS BIGINT) AS total_orders
          |FROM ao WHERE order_date = (SELECT MAX(order_date) FROM ao)""".stripMargin)),

    Q("q08_dash_supplier_volume",
      (s, dir) =>
        Procurement.Dashboard.supplierOrderVolume(ndTable(s, dir))
          .orderBy(desc("total_demand"), asc("supplier_name")),
      Some(prelude +
        """SELECT supplier_name, CAST(SUM(net_demand) AS BIGINT) AS total_demand
          |FROM net_demand_q GROUP BY supplier_name
          |ORDER BY total_demand DESC, supplier_name""".stripMargin)),

    Q("q09_supplier_order_totals",
      (s, dir) => ndTable(s, dir)
        .groupBy("supplier_id", "supplier_name")
        .agg(count(lit(1)).as("item_count"),
          sum("estimated_cost").cast(Money).cast("double")
            .as("total_estimated_cost"))
        .orderBy("supplier_id"),
      Some(prelude +
        """SELECT supplier_id, supplier_name,
          |       CAST(COUNT(*) AS BIGINT) AS item_count,
          |       CAST(CAST(SUM(estimated_cost) AS DECIMAL(18,2)) AS DOUBLE)
          |         AS total_estimated_cost
          |FROM net_demand_q GROUP BY supplier_id, supplier_name
          |ORDER BY supplier_id""".stripMargin)),

    // Nested per-supplier purchase-order documents (A6/S6). The nested
    // array<struct> itself is ScalaTest-verified; for the oracle channel
    // (whose pandas comparator cannot sort ndarray cells) the items array is
    // serialized to a canonical '|'-joined string — product_id-sorted, money
    // rendered at fixed scale-2 — which DuckDB reproduces with string_agg.
    Q("q10_supplier_orders_nested",
      (s, dir) => Procurement.supplierOrders(ndTable(s, dir),
          java.time.LocalDate.parse("1996-12-31"),
          java.time.LocalDate.parse("1997-01-01"),
          "2026-01-01T00:00:00")
        .withColumn("items", array_join(
          transform(col("items"), x => concat_ws(":",
            x.getField("product_id"), x.getField("product_name"),
            x.getField("quantity"),
            x.getField("unit_cost").cast(Money).cast("string"),
            x.getField("total_cost").cast(Money).cast("string"))), "|"))
        .withColumn("total_estimated_cost",
          col("total_estimated_cost").cast(Money).cast("double"))
        .orderBy("supplier_id"),
      Some(prelude +
        """SELECT supplier_id, supplier_name,
          |       '1997-01-01' AS order_date, '1996-12-31' AS data_date,
          |       '2026-01-01T00:00:00' AS generated_at,
          |       string_agg(
          |         product_id || ':' || product_name || ':' ||
          |         CAST(net_demand AS INTEGER) || ':' ||
          |         CAST(CAST(round(unit_cost, 2) AS DECIMAL(18,2)) AS VARCHAR)
          |         || ':' ||
          |         CAST(CAST(round(estimated_cost, 2) AS DECIMAL(18,2)) AS VARCHAR),
          |         '|' ORDER BY product_id) AS items,
          |       CAST(CAST(round(SUM(estimated_cost), 2) AS DECIMAL(18,2))
          |            AS DOUBLE) AS total_estimated_cost
          |FROM net_demand_q
          |GROUP BY supplier_id, supplier_name
          |ORDER BY supplier_id""".stripMargin)),

    // Dashboard card: Net Demand by Product (metabase_setup_dag.py:261-265),
    // on the persisted-table shape (constant calculation_date in replay);
    // product_id added for deterministic ordering.
    Q("q14_dash_net_demand_by_product",
      (s, dir) =>
        Procurement.Dashboard.netDemandByProduct(ndTable(s, dir),
            keepId = true)
          .orderBy(desc("net_demand"), asc("product_id")),
      Some(prelude +
        """SELECT product_id, product_name, net_demand
          |FROM net_demand_q
          |ORDER BY net_demand DESC, product_id""".stripMargin)),

    // Dashboard card: Total Procurement Cost (metabase_setup_dag.py:306-309).
    Q("q15_dash_total_cost",
      (s, dir) =>
        Procurement.Dashboard.totalProcurementCost(ndTable(s, dir))
          .withColumn("total_cost", col("total_cost").cast("double")),
      Some(prelude +
        """SELECT CAST(CAST(SUM(estimated_cost) AS DECIMAL(18,2)) AS DOUBLE)
          |  AS total_cost
          |FROM net_demand_q""".stripMargin)),

    // Exploded image of the nested export documents — verifies the A6
    // collect_list(struct) construction + per-doc totals through the
    // oracle channel (the nested form itself is q10, rows-only).
    Q("q13_export_items",
      (s, dir) => Procurement.supplierOrders(ndTable(s, dir),
          java.time.LocalDate.parse("1996-12-31"),
          java.time.LocalDate.parse("1997-01-01"), "2026-01-01T00:00:00")
        .select(col("supplier_id"), col("supplier_name"),
          col("total_estimated_cost").cast(Money).cast("double")
            .as("total_estimated_cost"),
          explode(col("items")).as("item"))
        .select(col("supplier_id"), col("supplier_name"),
          col("total_estimated_cost"),
          col("item.product_id").as("product_id"),
          col("item.product_name").as("product_name"),
          col("item.quantity").as("quantity"),
          col("item.unit_cost").cast(Money).cast("double").as("unit_cost"),
          col("item.total_cost").cast(Money).cast("double").as("total_cost"))
        .orderBy("supplier_id", "product_id"),
      Some(prelude +
        """, totals AS (
          |  SELECT supplier_id,
          |         CAST(CAST(round(SUM(estimated_cost), 2) AS DECIMAL(18,2))
          |              AS DOUBLE) AS total_estimated_cost
          |  FROM net_demand_q GROUP BY supplier_id
          |)
          |SELECT n.supplier_id, n.supplier_name, t.total_estimated_cost,
          |       n.product_id, n.product_name,
          |       CAST(n.net_demand AS INTEGER) AS quantity,
          |       CAST(CAST(round(n.unit_cost, 2) AS DECIMAL(18,2)) AS DOUBLE)
          |         AS unit_cost,
          |       CAST(CAST(round(n.estimated_cost, 2) AS DECIMAL(18,2))
          |            AS DOUBLE) AS total_cost
          |FROM net_demand_q n
          |JOIN totals t ON n.supplier_id = t.supplier_id
          |ORDER BY n.supplier_id, n.product_id""".stripMargin)),

    Q("q11_distinct_products",
      (s, dir) => Replay.orders(s, dir)
        .filter(Replay.ordersWhen && col("quantity") > 25)
        .select("product_id").distinct().orderBy("product_id"),
      Some(prelude +
        """SELECT DISTINCT product_id FROM orders_w
          |WHERE quantity > 25 ORDER BY product_id""".stripMargin)),

    // The SQL-dialect surface through the oracle gate: the reference's
    // net_demand.sql re-dialected as parameterized Spark SQL over temp
    // views (single-day semantics, exactly the reference's shape — no
    // extra rank tie-break; the replay data has no rank-1 ties at the
    // verify scale, checked in DuckDB). The chosen day has orders but no
    // 1996 snapshots, so the COALESCE(master safety_stock) fallback path
    // (P6) is what the oracle verifies.
    Q("q16_net_demand_sql",
      prepared("q16") { (s, dir) =>
        Replay.orders(s, dir).createOrReplaceTempView("orders")
        Replay.inventory(s, dir).createOrReplaceTempView("inventory")
        Replay.products(s, dir).createOrReplaceTempView("products")
        Replay.suppliers(s, dir).createOrReplaceTempView("suppliers")
        Replay.productSuppliers(s, dir)
          .createOrReplaceTempView("product_suppliers")
        Procurement.netDemandSql(s, java.time.LocalDate.parse("1996-06-03"))
          .withColumn("net_demand", col("net_demand").cast("long"))
          .withColumn("unit_cost", col("unit_cost").cast("double"))
          .withColumn("estimated_cost", col("estimated_cost").cast("double"))
          .orderBy(asc("supplier_id"), asc("supplier_priority"),
            desc("net_demand"), asc("product_id"))
      },
      Some(prelude +
        """, do1 AS (
          |  SELECT product_id, SUM(quantity) AS total_ordered,
          |         COUNT(DISTINCT order_id) AS order_count
          |  FROM orders_r WHERE order_date = DATE '1996-06-03'
          |  GROUP BY product_id
          |), ai1 AS (
          |  SELECT product_id, SUM(available_qty) AS available_qty,
          |         SUM(reserved_qty) AS reserved_qty,
          |         MAX(safety_stock) AS safety_stock
          |  FROM inv_r WHERE snapshot_date = DATE '1996-06-03'
          |  GROUP BY product_id
          |), rk1 AS (
          |  SELECT product_id, supplier_id, unit_cost, priority,
          |         ROW_NUMBER() OVER (PARTITION BY product_id
          |           ORDER BY priority ASC, unit_cost ASC) AS supplier_rank
          |  FROM ps_r
          |)
          |SELECT p.product_id, p.product_name, s.supplier_id,
          |       s.supplier_name,
          |       CAST(GREATEST(0, COALESCE(d.total_ordered, 0)
          |           + COALESCE(a.safety_stock, p.safety_stock_level)
          |           - (COALESCE(a.available_qty, 0)
          |              - COALESCE(a.reserved_qty, 0))) AS BIGINT)
          |         AS net_demand,
          |       CAST(CAST(r.unit_cost AS DECIMAL(10,2)) AS DOUBLE)
          |         AS unit_cost,
          |       CAST(CAST(GREATEST(0, COALESCE(d.total_ordered, 0)
          |           + COALESCE(a.safety_stock, p.safety_stock_level)
          |           - (COALESCE(a.available_qty, 0)
          |              - COALESCE(a.reserved_qty, 0)))
          |           * CAST(r.unit_cost AS DECIMAL(10,2))
          |           AS DECIMAL(10,2)) AS DOUBLE) AS estimated_cost,
          |       r.priority AS supplier_priority
          |FROM products_r p
          |LEFT JOIN do1 d ON p.product_id = d.product_id
          |LEFT JOIN ai1 a ON p.product_id = a.product_id
          |JOIN rk1 r ON p.product_id = r.product_id AND r.supplier_rank = 1
          |JOIN suppliers_r s ON r.supplier_id = s.supplier_id
          |WHERE p.is_active AND s.is_active
          |  AND GREATEST(0, COALESCE(d.total_ordered, 0)
          |        + COALESCE(a.safety_stock, p.safety_stock_level)
          |        - (COALESCE(a.available_qty, 0)
          |           - COALESCE(a.reserved_qty, 0))) > 0
          |ORDER BY s.supplier_id, supplier_priority, net_demand DESC,
          |         p.product_id""".stripMargin)),

    Q("q12_verify_counts",
      (s, dir) => Replay.orders(s, dir).filter(Replay.ordersWhen)
        .agg(count(lit(1)).as("row_count"),
          sum("quantity").as("total_qty")),
      Some(prelude +
        """SELECT CAST(COUNT(*) AS BIGINT) AS row_count,
          |       CAST(SUM(quantity) AS BIGINT) AS total_qty
          |FROM orders_w""".stripMargin)),

    // The reference's dashboard "Exception Count" card is stubbed as
    // SELECT 0 (metabase_setup_dag.py:294); this is the real thing —
    // per-type/severity counts over the Q1+Q2 exception frame, completing
    // the 5-card Metabase surface (SURVEY.md §2 Q1-Q3).
    Q("q59_dash_exception_count",
      (s, dir) => Procurement.exceptions(Replay.orders(s, dir),
          Replay.inventory(s, dir), Replay.productSuppliers(s, dir),
          Replay.ordersWhen, Replay.inventoryWhen)
        .groupBy("type", "severity")
        .agg(count(lit(1)).as("exception_count"))
        .orderBy("type"),
      Some(prelude +
        """SELECT type, severity,
          |       CAST(COUNT(*) AS BIGINT) AS exception_count
          |FROM (
          |  SELECT 'MISSING_SUPPLIER_MAPPING' AS type, 'HIGH' AS severity,
          |         product_id
          |  FROM (SELECT DISTINCT o.product_id FROM orders_w o
          |        LEFT JOIN (SELECT DISTINCT product_id FROM ps_r) ps
          |          ON o.product_id = ps.product_id
          |        WHERE ps.product_id IS NULL)
          |  UNION ALL
          |  SELECT 'MISSING_INVENTORY' AS type, 'MEDIUM' AS severity,
          |         product_id
          |  FROM (SELECT DISTINCT o.product_id FROM orders_w o
          |        LEFT JOIN (SELECT DISTINCT product_id FROM inv_w) i
          |          ON o.product_id = i.product_id
          |        WHERE i.product_id IS NULL)
          |)
          |GROUP BY type, severity ORDER BY type""".stripMargin))
  )

  def all: Seq[Q] = parity
}
