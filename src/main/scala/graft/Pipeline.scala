package graft

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Procurement
import graft.sources.Sinks

/** The daily pipeline driver — the Spark replacement for the reference's
  * Airflow DAG `procurement_pipeline` (docker/dags/procurement_dag.py:313-379:
  * aggregate → net-demand → [export, quality] → archive).
  *
  * Differences by design (SURVEY.md §3.2, §4):
  *  - stages hand each other DataFrames, not XCom rows — the net-demand
  *    frame is cached once and feeds both the table insert and the export;
  *  - the quality stage runs its plan once: `Procurement.exceptions`
  *    returns the day's exception set as a local relation, so its count
  *    and the exception log read driver memory;
  *  - date protocol is explicit (`dataDate`, `orderDate = dataDate + 1`,
  *    procurement_dag.py:348-362), not hidden scheduler math;
  *  - writes are idempotent (dynamic partition overwrite) so re-running a
  *    day replaces, never duplicates.
  */
object Pipeline {

  final case class Config(
      warehouseDir: String,
      outputDir: String,
      logsDir: String,
      dataDate: LocalDate,
      generatedAt: String) {
    /** Export order date = next day (procurement_dag.py:360-363). */
    def orderDate: LocalDate = dataDate.plusDays(1)
  }

  final case class Result(
      aggregatedOrders: Long,
      netDemandRows: Long,
      exportedFiles: Seq[String],
      exceptionCount: Long,
      exceptionLogPath: Option[String])

  /** Run one day end-to-end over the supplied source frames. */
  def runDay(spark: SparkSession,
             orders: DataFrame, inventory: DataFrame, products: DataFrame,
             suppliers: DataFrame, productSuppliers: DataFrame,
             conf: Config): Result = {
    val d = conf.dataDate

    // t1 — aggregate orders → managed table partition (procurement_dag.py:41-59)
    val agg = Procurement.aggregateOrders(orders, d)
    Sinks.writePartitionedParquet(agg,
      s"${conf.warehouseDir}/aggregated_orders", Seq("order_date"))
    val aggCount = agg.count()

    // t2 — net demand; cached: feeds the insert AND the export (§3.2)
    val nd = Procurement.netDemandForInsert(
      orders, inventory, products, suppliers, productSuppliers, d).cache()
    Sinks.writePartitionedParquet(nd,
      s"${conf.warehouseDir}/net_demand", Seq("calculation_date"))
    val ndCount = nd.count()

    // t3 — per-supplier purchase-order JSONs (procurement_dag.py:86-150)
    val docs = Procurement.supplierOrders(nd, d, conf.orderDate,
      conf.generatedAt)
    val files = Sinks.writeSupplierOrderJsons(docs,
      s"${conf.outputDir}/supplier_orders/${conf.orderDate}")

    // t4 — quality checks → exception log (procurement_dag.py:153-194)
    val exc = Procurement.exceptions(orders, inventory, productSuppliers, d)
    val excCount = exc.count()
    val logPath =
      if (excCount > 0)
        Some(Sinks.writeExceptionLog(exc, d.toString,
          s"${conf.logsDir}/exceptions/$d"))
      else None

    nd.unpersist()
    Result(aggCount, ndCount, files, excCount, logPath)
  }

  /** Backfill a date range as ONE ranged scan per stage (not a per-day
    * loop): the generalized Column-predicate operators aggregate every day
    * in the window in a single pass, and dynamic partition overwrite
    * replaces exactly the partitions present in the result — the shape a
    * 100 TB backfill needs (one shuffle over the range, not N job setups).
    * Export/quality stay daily (driven by runDay) as they produce per-day
    * artifacts.
    */
  def backfillAggregates(spark: SparkSession, orders: DataFrame,
                         warehouseDir: String,
                         from: LocalDate, untilExclusive: LocalDate): Long = {
    import org.apache.spark.sql.functions.col
    val when = col("order_date") >= java.sql.Date.valueOf(from) &&
      col("order_date") < java.sql.Date.valueOf(untilExclusive)
    val agg = Procurement.aggregateOrders(orders, when)
    Sinks.writePartitionedParquet(agg, s"$warehouseDir/aggregated_orders",
      Seq("order_date"))
    agg.count()
  }
}
