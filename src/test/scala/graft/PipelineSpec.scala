package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end daily pipeline over the FIXTURES.md §A edge-case day:
  * aggregate → net-demand → export JSONs → quality checks → exception log,
  * plus idempotency of the partitioned writes (SURVEY.md §5.5).
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("runDay writes tables, supplier JSONs and exception log; re-run " +
    "does not duplicate") {
    val p = new ProcurementSpec
    val tmp = Files.createTempDirectory("graft-pipe").toString
    val conf = Pipeline.Config(
      warehouseDir = s"$tmp/warehouse", outputDir = s"$tmp/output",
      logsDir = s"$tmp/logs", dataDate = LocalDate.parse("2026-01-13"),
      generatedAt = "2026-01-14T00:00:00")

    val r1 = Pipeline.runDay(spark, p.orders, p.inventory, p.products,
      p.suppliers, p.productSuppliers, conf)
    assert(r1.netDemandRows == 2)
    assert(r1.exportedFiles.size == 2)
    assert(r1.exceptionCount == 3)
    assert(r1.exceptionLogPath.exists(f => Files.exists(Paths.get(f))))

    val json = Files.readString(
      Paths.get(r1.exportedFiles.find(_.endsWith("supplier_11.json")).get))
    assert(json.contains("\"supplier_name\": \"Bolt\""))
    assert(json.contains("\"total_estimated_cost\": 160.00"))
    assert(json.contains("\"order_date\": \"2026-01-14\""))

    // idempotency: second run overwrites the same partition, no dup rows
    Pipeline.runDay(spark, p.orders, p.inventory, p.products,
      p.suppliers, p.productSuppliers, conf)
    val nd = spark.read.parquet(s"$tmp/warehouse/net_demand")
    assert(nd.count() == 2)
    val agg = spark.read.parquet(s"$tmp/warehouse/aggregated_orders")
    assert(agg.count() == 5)
  }

  /** The FIXTURES day written twice (the day and the next) as
    * date-partitioned parquet: the shape the pipeline reads in production
    * (partition pruning, no date filter left in the scan's stage). */
  private class TwoDays(name: String) {
    import org.apache.spark.sql.functions.lit
    val p = new ProcurementSpec
    val tmp = Files.createTempDirectory(name).toString
    val d1 = p.d
    val d2 = d1.plusDays(1)
    private def twoDays(df: org.apache.spark.sql.DataFrame, dateCol: String,
                        name: String) = {
      df.unionByName(df.withColumn(dateCol, lit(java.sql.Date.valueOf(d2))))
        .write.partitionBy(dateCol).parquet(s"$tmp/$name")
      spark.read.parquet(s"$tmp/$name")
    }
    val orders = twoDays(p.orders, "order_date", "orders")
    val inventory = twoDays(p.inventory, "snapshot_date", "inventory")
    def runDay(d: LocalDate): Pipeline.Result =
      Pipeline.runDay(spark, orders, inventory, p.products, p.suppliers,
        p.productSuppliers, Pipeline.Config(
          warehouseDir = s"$tmp/warehouse", outputDir = s"$tmp/output",
          logsDir = s"$tmp/logs", dataDate = d,
          generatedAt = s"${d.plusDays(1)}T00:00:00"))
  }

  /** Jobs `body` starts in this session (the suites run one at a time). */
  private def jobsIn(body: => Unit): Long = {
    val counters = TaskCounters.register(spark)
    try {
      counters.drain()
      val before = counters.snapshot()
      body
      counters.drain()
      (counters.snapshot() - before).jobs
    } finally spark.sparkContext.removeSparkListener(counters)
  }

  test("a steady runDay compiles no generated class: the second of two " +
    "fixture days reuses every class of the first") {
    val f = new TwoDays("graft-pipe-codegen")
    import f._
    val r1 = runDay(d1)
    val c0 = TaskCounters.compiles
    val r2 = runDay(d2)
    val compiles = TaskCounters.compiles - c0
    assert(r2.netDemandRows == r1.netDemandRows)
    assert(r2.exceptionCount == r1.exceptionCount)
    // the date is written as the DATE partition column it always was
    val nd = spark.read.parquet(s"$tmp/warehouse/net_demand")
    assert(nd.schema("calculation_date").dataType ==
      org.apache.spark.sql.types.DateType)
    assert(nd.select("calculation_date").distinct().collect()
      .map(_.getDate(0).toLocalDate).toSet == Set(d1, d2))
    // with Spark's default class cache (100 entries) the day's working
    // set overflows it, and this second day recompiled 116 classes
    assert(compiles == 0, "classes compiled by the second day's runDay")
  }

  test("a steady runDay's job count: the exception set runs once and the " +
    "net-demand insert has no sort") {
    val f = new TwoDays("graft-pipe-jobs")
    import f._
    val r1 = runDay(d1)
    var r2: Pipeline.Result = null
    val jobs = jobsIn { r2 = runDay(d2) }
    assert(r2 == r1.copy(exportedFiles = r2.exportedFiles,
      exceptionLogPath = r2.exceptionLogPath))
    // exact count in this suite's session; a second run of the exception
    // plan or a range-sampled sort before the insert each adds jobs
    assert(jobs == 23, "jobs of the second day's runDay")
    val exc = graft.operators.Procurement.exceptions(orders, inventory,
      p.productSuppliers, d2)
    assert(jobsIn(graft.sources.Sinks.writeExceptionLog(exc, d2.toString,
      s"$tmp/logs/again")) == 0, "jobs of the exception log's write")
  }

  test("backfillAggregates: one ranged scan covers multiple days and " +
    "overwrites only its partitions") {
    val spark2 = spark
    import spark2.implicits._
    val tmp = Files.createTempDirectory("graft-backfill").toString
    def day(d: String, ids: Seq[Long]) = ids.map(i =>
      (i, (i % 3).toInt + 1, 10, "PENDING", java.sql.Date.valueOf(d)))
    val orders = (day("2026-02-01", 1L to 30L) ++ day("2026-02-02", 31L to 50L)
      ++ day("2026-02-03", 51L to 55L))
      .toDF("order_id", "product_id", "quantity", "status", "order_date")

    val n = Pipeline.backfillAggregates(spark, orders, tmp,
      LocalDate.parse("2026-02-01"), LocalDate.parse("2026-02-03"))
    val table = spark.read.parquet(s"$tmp/aggregated_orders")
    // two days in range, day 3 excluded
    assert(table.select("order_date").distinct().count() == 2)
    val firstCount = table.count()
    assert(n == firstCount)

    // extending the backfill replaces overlapping partitions (day 2) and
    // adds the new one (day 3: products {1,2,3} → 3 groups)
    Pipeline.backfillAggregates(spark, orders, tmp,
      LocalDate.parse("2026-02-02"), LocalDate.parse("2026-02-04"))
    val after = spark.read.parquet(s"$tmp/aggregated_orders")
    assert(after.count() == firstCount + 3)
  }
}
