package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Rule-based data-quality layer generalizing the reference's two inline
  * checks (SURVEY.md §2.9, procurement_dag.py:153-194) into a declarative
  * rule set: each rule yields violating product_ids (or any key), tagged
  * with type + severity, union'd into the exception frame the JSON sink
  * writes.
  *
  * Rules evaluate lazily as DataFrames — the union is one plan; Catalyst
  * shares scans between rules where it can, and nothing is collected
  * until the sink runs.
  */
object Quality {

  final case class Rule(name: String, severity: String,
                        violations: DataFrame)

  /** Evaluate rules → exception rows `(type, severity, product_id)`
    * (procurement_dag.py:169,179 shape). Each rule's frame must expose a
    * product_id column. */
  def exceptions(rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "no rules")
    rules.map { r =>
      r.violations.select(
        lit(r.name).as("type"), lit(r.severity).as("severity"),
        col("product_id"))
    }.reduce(_ unionByName _)
  }

  /** The reference's rule set over the procurement inputs. */
  def referenceRules(orders: DataFrame, inventory: DataFrame,
                     productSuppliers: DataFrame,
                     d: java.time.LocalDate): Seq[Rule] = Seq(
    Rule("MISSING_SUPPLIER_MAPPING", "HIGH",
      Procurement.missingSupplierMapping(orders, productSuppliers, d)),
    Rule("MISSING_INVENTORY", "MEDIUM",
      Procurement.missingInventory(orders, inventory, d)))

  /** Extra rule a production pipeline would add (modelled, tested):
    * negative/zero quantities. */
  def nonPositiveQuantity(orders: DataFrame): DataFrame =
    orders.filter(col("quantity") <= 0).select("product_id").distinct()

  /** A declarative TABLE-level constraint: `metric` is any aggregate
    * expression over the table reduced to one int64 (fractions in basis
    * points — floor division keeps every engine exact); the constraint
    * passes when the metric lands in [lo, hi]. */
  final case class Constraint(name: String, metric: Column,
                              lo: Long, hi: Long)

  /** Deequ-style verification suite (Schelter et al., VLDB 2018): every
    * constraint's metric computes in ONE aggregation pass over the table
    * (the structs share a single Aggregate — Catalyst extracts all the
    * aggregate functions into one map-side-combined reduce, so the scan
    * happens once no matter how many constraints), then the 1-row result
    * explodes into the (constraint, metric, pass) report. No per-rule
    * scans, no driver-side metric reads. */
  def verifyConstraints(df: DataFrame,
                        constraints: Seq[Constraint]): DataFrame = {
    require(constraints.nonEmpty, "no constraints")
    val entries = constraints.map { c =>
      // NULL metric (e.g. a ratio whose denominator collapsed to 0 on a
      // degenerate input) must FAIL, not propagate NULL: a consumer
      // filtering pass=false would silently drop a NULL-pass row and the
      // gate would wave through exactly the inputs it exists to catch.
      val m = coalesce(c.metric.cast("long"), lit(-1L))
      struct(lit(c.name).as("check_name"), m.as("metric"),
        (m >= c.lo && m <= c.hi).as("pass"))
    }
    df.agg(array(entries: _*).as("cs"))
      .select(explode(col("cs")).as("c"))
      .select(col("c.check_name").as("check_name"),
        col("c.metric").as("metric"), col("c.pass").as("pass"))
  }

  /** Standard constraint metrics, all exact int64. */
  def sizeMetric: Column = count(lit(1))

  /** Fraction of non-null values, basis points. A zero denominator
    * (empty table) yields -1 — an explicit out-of-range failure, never a
    * NULL that a pass=false filter would silently drop. */
  def completenessBp(c: String): Column =
    coalesce(expr(s"count(`$c`) * 10000 div nullif(count(1), 0)"),
      lit(-1L))

  /** Distinct non-null values over non-null rows, basis points —
    * 10000 ⟺ the column is a key. All-null column (denominator 0) → -1,
    * an explicit failure (same rationale as [[completenessBp]]). */
  def uniquenessBp(c: String): Column =
    coalesce(
      expr(s"count(DISTINCT `$c`) * 10000 div nullif(count(`$c`), 0)"),
      lit(-1L))

  /** A referential-integrity check: orphan rate of `child.childKey`
    * against `parent.parentKey` (non-null child keys with no parent
    * row), in basis points; passes when the rate lands in [lo, hi]
    * (normally [0, 0]). */
  final case class FkCheck(name: String, child: DataFrame,
                           childKey: String, parent: DataFrame,
                           parentKey: String, lo: Long, hi: Long)

  /** Cross-table companion to [[verifyConstraints]] (Deequ's
    * isContainedIn/foreign-key check): each FK check is one
    * left join of the child's key column against the parent's distinct
    * keys + a 1-row orphan-rate aggregate — the child table scans
    * once per check, only its key column shuffles, and the parent's
    * distinct key side is exactly the Bloom-prunable build side at
    * scale. Same (check_name, metric, pass) report shape, so callers
    * union the two verifiers into one report. */
  def verifyReferential(checks: Seq[FkCheck]): DataFrame = {
    require(checks.nonEmpty, "no checks")
    checks.map { ck =>
      val parents = ck.parent
        .select(col(ck.parentKey).as("k")).na.drop().distinct()
        .withColumn("_p", lit(true))
      ck.child.select(col(ck.childKey).as("k")).na.drop()
        .join(parents, Seq("k"), "left")
        .agg(coalesce(
          expr("sum(CASE WHEN _p IS NULL THEN 1 ELSE 0 END) " +
            "* 10000 div nullif(count(1), 0)"), lit(0L)).as("metric"))
        .select(lit(ck.name).as("check_name"), col("metric"),
          (col("metric") >= ck.lo && col("metric") <= ck.hi).as("pass"))
    }.reduce(_ unionByName _)
  }
}
