"""Output checks, run once per run after the timing windows.

`run(workload, result, manifest)` returns (failed op numbers, notes). An
op fails when it raised or when an output it produced fails its check;
the traced-composition consistency check fails every composed op.
"""
import datetime
import decimal
import glob
import math
import statistics

import duckdb


def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def _canon(cols, rows):
    """Order-free form of a result: columns sorted by name, cells
    normalized, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted(tuple(_cell(r[i]) for i in order) for r in rows))


def _fetch(con, sql):
    rel = con.execute(sql)
    return _canon([d[0] for d in rel.description], rel.fetchall())


def _parquet(path):
    return f"read_parquet('{path}/**/*.parquet')"


NET_DEMAND_SQL = """
WITH orders_d AS (SELECT * FROM read_parquet('{daily}/orders/order_date={day}/*.parquet')),
inv_d AS (SELECT * FROM read_parquet('{daily}/inventory/snapshot_date={day}/*.parquet')),
products_r AS (
  SELECT p_partkey AS product_id, p_name AS product_name,
         p_size AS safety_stock_level, (p_size % 7 <> 0) AS is_active
  FROM '{base}/part.parquet'),
suppliers_r AS (
  SELECT s_suppkey AS supplier_id, s_name AS supplier_name,
         (s_acctbal > 1000.0) AS is_active
  FROM '{base}/supplier.parquet'),
ps_r AS (
  SELECT l_partkey AS product_id, l_suppkey AS supplier_id,
         MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS unit_cost,
         CAST(l_suppkey % 5 AS INTEGER) + 1 AS priority
  FROM '{base}/lineitem.parquet' WHERE l_partkey % 10 <> 0
  GROUP BY l_partkey, l_suppkey),
daily_orders AS (
  SELECT product_id, SUM(quantity) AS total_ordered
  FROM orders_d GROUP BY product_id),
agg_inv AS (
  SELECT product_id, SUM(available_qty) AS available_qty,
         SUM(reserved_qty) AS reserved_qty, MAX(safety_stock) AS safety_stock
  FROM inv_d GROUP BY product_id),
ranked AS (
  SELECT product_id, supplier_id, unit_cost,
         ROW_NUMBER() OVER (PARTITION BY product_id
           ORDER BY priority, unit_cost, supplier_id) AS supplier_rank
  FROM ps_r),
calc AS (
  SELECT p.product_id, p.product_name, s.supplier_id, s.supplier_name,
         GREATEST(0, COALESCE(o.total_ordered, 0)
           + COALESCE(i.safety_stock, p.safety_stock_level)
           - (COALESCE(i.available_qty, 0) - COALESCE(i.reserved_qty, 0)))
           AS net_demand,
         CAST(r.unit_cost AS DECIMAL(10,2)) AS unit_cost
  FROM products_r p
  LEFT JOIN daily_orders o ON p.product_id = o.product_id
  LEFT JOIN agg_inv i ON p.product_id = i.product_id
  JOIN ranked r ON p.product_id = r.product_id AND r.supplier_rank = 1
  JOIN suppliers_r s ON r.supplier_id = s.supplier_id
  WHERE p.is_active AND s.is_active)
SELECT product_id, product_name, supplier_id, supplier_name,
       CAST(net_demand AS INTEGER) AS net_demand, unit_cost,
       CAST(net_demand * unit_cost AS DECIMAL(10,2)) AS estimated_cost
FROM calc WHERE net_demand > 0
"""


def daily_batch(result, manifest):
    """Each day's landed partitions against the generator's totals and the
    DuckDB net-demand twin; every op's Result against its day's landed
    outputs (traced and composed ops too)."""
    out = result["outputs"]
    totals = manifest["daily"]["totals"]
    con = duckdb.connect()
    bad, notes = set(), []
    by_day = {}
    for r in out["results"]:
        by_day.setdefault(r["day"], []).append(r)
    for day, results in sorted(by_day.items()):
        agg = f"{out['warehouse']}/aggregated_orders/order_date={day}"
        n, qty, cnt = con.execute(
            "SELECT count(*), sum(total_quantity), sum(order_count) FROM "
            f"read_parquet('{agg}/*.parquet')").fetchone()
        want = totals[day]
        day_errs = []
        if (n, qty, cnt) != (want["products"], want["quantity"],
                             want["orders"]):
            day_errs.append(f"aggregated_orders ({n}, {qty}, {cnt}) != "
                            f"generator ({want['products']}, "
                            f"{want['quantity']}, {want['orders']})")
        nd = f"{out['warehouse']}/net_demand/calculation_date={day}"
        got = _fetch(con, "SELECT product_id, product_name, supplier_id, "
                     "supplier_name, net_demand, unit_cost, estimated_cost "
                     f"FROM read_parquet('{nd}/*.parquet')")
        exp = _fetch(con, NET_DEMAND_SQL.format(daily=out["daily"], day=day,
                                                base=out["base"]))
        if got != exp:
            day_errs.append(f"net_demand: {len(got[1])} rows differ from "
                            f"the DuckDB twin's {len(exp[1])}")
        suppliers = len({row[got[0].index("supplier_id")] for row in got[1]})
        order_day = str(datetime.date.fromisoformat(day)
                        + datetime.timedelta(days=1))
        files = len(glob.glob(f"{out['output']}/supplier_orders/{order_day}/"
                              "supplier_*.json"))
        if files != suppliers:
            day_errs.append(f"{files} supplier files on disk, {suppliers} "
                            "suppliers with demand")
        for e in day_errs:
            notes.append(f"CHECK FAILED {day}: {e}")
        for r in results:
            have = (r["aggregated_orders"], r["net_demand_rows"],
                    r["exported_files"])
            if day_errs or have != (n, len(got[1]), files):
                bad.add(r["n"])
                if not day_errs:
                    notes.append(f"CHECK FAILED {day} op {r['n']}: Result "
                                 f"{have} != landed ({n}, {len(got[1])}, "
                                 f"{files})")
    notes.append(f"daily_batch: {len(by_day)} days, {len(out['results'])} "
                 "op Results checked against generator totals and the "
                 "DuckDB net-demand twin")
    return bad, notes


def incremental_waves(result, manifest):
    """Each op's curated set (prefix and its slice) against the one-shot
    keep-first twin over the same docs, and its latestCooccurrence read
    against the q214 DuckDB oracle over the same events."""
    out = result["outputs"]
    con = duckdb.connect()
    bad, notes = set(), []
    root = out["root"]
    keep = {r[0] for r in con.execute(
        f"SELECT doc_id FROM {_parquet(out['keep'])}").fetchall()}
    pairs = con.execute(
        f"SELECT id_a, id_b FROM {_parquet(out['pairs'])}").fetchall()

    def ids(k):
        return {r[0] for r in con.execute(
            f"SELECT doc_id FROM '{root}/docs/wave={k}/part-0.parquet'"
        ).fetchall()}

    prefix = ids(0)
    twins, oracles = {}, {}
    for op in out["ops"]:
        s = op["slice"]
        if s not in twins:
            docs = prefix | ids(s)
            dropped = {b for a, b in pairs if a in docs and b in docs}
            twins[s] = (docs & keep) - dropped
            con.execute(
                "CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet("
                f"['{root}/events/wave=0/part-0.parquet', "
                f"'{root}/events/wave={s}/part-0.parquet'])")
            oracles[s] = _fetch(con, out["cooccur_sql"])
        got = {r[0] for r in con.execute(
            f"SELECT doc_id FROM {_parquet(op['curated'])}").fetchall()}
        errs = []
        if got != twins[s] or not got:
            errs.append(f"curated set ({len(got)}) != one-shot keep-first "
                        f"twin ({len(twins[s])})")
        have = _canon(["type_a", "type_b", "n_ab"],
                      [tuple(r) for r in op["cooccur"]])
        if have != oracles[s]:
            errs.append("latestCooccurrence differs from the q214 oracle")
        for e in errs:
            notes.append(f"CHECK FAILED op {op['n']} (slice {s}): {e}")
        if errs:
            bad.add(op["n"])
    notes.append(f"incremental_waves: {len(out['ops'])} ops over "
                 f"{len(twins)} slices checked against the keep-first twin "
                 "and the q214 oracle")
    return bad, notes


def traced_consistency(result):
    """daily_batch, traced: the composed ops call runDay's stages one by
    one. The median sum of their four Pipeline.* spans must be within
    COMPOSITION_TOLERANCE of the median runDay call traced the same way
    (same listeners, same inputs), or the composition has drifted from
    runDay and its stage split no longer describes the program."""
    layers = result["layers"]
    call = statistics.median(x["wall_s"] for x in layers
                             if x["mode"] == "call")
    stages = statistics.median(
        sum(v for k, v in x["spans"].items() if k.startswith("Pipeline."))
        for x in layers if x["mode"] == "composed")
    gap = abs(stages / call - 1)
    note = (f"stage spans {stages:.3f} s vs traced runDay {call:.3f} s: "
            f"gap {gap:.3f}, allowed {COMPOSITION_TOLERANCE:.2f}")
    return gap <= COMPOSITION_TOLERANCE, note


# how far the composed ops' stage sum may sit from the traced runDay calls,
# as a share: the op-to-op noise of a median of three on one box
COMPOSITION_TOLERANCE = 0.10

CHECKS = {"daily_batch": daily_batch,
          "incremental_waves": incremental_waves}


def run(workload, result, manifest):
    bad, notes = CHECKS[workload](result, manifest)
    if workload == "daily_batch" and "layers" in result:
        ok, note = traced_consistency(result)
        notes.append(("" if ok else "CHECK FAILED: ") +
                     "traced composition: " + note)
        if not ok:
            bad |= {o["n"] for o in result["window"]["ops"]
                    if o["mode"] == "composed"}
    return bad, notes
