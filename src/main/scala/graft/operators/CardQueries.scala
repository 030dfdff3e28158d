package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{Dedup, Graph, Hnsw, Layout, Mixing, NaiveBayes, Pii, Projection, Retrieval, Similarity, Sketches, TextAnalysis}
import graft.sources.{Tables, VersionedTable}
import ParityQueries.Q
import ExtensionShared._

/** Relational/procurement analytics cards: rollup/cube/pivot, SCD2, salted agg/join, FK checks, RFM/Pareto/HHI and other dashboard cards.
  *
  * One domain registry of the extension surface; composed (in the
  * original, order-stable sequence) by [[ExtensionQueries.all]].
  */
object CardQueries {

  val all: Seq[Q] = Seq(

    Q("q39_running_totals",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Replay.orders(s, dir).filter(Replay.ordersWhen)
          .groupBy("product_id", "order_date")
          .agg(sum("quantity").as("daily_qty"))
        val w = Window.partitionBy(col("product_id"))
          .orderBy(col("order_date"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily.withColumn("cum_qty", sum("daily_qty").over(w))
          .orderBy("product_id", "order_date")
      },
      Some(ParityQueries.prelude +
        """, daily AS (
          |  SELECT product_id, order_date,
          |         CAST(SUM(quantity) AS BIGINT) AS daily_qty
          |  FROM orders_w GROUP BY product_id, order_date
          |)
          |SELECT product_id, order_date, daily_qty,
          |       CAST(SUM(daily_qty) OVER (PARTITION BY product_id
          |         ORDER BY order_date
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |         AS BIGINT) AS cum_qty
          |FROM daily ORDER BY product_id, order_date""".stripMargin)),

    // Set operations: INTERSECT / EXCEPT across two half-year windows.

    Q("q40_set_ops",
      (s, dir) => {
        val o = Replay.orders(s, dir)
        def ids(from: String, to: String) = o.filter(
          col("order_date") >= lit(java.sql.Date.valueOf(from)) &&
            col("order_date") < lit(java.sql.Date.valueOf(to)))
          .select("product_id")
        val h1 = ids("1996-01-01", "1996-07-01")
        val h2 = ids("1996-07-01", "1997-01-01")
        h1.intersect(h2).withColumn("tag", lit("both"))
          .unionByName(h1.except(h2).withColumn("tag", lit("h1_only")))
          .unionByName(h2.except(h1).withColumn("tag", lit("h2_only")))
          .orderBy("tag", "product_id")
      },
      Some(ParityQueries.prelude +
        """, h1 AS (
          |  SELECT product_id FROM orders_r
          |  WHERE order_date >= DATE '1996-01-01'
          |    AND order_date < DATE '1996-07-01'
          |), h2 AS (
          |  SELECT product_id FROM orders_r
          |  WHERE order_date >= DATE '1996-07-01'
          |    AND order_date < DATE '1997-01-01'
          |)
          |SELECT product_id, 'both' AS tag
          |  FROM (SELECT product_id FROM h1 INTERSECT SELECT product_id FROM h2)
          |UNION ALL
          |SELECT product_id, 'h1_only' FROM
          |  (SELECT product_id FROM h1 EXCEPT SELECT product_id FROM h2)
          |UNION ALL
          |SELECT product_id, 'h2_only' FROM
          |  (SELECT product_id FROM h2 EXCEPT SELECT product_id FROM h1)
          |ORDER BY tag, product_id""".stripMargin)),

    // BPE-ish pre-tokenizer counts (GPT2-style pattern, ASCII variant) —
    // regex semantics agree between Java regex and RE2 for this pattern.

    Q("q45_rollup",
      (s, dir) => Replay.orders(s, dir).filter(Replay.ordersWhen)
        .withColumn("pbucket", (col("product_id") % 4).cast("int"))
        .rollup(col("status"), col("pbucket"))
        .agg(sum("quantity").as("total_qty"), count(lit(1)).as("n_rows"))
        .orderBy(asc_nulls_first("status"), asc_nulls_first("pbucket")),
      Some(ParityQueries.prelude +
        """SELECT status, CAST(product_id % 4 AS INTEGER) AS pbucket,
          |       CAST(SUM(quantity) AS BIGINT) AS total_qty,
          |       CAST(COUNT(*) AS BIGINT) AS n_rows
          |FROM orders_w
          |GROUP BY ROLLUP (status, pbucket)
          |ORDER BY status NULLS FIRST, pbucket NULLS FIRST""".stripMargin)),

    // CUBE: all grouping-set combinations over (status, pbucket).

    Q("q50_cube",
      (s, dir) => Replay.orders(s, dir).filter(Replay.ordersWhen)
        .withColumn("pbucket", (col("product_id") % 4).cast("int"))
        .cube(col("status"), col("pbucket"))
        .agg(sum("quantity").as("total_qty"), count(lit(1)).as("n_rows"))
        .orderBy(asc_nulls_first("status"), asc_nulls_first("pbucket")),
      Some(ParityQueries.prelude +
        """SELECT status, CAST(product_id % 4 AS INTEGER) AS pbucket,
          |       CAST(SUM(quantity) AS BIGINT) AS total_qty,
          |       CAST(COUNT(*) AS BIGINT) AS n_rows
          |FROM orders_w
          |GROUP BY CUBE (status, pbucket)
          |ORDER BY status NULLS FIRST, pbucket NULLS FIRST""".stripMargin)),

    // Outlier detection with EXACT arithmetic: events values are 2dp →
    // decimal sums/sum-of-squares are order-independent; a row is an
    // outlier when (n·x − Σx)² > 9·(n·Σx² − (Σx)²)  ⇔  |x − μ| > 3σ,
    // all in integer-exact decimal (no float variance).

    Q("q46_pivot",
      (s, dir) => Replay.orders(s, dir).filter(Replay.ordersWhen)
        .groupBy("product_id")
        .pivot("status", Seq("A", "N", "R"))
        .agg(sum("quantity"))
        .select(col("product_id"), col("A").as("qty_a"),
          col("N").as("qty_n"), col("R").as("qty_r"))
        .orderBy("product_id"),
      Some(ParityQueries.prelude +
        """SELECT product_id,
          |  CAST(SUM(CASE WHEN status = 'A' THEN quantity END) AS BIGINT) AS qty_a,
          |  CAST(SUM(CASE WHEN status = 'N' THEN quantity END) AS BIGINT) AS qty_n,
          |  CAST(SUM(CASE WHEN status = 'R' THEN quantity END) AS BIGINT) AS qty_r
          |FROM orders_w GROUP BY product_id ORDER BY product_id""".stripMargin)),

    // Skew-mitigation operators through the oracle gate: the two-stage
    // salted aggregation and the replicated-right salted join must be
    // value-identical to their plain formulations (which is what the
    // DuckDB oracle computes).

    Q("q56_salted_agg",
      (s, dir) => graft.operators.Skew.saltedAgg(
        Replay.orders(s, dir).filter(Replay.ordersWhen),
        keys = Seq("product_id"), saltBuckets = 8,
        partials = Map("total_qty" -> sum(col("quantity")),
          "n_rows" -> count(lit(1))),
        merge = Map("total_qty" -> sum(col("total_qty")),
          "n_rows" -> sum(col("n_rows"))))
        .orderBy("product_id"),
      Some(ParityQueries.prelude +
        """SELECT product_id, CAST(SUM(quantity) AS BIGINT) AS total_qty,
          |       CAST(COUNT(*) AS BIGINT) AS n_rows
          |FROM orders_w GROUP BY product_id ORDER BY product_id""".stripMargin)),

    Q("q57_salted_join",
      (s, dir) => graft.operators.Skew.saltedJoin(
        Replay.orders(s, dir).filter(Replay.ordersWhen),
        Replay.products(s, dir).select(col("product_id"), col("is_active")),
        key = "product_id", saltBuckets = 8)
        .groupBy("is_active")
        .agg(count(lit(1)).as("n_rows"), sum("quantity").as("total_qty"))
        .orderBy("is_active"),
      Some(ParityQueries.prelude +
        """SELECT p.is_active, CAST(COUNT(*) AS BIGINT) AS n_rows,
          |       CAST(SUM(o.quantity) AS BIGINT) AS total_qty
          |FROM orders_w o JOIN products_r p ON o.product_id = p.product_id
          |GROUP BY p.is_active ORDER BY p.is_active""".stripMargin)),

    // Interval self-join (the batch twin of the stream-stream
    // EventStreams.recentPairs): each event pairs with the same user's
    // events in the trailing 10 minutes. A plain equi-join on user_id
    // alone is O(per-user²) in the residual filter; bucketing time into
    // window-sized epochs and joining on (user, epoch) — with the right
    // side visible in its own and the NEXT epoch — bounds each local
    // cross product to two epochs of events. Any qualifying pair lands
    // in exactly one epoch match (ts_a − ts_b ∈ (0, 600] ⇒ epoch_b ∈
    // {epoch_a − 1, epoch_a}), so no dedup pass is needed.

    Q("q79_scd2_status",
      (s, dir) => Scd.build(Tables.load(s, dir, "orders"))
        .orderBy("customer_id", "valid_from", "change_key"),
      Some("""WITH ch AS (
             |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
             |         lag(o_orderstatus) OVER (PARTITION BY o_custkey
             |           ORDER BY o_orderdate, o_orderkey) AS prev
             |  FROM orders
             |), runs AS (
             |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
             |         lead(o_orderdate) OVER (PARTITION BY o_custkey
             |           ORDER BY o_orderdate, o_orderkey) AS valid_to
             |  FROM ch WHERE prev IS NULL OR prev <> o_orderstatus
             |)
             |SELECT o_custkey AS customer_id, o_orderkey AS change_key,
             |       o_orderstatus AS status, o_orderdate AS valid_from,
             |       valid_to, valid_to IS NULL AS is_current
             |FROM runs
             |ORDER BY customer_id, valid_from, change_key""".stripMargin)),

    // KMV distinct-count sketch per source over trigram shingles: the
    // bounded-state alternative to exact COUNT(DISTINCT) — k longs per
    // group cross the shuffle instead of every distinct value. The k-th
    // minimum hash is an exact integer (the oracle-pinnable core); the
    // estimate is one fixed IEEE multiply+divide from it.

    Q("q93_scd2_upsert",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        val cutoff = lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
        val standing = Tables.memoTable(s, dir, "scd2_status") {
          Scd.build(orders.filter(col("o_orderdate") < cutoff))
        }
        Scd.applyBatch(standing,
          orders.filter(col("o_orderdate") >= cutoff))
          .orderBy("customer_id", "valid_from", "change_key")
      },
      Some("""WITH ch AS (
             |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
             |         lag(o_orderstatus) OVER (PARTITION BY o_custkey
             |           ORDER BY o_orderdate, o_orderkey) AS prev
             |  FROM orders
             |), runs AS (
             |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
             |         lead(o_orderdate) OVER (PARTITION BY o_custkey
             |           ORDER BY o_orderdate, o_orderkey) AS valid_to
             |  FROM ch WHERE prev IS NULL OR prev <> o_orderstatus
             |)
             |SELECT o_custkey AS customer_id, o_orderkey AS change_key,
             |       o_orderstatus AS status, o_orderdate AS valid_from,
             |       valid_to, valid_to IS NULL AS is_current
             |FROM runs
             |ORDER BY customer_id, valid_from, change_key""".stripMargin)),

    // Hybrid retrieval capstone — reciprocal-rank fusion of the two
    // round-5 retrieval stacks: BM25 through the index join path (q85)
    // and dense IVF multi-probe ANN (q62), fused per query by
    // Σ 1/(60 + rank) in EXACT integer micro-units (1000000 div
    // (60+rank)), so the two-stack composition is fully oracle-able.
    // The oracle restates BOTH rankings (the q85 and q62 chains,
    // non-colliding CTE names) plus the fusion.

    Q("q125_join_diagnostics",
      (s, dir) => Skew.joinDiagnostics(
        Tables.load(s, dir, "orders"), "o_orderkey",
        Tables.load(s, dir, "lineitem"), "l_orderkey"),
      Some("""WITH ca AS (
             |  SELECT o_orderkey AS k, COUNT(*) AS ca
             |  FROM orders GROUP BY 1
             |), cb AS (
             |  SELECT l_orderkey AS k, COUNT(*) AS cb
             |  FROM lineitem GROUP BY 1
             |), j AS (
             |  SELECT ca.k, ca.ca * cb.cb AS contrib
             |  FROM ca JOIN cb USING (k)
             |), top AS (
             |  SELECT k, contrib FROM j
             |  ORDER BY contrib DESC, k DESC LIMIT 1
             |)
             |SELECT
             |  (SELECT CAST(SUM(ca) AS BIGINT) FROM ca) AS n_a,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ca) AS ndv_a,
             |  (SELECT CAST(SUM(cb) AS BIGINT) FROM cb) AS n_b,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cb) AS ndv_b,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM j)
             |    AS n_matching_keys,
             |  (SELECT CAST(COALESCE(SUM(contrib), 0) AS BIGINT) FROM j)
             |    AS out_rows,
             |  CAST(top.k AS BIGINT) AS top_key,
             |  CAST(top.contrib AS BIGINT) AS top_contrib
             |FROM top""".stripMargin)),

    // ADAPTIVE quality gate: the cutoffs come from the corpus's own
    // distribution (10th percentile of alpha ratio and word count via
    // the sort-free histogram percentiles — both integral, both exact)
    // instead of hand-picked constants, then a per-source kept/dropped
    // census against the broadcast thresholds. Thresholds travel in the
    // output so the gate is self-describing. One census pass + two
    // domain-sized histogram aggregates; no sort, no row shuffle.

    Q("q142_snapshot_diff",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val oldSnap = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        val newSnap = docs.filter(pmod(col("doc_id"), lit(11)) =!= 0)
          .withColumn("text",
            when(pmod(col("doc_id"), lit(5)) === 0,
              concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
        Dedup.snapshotDiff(oldSnap, newSnap)
          .orderBy("doc_id")
      },
      Some("""WITH o AS (
             |  SELECT doc_id, md5(text) AS fp_old FROM documents
             |  WHERE doc_id % 7 <> 0
             |), n AS (
             |  SELECT doc_id,
             |         md5(CASE WHEN doc_id % 5 = 0
             |                  THEN text || ' [rev2]' ELSE text END)
             |           AS fp_new
             |  FROM documents WHERE doc_id % 11 <> 0
             |)
             |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             |       CASE WHEN o.fp_old IS NULL THEN 'added'
             |            WHEN n.fp_new IS NULL THEN 'removed'
             |            WHEN o.fp_old <> n.fp_new THEN 'modified'
             |            ELSE 'unchanged' END AS status,
             |       o.fp_old, n.fp_new
             |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
             |ORDER BY doc_id""".stripMargin)),

    // Product quantization (functions/Pq.scala, Jégou TPAMI 2011):
    // 64 float dims compress to 8 one-byte codes against per-subspace
    // codebooks (first-16 seed + one micro-unit-quantized Lloyd mean
    // round — the q42 recipe per subspace). q143 oracles the full code
    // assignment: seed, Lloyd round, argmin-d² with low-code ties — the
    // whole training pipeline replayed in DuckDB over (vec_id, m).

    Q("q178_constraint_checks",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        Quality.verifyConstraints(orders, Seq(
          Quality.Constraint("size_in_range", Quality.sizeMetric,
            1L, 1000000000L),
          Quality.Constraint("complete(o_custkey)",
            Quality.completenessBp("o_custkey"), 10000L, 10000L),
          Quality.Constraint("unique(o_orderkey)",
            Quality.uniquenessBp("o_orderkey"), 10000L, 10000L),
          Quality.Constraint("unique(o_custkey)",
            Quality.uniquenessBp("o_custkey"), 9990L, 10000L),
          Quality.Constraint("min_totalprice_cents",
            floor(min(col("o_totalprice")) * 100), 0L, 1000000000000L)))
          .orderBy("check_name")
      },
      Some("""WITH m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS size_m,
             |         CAST(COUNT(o_custkey) * 10000 // COUNT(*)
             |           AS BIGINT) AS comp_ck,
             |         CAST(COUNT(DISTINCT o_orderkey) * 10000
             |           // COUNT(o_orderkey) AS BIGINT) AS uniq_ok,
             |         CAST(COUNT(DISTINCT o_custkey) * 10000
             |           // COUNT(o_custkey) AS BIGINT) AS uniq_ck,
             |         CAST(floor(MIN(o_totalprice) * 100) AS BIGINT)
             |           AS min_tp
             |  FROM orders
             |)
             |SELECT * FROM (
             |  SELECT 'complete(o_custkey)' AS check_name,
             |         comp_ck AS metric,
             |         comp_ck BETWEEN 10000 AND 10000 AS pass FROM m
             |  UNION ALL SELECT 'min_totalprice_cents', min_tp,
             |         min_tp BETWEEN 0 AND 1000000000000 FROM m
             |  UNION ALL SELECT 'size_in_range', size_m,
             |         size_m BETWEEN 1 AND 1000000000 FROM m
             |  UNION ALL SELECT 'unique(o_custkey)', uniq_ck,
             |         uniq_ck BETWEEN 9990 AND 10000 FROM m
             |  UNION ALL SELECT 'unique(o_orderkey)', uniq_ok,
             |         uniq_ok BETWEEN 10000 AND 10000 FROM m
             |) ORDER BY check_name""".stripMargin)),

    // C4 line-level cleaning (Raffel et al. 2020 §2.2) over a
    // deterministically line-structured corpus (the q149 enrichment
    // pattern: 10-word lines, id-derived terminal punctuation /
    // "javascript" / lorem-ipsum / curly-brace injections both engines
    // regenerate), so every rule fires on real traffic.

    Q("q189_fk_checks",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        val customer = Tables.load(s, dir, "customer")
        val lineitem = Tables.load(s, dir, "lineitem")
        val part = Tables.load(s, dir, "part")
        Quality.verifyReferential(Seq(
          Quality.FkCheck("fk_orders_customer", orders, "o_custkey",
            customer, "c_custkey", 0L, 0L),
          Quality.FkCheck("fk_lineitem_part", lineitem, "l_partkey",
            part, "p_partkey", 0L, 0L),
          Quality.FkCheck("fk_orders_even_customers", orders,
            "o_custkey",
            customer.filter(col("c_custkey") % 2 === 0), "c_custkey",
            0L, 0L)))
          .orderBy("check_name")
      },
      Some("""SELECT * FROM (
             |  SELECT 'fk_lineitem_part' AS check_name,
             |         CAST(SUM(CASE WHEN p.p_partkey IS NULL
             |                  THEN 1 ELSE 0 END) * 10000
             |           // COUNT(*) AS BIGINT) AS metric,
             |         CAST(SUM(CASE WHEN p.p_partkey IS NULL
             |                  THEN 1 ELSE 0 END) * 10000
             |           // COUNT(*) AS BIGINT) = 0 AS pass
             |  FROM lineitem l LEFT JOIN (
             |    SELECT DISTINCT p_partkey FROM part) p
             |    ON p.p_partkey = l.l_partkey
             |  UNION ALL
             |  SELECT 'fk_orders_customer',
             |         CAST(SUM(CASE WHEN c.c_custkey IS NULL
             |                  THEN 1 ELSE 0 END) * 10000
             |           // COUNT(*) AS BIGINT),
             |         CAST(SUM(CASE WHEN c.c_custkey IS NULL
             |                  THEN 1 ELSE 0 END) * 10000
             |           // COUNT(*) AS BIGINT) = 0
             |  FROM orders o LEFT JOIN (
             |    SELECT DISTINCT c_custkey FROM customer) c
             |    ON c.c_custkey = o.o_custkey
             |  UNION ALL
             |  SELECT 'fk_orders_even_customers',
             |         CAST(SUM(CASE WHEN c.c_custkey IS NULL
             |                  THEN 1 ELSE 0 END) * 10000
             |           // COUNT(*) AS BIGINT),
             |         CAST(SUM(CASE WHEN c.c_custkey IS NULL
             |                  THEN 1 ELSE 0 END) * 10000
             |           // COUNT(*) AS BIGINT) = 0
             |  FROM orders o LEFT JOIN (
             |    SELECT DISTINCT c_custkey FROM customer
             |    WHERE c_custkey % 2 = 0) c
             |    ON c.c_custkey = o.o_custkey
             |) ORDER BY check_name""".stripMargin)),

    // Training-run manifest: the release artifact for a PACKED corpus
    // (the q170 data card's counterpart at the training-stream grain)
    // — per source: examples, token mass, loss-mask mass and fraction,
    // sequences touched. Pure rollup of the q177 layout.

    Q("q222_length_gini",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val nw = Tables.load(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            when(length(trim(col("text"))) === 0, 0L)
              .otherwise(size(split(trim(col("text")), "\\s+"))
                .cast("long")).as("nw"))
        val ranked = nw.withColumn("i",
          row_number().over(Window.partitionBy("source")
            .orderBy(asc("nw"), asc("doc_id"))).cast("long"))
        ranked.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("nw")).as("tokens"),
            sum(col("i").cast("decimal(19,0)") * col("nw"))
              .as("iw"))
          .select(col("source"), col("n_docs"), col("tokens"),
            expr("CAST(CASE WHEN n_docs * tokens = 0 THEN -1" +
              " ELSE ((2 * iw - (CAST(n_docs AS DECIMAL(38,0)) + 1)" +
              " * tokens) * 1000000)" +
              " DIV (CAST(n_docs AS DECIMAL(38,0)) * tokens)" +
              " END AS BIGINT)").as("gini_micro"))
          .orderBy("source")
      },
      Some("""WITH d AS (
             |  SELECT source, doc_id,
             |         CASE WHEN length(trim(text)) = 0 THEN 0
             |              ELSE len(string_split_regex(trim(text),
             |                       '\s+')) END AS nw
             |  FROM documents
             |), rk AS (
             |  SELECT source, CAST(nw AS BIGINT) AS nw,
             |         CAST(ROW_NUMBER() OVER (PARTITION BY source
             |           ORDER BY nw, doc_id) AS BIGINT) AS i
             |  FROM d
             |), st AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |         CAST(SUM(nw) AS BIGINT) AS tokens,
             |         SUM(CAST(i AS HUGEINT) * nw) AS iw
             |  FROM rk GROUP BY 1
             |)
             |SELECT source, n_docs, tokens,
             |       CAST(CASE WHEN n_docs * tokens = 0 THEN -1
             |         ELSE ((2 * iw - (CAST(n_docs AS HUGEINT) + 1)
             |           * tokens) * 1000000)
             |           // (CAST(n_docs AS HUGEINT) * tokens)
             |         END AS BIGINT) AS gini_micro
             |FROM st ORDER BY source""".stripMargin)),

    // Head-vocabulary overlap between source pairs: Jaccard (bp) of
    // each source's top-50 term set — lexical-register similarity at
    // the PROVENANCE grain (two "different" feeds sharing 90% of their
    // head vocabulary are usually the same crawl wearing two names; a
    // complement to q128's MinHash-sketched full-vocab overlap and q220's
    // near-dup provenance). The candidate volume is sources²·top-k
    // with k FIXED at 50 — bounded by the source domain, never the
    // corpus; the only corpus-scale step is the shared (source, term)
    // count aggregate.

    Q("q262_rfm_segments",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .withColumn("ts_s", col("ts").cast("long"))
        val now = ev.agg(max("ts_s").as("now_s"))
        ev.groupBy("user_id")
          .agg(max("ts_s").as("last_s"), count(lit(1)).as("freq"),
            sum(when(col("event_type") === "purchase",
              floor(col("value") * 100).cast("long")).otherwise(0L))
              .as("cents"))
          .crossJoin(broadcast(now))
          .select(
            when(col("now_s") - col("last_s") <= 7L * 86400L, 1L)
              .when(col("now_s") - col("last_s") <= 30L * 86400L, 2L)
              .otherwise(3L).as("r_bucket"),
            when(col("freq") >= 10, 1L).when(col("freq") >= 3, 2L)
              .otherwise(3L).as("f_bucket"),
            when(col("cents") >= 50000L, 1L)
              .when(col("cents") >= 10000L, 2L)
              .otherwise(3L).as("m_bucket"))
          .groupBy("r_bucket", "f_bucket", "m_bucket")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("r_bucket", "f_bucket", "m_bucket")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type,
             |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
             |         value
             |  FROM events
             |), nw AS (
             |  SELECT MAX(ts_s) AS now_s FROM e
             |), u AS (
             |  SELECT user_id, MAX(ts_s) AS last_s,
             |         CAST(COUNT(*) AS BIGINT) AS freq,
             |         CAST(SUM(CASE WHEN event_type = 'purchase'
             |           THEN CAST(floor(value * 100) AS BIGINT)
             |           ELSE 0 END) AS BIGINT) AS cents
             |  FROM e GROUP BY 1
             |), b AS (
             |  SELECT CASE WHEN nw.now_s - u.last_s <= 604800 THEN 1
             |              WHEN nw.now_s - u.last_s <= 2592000 THEN 2
             |              ELSE 3 END AS r_bucket,
             |         CASE WHEN u.freq >= 10 THEN 1
             |              WHEN u.freq >= 3 THEN 2
             |              ELSE 3 END AS f_bucket,
             |         CASE WHEN u.cents >= 50000 THEN 1
             |              WHEN u.cents >= 10000 THEN 2
             |              ELSE 3 END AS m_bucket
             |  FROM u CROSS JOIN nw
             |)
             |SELECT CAST(r_bucket AS BIGINT) AS r_bucket,
             |       CAST(f_bucket AS BIGINT) AS f_bucket,
             |       CAST(m_bucket AS BIGINT) AS m_bucket,
             |       CAST(COUNT(*) AS BIGINT) AS n_users
             |FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // Revenue-concentration (Pareto) card — how much of total part
    // revenue the top 1/5/20/50% of parts carry, WITHOUT a global
    // sort: per-part revenue in exact cents, the four rank thresholds
    // from the radix-select quantile kernel (q116 — histogram passes,
    // a few longs of driver state), then one bucket aggregate against
    // the broadcast thresholds. The 80/20 shape is the assortment-
    // rationalization number; a flat curve means no head to optimize.

    Q("q263_pareto_revenue",
      (s, dir) => {
        val rev = Tables.load(s, dir, "lineitem")
          .groupBy("l_partkey")
          .agg(sum(floor(col("l_extendedprice") * 100 + 0.5)
            .cast("long")).as("cents"))
          .localCheckpoint() // quantile passes + bucket agg read it
        // percentile thresholds via q116's radix select: bounded
        // driver state by construction (its documented contract)
        val th = Sketches.bisectQuantiles(rev, "cents",
            Seq(50, 80, 95, 99))
          .select(col("p"), col("value")).collect()
          .map(r => (r.getLong(0), r.getDouble(1).toLong))
        val totF = rev.agg(sum("cents").as("total_cents"))
        th.map { case (p, t) =>
          rev.filter(col("cents") >= t)
            .agg(count(lit(1)).as("n_parts"), sum("cents").as("c"))
            .crossJoin(broadcast(totF))
            .select(lit(p).as("p"), lit(t).as("threshold_cents"),
              col("n_parts"),
              expr("c * 10000 div total_cents")
                .as("revenue_share_bp"))
        }.reduce(_ unionByName _).orderBy("p")
      },
      Some("""WITH r AS (
             |  SELECT l_partkey,
             |         CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) AS cents
             |  FROM lineitem GROUP BY 1
             |), s AS (
             |  SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn,
             |         COUNT(*) OVER () AS n
             |  FROM r
             |), t AS (
             |  SELECT unnest([50, 80, 95, 99]) AS p
             |), th AS (
             |  SELECT CAST(t.p AS BIGINT) AS p, s.cents AS thr
             |  FROM t JOIN s ON s.rn = (s.n * t.p + 99) // 100
             |), tot AS (
             |  SELECT CAST(SUM(cents) AS BIGINT) AS total_cents FROM r
             |)
             |SELECT th.p, CAST(th.thr AS BIGINT) AS threshold_cents,
             |       CAST(SUM(CASE WHEN r.cents >= th.thr
             |         THEN 1 ELSE 0 END) AS BIGINT) AS n_parts,
             |       CAST(SUM(CASE WHEN r.cents >= th.thr
             |         THEN r.cents ELSE 0 END) * 10000
             |         // MAX(tot.total_cents) AS BIGINT)
             |         AS revenue_share_bp
             |FROM th CROSS JOIN r CROSS JOIN tot
             |GROUP BY th.p, th.thr ORDER BY th.p""".stripMargin)),

    // Open-order aging report — the operations card the reference's
    // dashboards circle around (SURVEY §2's net-demand world): every
    // non-final order bucketed by days outstanding against the corpus
    // max date (the q211 reference-now rule), per (status, bucket)
    // count + exact value cents. One filter + broadcast now + a
    // statuses×4 aggregate.

    Q("q264_order_aging",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        val now = o.agg(max(col("o_orderdate").cast("date"))
          .as("now_d"))
        o.filter(col("o_orderstatus") =!= "F")
          .crossJoin(broadcast(now))
          .select(col("o_orderstatus").as("status"),
            datediff(col("now_d"), col("o_orderdate").cast("date"))
              .cast("long").as("age_d"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long")
              .as("cents"))
          .select(col("status"),
            when(col("age_d") <= 30, "000-030")
              .when(col("age_d") <= 90, "031-090")
              .when(col("age_d") <= 365, "091-365")
              .otherwise("366+").as("age_bucket"),
            col("cents"))
          .groupBy("status", "age_bucket")
          .agg(count(lit(1)).as("n_orders"),
            sum("cents").as("value_cents"))
          .orderBy("status", "age_bucket")
      },
      Some("""WITH nw AS (
             |  SELECT MAX(CAST(o_orderdate AS DATE)) AS now_d
             |  FROM orders
             |), a AS (
             |  SELECT o_orderstatus AS status,
             |         date_diff('day', CAST(o_orderdate AS DATE),
             |           nw.now_d) AS age_d,
             |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             |           AS cents
             |  FROM orders CROSS JOIN nw
             |  WHERE o_orderstatus <> 'F'
             |)
             |SELECT status,
             |       CASE WHEN age_d <= 30 THEN '000-030'
             |            WHEN age_d <= 90 THEN '031-090'
             |            WHEN age_d <= 365 THEN '091-365'
             |            ELSE '366+' END AS age_bucket,
             |       CAST(COUNT(*) AS BIGINT) AS n_orders,
             |       CAST(SUM(cents) AS BIGINT) AS value_cents
             |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Market-basket pair-support distribution — the true order-grain
    // basket card (q206 is user×type co-occurrence at the behavioral
    // grain; this is parts bought TOGETHER): for every support level
    // k, how many distinct part pairs co-occur in exactly k orders.
    // The distribution shape is the pre-flight for association mining
    // — a heavy tail says rules exist, all-singletons says don't
    // bother. Volume: distinct (order, part) spine, per-order pair
    // explode Σ items², pair counts, then a support-domain-sized
    // histogram; the full pair list never leaves the shuffle.

    Q("q265_basket_support",
      (s, dir) => {
        // DATA-SCALED width (ShuffleWidth.pairWidth): the within-order
        // pair explosion (Σ_order c·(c−1)/2) feeds a pair-keyed hash
        // aggregate whose partial maps spilled 7.96 GB at the fixed
        // 128-partition sf10 width. The census is a count per orderkey
        // over the 2-col projection (map-side combinable, bounded
        // decision); 96 B/pair covers the pair row plus its partial-agg
        // hash entry. Floors at the session width — ≤ sf0.1 unchanged.
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        val width = graft.plans.ShuffleWidth.pairWidth(s,
          li.select(col("o")), Seq("o"), bytesPerPair = 96L)
        // one exchange instead of two: repartition FIRST, then distinct
        // — HashPartitioning(o) satisfies the (o, p) distinct's
        // clustering (subset of group keys), so the dedup runs in place
        // on the already-fanned partitions and the self-join below
        // reuses the same partitioning; the old order ran the partial
        // distinct serially on the single-task scan and then paid a
        // second exchange to re-key by o
        val op = li.repartition(width, col("o")).distinct()
        op.as("a").join(op.as("b"),
            col("a.o") === col("b.o") && col("a.p") < col("b.p"))
          .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
          .agg(count(lit(1)).as("support"))
          .groupBy("support").agg(count(lit(1)).as("n_pairs"))
          .orderBy("support")
      },
      Some("""WITH op AS (
             |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
             |  FROM lineitem
             |), pr AS (
             |  SELECT a.p AS pa, b.p AS pb,
             |         CAST(COUNT(*) AS BIGINT) AS support
             |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
             |  GROUP BY 1, 2
             |)
             |SELECT support, CAST(COUNT(*) AS BIGINT) AS n_pairs
             |FROM pr GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Supplier price-dispersion histogram — the procurement sourcing
    // card: per part, the spread between its cheapest and dearest
    // unit price across line items (unit cents via ONE IEEE division
    // + the shared floor(·+0.5) rule), rolled into a scale-free
    // magnitude histogram (digit count of the spread in bp). Parts in the high
    // buckets are renegotiation targets; a mass at zero means pricing
    // is uniform and there is nothing to source. Part-grain aggregate
    // + bounded histogram, nothing wider shuffles.

    Q("q266_price_dispersion",
      (s, dir) => {
        val unit = Tables.load(s, dir, "lineitem")
          .filter(col("l_quantity") > 0)
          .select(col("l_partkey"),
            floor(col("l_extendedprice") * 100 / col("l_quantity")
              + 0.5).cast("long").as("uc"))
        unit.groupBy("l_partkey")
          .agg(min("uc").as("mn"), max("uc").as("mx"),
            countDistinct(col("uc")).as("n_prices"))
          .select(col("l_partkey"),
            expr("(mx - mn) * 10000 div mn").as("range_bp"),
            col("n_prices"))
          .select(length(col("range_bp").cast("string")).cast("long")
            .as("magnitude"), col("range_bp"), col("n_prices"))
          .groupBy("magnitude")
          .agg(count(lit(1)).as("n_parts"),
            expr("sum(range_bp) div count(1)").as("mean_range_bp"),
            sum("n_prices").as("n_price_points"))
          .orderBy("magnitude")
      },
      Some("""WITH u AS (
             |  SELECT l_partkey,
             |         CAST(floor(l_extendedprice * 100 / l_quantity
             |           + 0.5) AS BIGINT) AS uc
             |  FROM lineitem WHERE l_quantity > 0
             |), p AS (
             |  SELECT l_partkey, MIN(uc) AS mn, MAX(uc) AS mx,
             |         CAST(COUNT(DISTINCT uc) AS BIGINT) AS n_prices
             |  FROM u GROUP BY 1
             |), r AS (
             |  SELECT (mx - mn) * 10000 // mn AS range_bp, n_prices
             |  FROM p
             |)
             |SELECT CAST(length(CAST(range_bp AS VARCHAR)) AS BIGINT)
             |         AS magnitude,
             |       CAST(COUNT(*) AS BIGINT) AS n_parts,
             |       CAST(SUM(range_bp) // COUNT(*) AS BIGINT)
             |         AS mean_range_bp,
             |       CAST(SUM(n_prices) AS BIGINT) AS n_price_points
             |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Sessionized ordered funnel — the within-session journey card
    // (q87's funnel is a global trailing window; this asks whether the
    // ORDERED path view → click → purchase completes inside one
    // sitting): sessions are the q235 lag/gap islands, steps must
    // strictly advance in time within the session. Per-user windows +
    // session-grain aggregates; nothing global.

    Q("q269_nation_trade",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"),
            floor(col("l_extendedprice") * 100 + 0.5).cast("long")
              .as("cents"))
        val buy = li
          .join(Tables.load(s, dir, "orders")
            .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.load(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").as("nk"))
          .agg(sum("cents").as("buy_cents"))
        val sup = li
          .join(broadcast(Tables.load(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_nationkey").as("nk"))
          .agg(sum("cents").as("supply_cents"))
        val geo = Tables.load(s, dir, "nation")
          .join(Tables.load(s, dir, "region"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("nk"), col("r_name"),
            col("n_name"))
        buy.join(sup, Seq("nk"), "full_outer")
          .join(broadcast(geo), Seq("nk"))
          .select(col("r_name"), col("n_name"),
            coalesce(col("buy_cents"), lit(0L)).as("buy_cents"),
            coalesce(col("supply_cents"), lit(0L)).as("supply_cents"),
            (coalesce(col("supply_cents"), lit(0L)) -
              coalesce(col("buy_cents"), lit(0L))).as("balance_cents"))
          .orderBy("r_name", "n_name")
      },
      Some("""WITH li AS (
             |  SELECT l_orderkey, l_suppkey,
             |         CAST(floor(l_extendedprice * 100 + 0.5)
             |           AS BIGINT) AS cents
             |  FROM lineitem
             |), buy AS (
             |  SELECT c.c_nationkey AS nk,
             |         CAST(SUM(li.cents) AS BIGINT) AS buy_cents
             |  FROM li
             |  JOIN orders o ON o.o_orderkey = li.l_orderkey
             |  JOIN customer c ON c.c_custkey = o.o_custkey
             |  GROUP BY 1
             |), sup AS (
             |  SELECT s.s_nationkey AS nk,
             |         CAST(SUM(li.cents) AS BIGINT) AS supply_cents
             |  FROM li
             |  JOIN supplier s ON s.s_suppkey = li.l_suppkey
             |  GROUP BY 1
             |), geo AS (
             |  SELECT n.n_nationkey AS nk, r.r_name, n.n_name
             |  FROM nation n JOIN region r
             |    ON r.r_regionkey = n.n_regionkey
             |)
             |SELECT g.r_name, g.n_name,
             |       CAST(COALESCE(b.buy_cents, 0) AS BIGINT)
             |         AS buy_cents,
             |       CAST(COALESCE(sp.supply_cents, 0) AS BIGINT)
             |         AS supply_cents,
             |       CAST(COALESCE(sp.supply_cents, 0)
             |         - COALESCE(b.buy_cents, 0) AS BIGINT)
             |         AS balance_cents
             |FROM geo g
             |LEFT JOIN buy b ON b.nk = g.nk
             |LEFT JOIN sup sp ON sp.nk = g.nk
             |ORDER BY g.r_name, g.n_name""".stripMargin)),

    // Supplier-concentration (Herfindahl) risk screen: per part, the
    // HHI of supplier quantity shares in exact ppm (share_ppm per
    // supplier, Σ share² staged DECIMAL/HUGEINT then scaled back —
    // 1e6 = single-sourced), rolled into a ten-bucket histogram. The
    // classical sole-source risk card: mass near 1e6 is the
    // supply-chain fragility a procurement team works down. Part-grain
    // aggregates only; quantities are integral doubles cast exactly.

    Q("q270_supplier_hhi",
      (s, dir) => {
        // ONE part-keyed exchange for the whole part-grain chain
        // (guide §2.4): hashpartitioning(l_partkey) satisfies the
        // clustering of the (part, supp) aggregate (subset rule), the
        // part-window total AND the hhi aggregate, so the former
        // sq→tot self-join (2 extra lineitem-sized exchanges + a
        // double-executed scan subtree) collapses into a window sum.
        // isNotNull pins the old inner join's null-key drop.
        // Skew caveat: repartition(l_partkey) puts the exchange BEFORE
        // the partial aggregate, so there is no map-side combine and no
        // AQE skew split — every row of a hot part key lands in one
        // task. This shape was measured faster on uniform TPC-H keys.
        import org.apache.spark.sql.expressions.Window
        val sq = Tables.load(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"),
            col("l_quantity").cast("long").as("q"))
          .filter(col("l_partkey").isNotNull)
          .repartition(col("l_partkey"))
          .groupBy("l_partkey", "l_suppkey")
          .agg(sum("q").as("sq"))
        val hhi = sq
          .withColumn("tq",
            sum("sq").over(Window.partitionBy(col("l_partkey"))))
          .select(col("l_partkey"),
            expr("sq * 1000000 div tq").as("share_ppm"))
          .groupBy("l_partkey")
          .agg(expr("CAST(sum(CAST(share_ppm AS DECIMAL(38,0))" +
            " * share_ppm) DIV 1000000 AS BIGINT)").as("hhi_ppm"))
        hhi.select(expr("least(hhi_ppm div 100000," +
            " CAST(9 AS BIGINT))").as("bucket"), col("hhi_ppm"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_parts"),
            expr("sum(hhi_ppm) div count(1)").as("mean_hhi_ppm"))
          .orderBy("bucket")
      },
      Some("""WITH sq AS (
             |  SELECT l_partkey, l_suppkey,
             |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
             |           AS sq
             |  FROM lineitem GROUP BY 1, 2
             |), tot AS (
             |  SELECT l_partkey, CAST(SUM(sq) AS BIGINT) AS tq
             |  FROM sq GROUP BY 1
             |), sh AS (
             |  SELECT sq.l_partkey,
             |         sq.sq * 1000000 // tot.tq AS share_ppm
             |  FROM sq JOIN tot ON tot.l_partkey = sq.l_partkey
             |), hhi AS (
             |  SELECT l_partkey,
             |         CAST(SUM(CAST(share_ppm AS HUGEINT) * share_ppm)
             |           // 1000000 AS BIGINT) AS hhi_ppm
             |  FROM sh GROUP BY 1
             |)
             |SELECT CAST(least(hhi_ppm // 100000, 9) AS BIGINT)
             |         AS bucket,
             |       CAST(COUNT(*) AS BIGINT) AS n_parts,
             |       CAST(SUM(hhi_ppm) // COUNT(*) AS BIGINT)
             |         AS mean_hhi_ppm
             |FROM hhi GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Market-segment order mix — the customer-dimension revenue split:
    // per mktsegment, customers, orders, exact order cents, average
    // order value and share of total order mass in bp. One orders
    // aggregate against the broadcast customer dim + a segments-sized
    // rollup with a 1-row total broadcast.

    Q("q271_segment_mix",
      (s, dir) => {
        val seg = Tables.load(s, dir, "orders")
          .select(col("o_custkey"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long")
              .as("cents"))
          .join(broadcast(Tables.load(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(countDistinct(col("o_custkey")).as("n_customers"),
            count(lit(1)).as("n_orders"), sum("cents").as("cents"))
        seg.crossJoin(broadcast(seg.agg(sum("cents").as("total"))))
          .select(col("c_mktsegment"), col("n_customers"),
            col("n_orders"), col("cents"),
            expr("cents div n_orders").as("avg_order_cents"),
            expr("cents * 10000 div total").as("share_bp"))
          .orderBy("c_mktsegment")
      },
      Some("""WITH o AS (
             |  SELECT o_custkey,
             |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             |           AS cents
             |  FROM orders
             |), seg AS (
             |  SELECT c.c_mktsegment,
             |         CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT)
             |           AS n_customers,
             |         CAST(COUNT(*) AS BIGINT) AS n_orders,
             |         CAST(SUM(o.cents) AS BIGINT) AS cents
             |  FROM o JOIN customer c ON c.c_custkey = o.o_custkey
             |  GROUP BY 1
             |), t AS (
             |  SELECT CAST(SUM(cents) AS BIGINT) AS total FROM seg
             |)
             |SELECT seg.c_mktsegment, seg.n_customers, seg.n_orders,
             |       seg.cents,
             |       CAST(seg.cents // seg.n_orders AS BIGINT)
             |         AS avg_order_cents,
             |       CAST(seg.cents * 10000 // t.total AS BIGINT)
             |         AS share_bp
             |FROM seg CROSS JOIN t
             |ORDER BY seg.c_mktsegment""".stripMargin)),

    // Corpus release notes THROUGH the versioned table format — time
    // travel inside the oracle gate: two corpus releases land as
    // overwrite commits v0/v1 (deterministic synthesis: v1 drops a
    // different id slice and revises every 7th doc), then
    // VersionedTable.diff reads BOTH snapshots back via the commit log
    // and classifies per doc by content fingerprint; per (source,
    // change) counts are the release-notes card a data lead signs off.
    // The oracle re-derives the classification from the synthesis
    // predicates alone — so commit layout, log resolution, time-travel
    // read-back AND the md5 fingerprint rule are all inside the hash.
    // Build is once per (application, dir); the diff is one narrow
    // full-outer join on ids, text never shuffles (q142's contract).

    Q("q272_release_notes",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("source"))
        val tdir = graft.sources.TmpDirs.appState(s, dir, "q272") + "/table"
        if (VersionedTable.versions(s, tdir).size < 2) {
          // a half-built tree (crashed first invocation) would land
          // the rebuild at the NEXT version numbers — wipe and start
          // clean so v0/v1 are always the synthesis pair
          val p = new org.apache.hadoop.fs.Path(tdir)
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) { fs.delete(p, true); () }
          VersionedTable.overwrite(
            docs.filter(col("doc_id") % 10 =!= 7), tdir)
          VersionedTable.overwrite(
            docs.filter(col("doc_id") % 13 =!= 3)
              .withColumn("text", when(col("doc_id") % 7 === 0,
                concat(col("text"), lit(" [rev2]")))
                .otherwise(col("text"))), tdir)
        }
        VersionedTable.diff(s, tdir, 0L, 1L)
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
          .groupBy("source", "status")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("source", "status")
      },
      Some("""WITH v0 AS (
             |  SELECT doc_id FROM documents WHERE doc_id % 10 <> 7
             |), v1 AS (
             |  SELECT doc_id, doc_id % 7 = 0 AS modif
             |  FROM documents WHERE doc_id % 13 <> 3
             |), st AS (
             |  SELECT COALESCE(v1.doc_id, v0.doc_id) AS doc_id,
             |         CASE WHEN v0.doc_id IS NULL THEN 'added'
             |              WHEN v1.doc_id IS NULL THEN 'removed'
             |              WHEN v1.modif THEN 'modified'
             |              ELSE 'unchanged' END AS status
             |  FROM v0 FULL JOIN v1 ON v1.doc_id = v0.doc_id
             |)
             |SELECT d.source, st.status,
             |       CAST(COUNT(*) AS BIGINT) AS n_docs
             |FROM st JOIN documents d ON d.doc_id = st.doc_id
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Quality-gate GAIN curve — q233's calibration turned into the
    // operating-point table: gating at cheap-score bucket ≥ b, how
    // many docs survive, what fraction of ALL Gopher-passing docs are
    // captured (recall), and the precision inside the gate. The row
    // where capture stops falling and precision stops rising IS the
    // threshold decision. Shares q233's two map-side passes; the
    // cumulative fold runs over ≤11 fixed score buckets (bounded
    // no-partition window — the q226 decile contract).

    Q("q273_gain_curve",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // ≤11 bucket rows: cum fold over the bounded score domain
        // (alpha_bp div 1000 ∈ [0,10]) — the standing α×Gopher census
        // shared with q233 (ExtensionShared.alphaGopherBuckets)
        val byBucket = ExtensionShared.alphaGopherBuckets(s, dir)
        val wDesc = Window.orderBy(desc("bucket"))
          .rowsBetween(Long.MinValue, 0)
        byBucket
          .select(col("bucket"),
            sum("n_docs").over(wDesc).as("n_docs_cum"),
            sum("n_pass").over(wDesc).as("n_pass_cum"))
          .crossJoin(broadcast(
            byBucket.agg(sum("n_pass").as("total_pass"))))
          .select(col("bucket"), col("n_docs_cum"), col("n_pass_cum"),
            expr("CASE WHEN total_pass = 0 THEN -1" +
              " ELSE n_pass_cum * 10000 div total_pass END")
              .as("capture_bp"),
            expr("n_pass_cum * 10000 div n_docs_cum")
              .as("precision_bp"))
          .orderBy(desc("bucket"))
      },
      Some(gopherGateCtes + """, q AS (
             |  SELECT doc_id,
             |         CAST(CASE WHEN length(text) = 0 THEN 0
             |           ELSE floor(length(regexp_replace(text,
             |             '[^A-Za-z]', '', 'g')) * 10000.0
             |             / length(text)) END AS BIGINT) AS alpha_bp
             |  FROM documents
             |), bk AS (
             |  SELECT q.alpha_bp // 1000 AS bucket,
             |         CAST(COUNT(*) AS BIGINT) AS n_docs,
             |         CAST(SUM(CAST(g.gopher_pass AS BIGINT)) AS BIGINT)
             |           AS n_pass
             |  FROM q JOIN gate g ON g.doc_id = q.doc_id
             |  GROUP BY 1
             |), cum AS (
             |  SELECT bucket,
             |         CAST(SUM(n_docs) OVER (ORDER BY bucket DESC
             |           ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |           AS n_docs_cum,
             |         CAST(SUM(n_pass) OVER (ORDER BY bucket DESC
             |           ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |           AS n_pass_cum
             |  FROM bk
             |), t AS (
             |  SELECT CAST(SUM(n_pass) AS BIGINT) AS total_pass FROM bk
             |)
             |SELECT c.bucket, c.n_docs_cum, c.n_pass_cum,
             |       CAST(CASE WHEN t.total_pass = 0 THEN -1
             |         ELSE c.n_pass_cum * 10000 // t.total_pass END
             |         AS BIGINT) AS capture_bp,
             |       CAST(c.n_pass_cum * 10000 // c.n_docs_cum AS BIGINT)
             |         AS precision_bp
             |FROM cum c CROSS JOIN t
             |ORDER BY c.bucket DESC""".stripMargin)),

    // K-fold split balance audit — before anyone trains on md5-derived
    // folds (the q64/q268 replayable-split family at k=5), the card
    // that proves the folds are exchangeable: per fold, doc count,
    // token mass, token share in ppm and its deviation from the ideal
    // 1/k — a skewed fold biases every cross-validated metric computed
    // on it. One token-count projection + fold-grain aggregate.

    Q("q277_discount_corr",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_returnflag"),
            col("l_quantity").cast("long").as("x"),
            floor(col("l_discount") * 100 + 0.5).cast("long").as("y"))
        li.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum("x").as("sx"),
            sum("y").as("sy"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sx2"),
            sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("sy2"))
          .select(col("l_returnflag"), col("n"),
            expr("CAST(floor(CAST(n * sxy - CAST(sx AS DECIMAL(38,0))" +
              " * sy AS DOUBLE) * 1000000.0" +
              " / (sqrt(CAST(n * sx2 - CAST(sx AS DECIMAL(38,0))" +
              " * sx AS DOUBLE))" +
              " * sqrt(CAST(n * sy2 - CAST(sy AS DECIMAL(38,0))" +
              " * sy AS DOUBLE)))) AS BIGINT)").as("corr_micro"))
          .orderBy("l_returnflag")
      },
      Some("""WITH v AS (
             |  SELECT l_returnflag,
             |         CAST(l_quantity AS BIGINT) AS x,
             |         CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
             |           AS y
             |  FROM lineitem
             |), a AS (
             |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             |         CAST(SUM(x) AS BIGINT) AS sx,
             |         CAST(SUM(y) AS BIGINT) AS sy,
             |         SUM(CAST(x AS HUGEINT) * y) AS sxy,
             |         SUM(CAST(x AS HUGEINT) * x) AS sx2,
             |         SUM(CAST(y AS HUGEINT) * y) AS sy2
             |  FROM v GROUP BY 1
             |)
             |SELECT l_returnflag, n,
             |       CAST(floor(CAST(n * sxy - CAST(sx AS HUGEINT) * sy
             |           AS DOUBLE) * 1000000.0
             |         / (sqrt(CAST(n * sx2 - CAST(sx AS HUGEINT) * sx
             |             AS DOUBLE))
             |           * sqrt(CAST(n * sy2 - CAST(sy AS HUGEINT) * sy
             |             AS DOUBLE)))) AS BIGINT) AS corr_micro
             |FROM a ORDER BY l_returnflag""".stripMargin)),

    // Curation attrition funnel BY SOURCE — which stage kills each
    // feed's documents (first-failing-stage attribution in the q73
    // pipeline order: quality → dedup → decontamination → survived):
    // the observability card behind every curation-rate conversation,
    // since "source X lost 40%" means three different fixes depending
    // on WHERE it lost them. Reuses the memoized standing cluster
    // table and the map-side quality/contamination kernels; one
    // sources×4 rollup.

    Q("q281_brand_size_pivot",
      (s, dir) => Tables.load(s, dir, "part")
        .select(col("p_brand"),
          least(expr("CAST(p_size AS BIGINT) div 13"),
            lit(3L)).as("sb"))
        .groupBy("p_brand")
        .pivot("sb", Seq(0L, 1L, 2L, 3L))
        .agg(count(lit(1)))
        .select(col("p_brand"),
          coalesce(col("0"), lit(0L)).as("size_small"),
          coalesce(col("1"), lit(0L)).as("size_mid"),
          coalesce(col("2"), lit(0L)).as("size_large"),
          coalesce(col("3"), lit(0L)).as("size_xl"))
        .orderBy("p_brand"),
      Some("""WITH p AS (
             |  SELECT p_brand,
             |         least(CAST(p_size AS BIGINT) // 13, 3) AS sb
             |  FROM part
             |)
             |SELECT p_brand,
             |       CAST(SUM(CASE WHEN sb = 0 THEN 1 ELSE 0 END)
             |         AS BIGINT) AS size_small,
             |       CAST(SUM(CASE WHEN sb = 1 THEN 1 ELSE 0 END)
             |         AS BIGINT) AS size_mid,
             |       CAST(SUM(CASE WHEN sb = 2 THEN 1 ELSE 0 END)
             |         AS BIGINT) AS size_large,
             |       CAST(SUM(CASE WHEN sb = 3 THEN 1 ELSE 0 END)
             |         AS BIGINT) AS size_xl
             |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),
  )
}
