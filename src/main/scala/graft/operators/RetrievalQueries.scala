package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{Dedup, Graph, Hnsw, Layout, Mixing, NaiveBayes, Pii, Projection, Retrieval, Similarity, Sketches, TextAnalysis}
import graft.sources.{Tables, VersionedTable}
import ParityQueries.Q
import ExtensionShared._

/** Lexical retrieval: BM25 (single/multi-query), inverted index, hybrid RRF, passage retrieval, KWIC, PMI/co-occurrence, vocabulary overlap/drift.
  *
  * One domain registry of the extension surface; composed (in the
  * original, order-stable sequence) by [[ExtensionQueries.all]].
  */
object RetrievalQueries {

  val all: Seq[Q] = Seq(

    Q("q35_term_freq",
      (s, dir) => Tables.load(s, dir, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("token"))
        .limit(100),
      Some("""SELECT token, CAST(COUNT(*) AS BIGINT) AS n
             |FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
             |      FROM documents) t
             |WHERE length(token) > 0
             |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin)),

    // Embedding centroid aggregation per label (the IVF-training
    // primitive): per-dimension sums, floor-scaled to integers so float
    // summation order cannot perturb the oracle compare.

    Q("q76_bm25",
      (s, dir) => Retrieval.bm25(Tables.load(s, dir, "documents"),
          Seq("spark", "table", "query"))
        .orderBy(desc("score"), asc("doc_id")),
      Some("""WITH d AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(trim(text)),
             |           '\s+'), w -> len(w) > 0) AS ws
             |  FROM documents
             |), base AS (
             |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
             |         CAST(len(list_filter(ws, x -> x = 'spark'))
             |           AS BIGINT) AS tf0,
             |         CAST(len(list_filter(ws, x -> x = 'table'))
             |           AS BIGINT) AS tf1,
             |         CAST(len(list_filter(ws, x -> x = 'query'))
             |           AS BIGINT) AS tf2
             |  FROM d
             |), stats AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |         CAST(SUM(dl) AS BIGINT) AS sdl,
             |         CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)
             |           AS BIGINT) AS df0,
             |         CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
             |           AS BIGINT) AS df1,
             |         CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)
             |           AS BIGINT) AS df2
             |  FROM base
             |)
             |SELECT doc_id, dl,
             |       CAST((CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)
             |          + (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
             |          + (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)
             |         AS BIGINT) AS n_hits,
             |       round(
             |           ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0
             |             * (1.2 + 1.0) / (tf0 + 1.2 * ((1.0 - 0.75)
             |               + 0.75 * dl / (sdl / n)))
             |         + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1
             |             * (1.2 + 1.0) / (tf1 + 1.2 * ((1.0 - 0.75)
             |               + 0.75 * dl / (sdl / n)))
             |         + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2
             |             * (1.2 + 1.0) / (tf2 + 1.2 * ((1.0 - 0.75)
             |               + 0.75 * dl / (sdl / n))), 6) AS score
             |FROM base CROSS JOIN stats
             |WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
             |ORDER BY score DESC, doc_id""".stripMargin)),

    // Inverted index with BOUNDED posting lists: df/total_tf exact via
    // ordinary partial aggregation; the posting list is MinKAgg's k
    // smallest doc ids — a hot Zipf-head term crosses the shuffle as k
    // longs, not its full posting set (the collect_list failure mode).

    Q("q77_inverted_index",
      (s, dir) => Retrieval.invertedIndex(
          Tables.load(s, dir, "documents"), maxPostings = 32)
        .orderBy("term"),
      Some("""WITH d AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(trim(text)),
             |           '\s+'), w -> len(w) > 0) AS ws
             |  FROM documents
             |), tok AS (
             |  SELECT doc_id, unnest(ws) AS term FROM d
             |), tf AS (
             |  SELECT term, doc_id, COUNT(*) AS c
             |  FROM tok GROUP BY term, doc_id
             |)
             |SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
             |       CAST(SUM(c) AS BIGINT) AS total_tf,
             |       array_to_string(
             |         list_transform((list(doc_id ORDER BY doc_id))[1:32],
             |           x -> CAST(x AS VARCHAR)), ',') AS postings
             |FROM tf GROUP BY term ORDER BY term""".stripMargin)),

    // SemDeDup (Abbas et al. 2023): semantic near-dup removal — k-means
    // cells (the q42 Lloyd-refined quantizer), pairwise cosine WITHIN
    // cells only, drop everything with a lower-id twin at sim ≥ τ. The
    // oracle reuses the q42/q62 Lloyd CTE chain so the clustering is
    // pinned identically, then restates the in-cell pair scan.

    Q("q81_pmi_bigrams",
      (s, dir) => Retrieval.pmiBigrams(
          Tables.load(s, dir, "documents"), minCount = 20L)
        .orderBy(desc("pmi"), asc("bigram")),
      Some("""WITH d AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(trim(text)),
             |           '\s+'), w -> len(w) > 0) AS ws
             |  FROM documents
             |), tr AS (
             |  SELECT doc_id, generate_subscripts(ws, 1) AS i,
             |         unnest(ws) AS t, len(ws) AS n
             |  FROM d
             |), bg AS (
             |  SELECT t AS w1,
             |         lead(t, 1) OVER (PARTITION BY doc_id ORDER BY i)
             |           AS w2, i, n
             |  FROM tr
             |), bgs AS (
             |  SELECT w1 || ' ' || w2 AS bigram, w1, w2
             |  FROM bg WHERE i <= n - 1
             |), uni AS (
             |  SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS cw
             |  FROM tr GROUP BY t
             |), bic AS (
             |  SELECT bigram, MIN(w1) AS w1, MIN(w2) AS w2,
             |         CAST(COUNT(*) AS BIGINT) AS n
             |  FROM bgs GROUP BY bigram HAVING COUNT(*) >= 20
             |), tot AS (
             |  SELECT CAST((SELECT SUM(cw) FROM uni) AS BIGINT) AS n1,
             |         CAST((SELECT COUNT(*) FROM bgs) AS BIGINT) AS n2
             |)
             |SELECT b.bigram, b.n,
             |       round(ln((b.n / t.n2)
             |         / ((u1.cw / t.n1) * (u2.cw / t.n1))), 6) AS pmi
             |FROM bic b
             |JOIN uni u1 ON u1.w = b.w1
             |JOIN uni u2 ON u2.w = b.w2
             |CROSS JOIN tot t
             |ORDER BY pmi DESC, bigram""".stripMargin)),

    // Fixed-point PageRank over the portable near-dup graph: ranks as
    // BIGINT micro-units, every step integer multiply/floor-div/sum —
    // exact, so an ITERATIVE computation hash-matches across engines
    // (float PageRank would diverge on SUM(double) order). Oracle unrolls
    // the same three rounds over the shared scored-pairs CTE chain.

    Q("q85_bm25_multiquery",
      (s, dir) => Retrieval.bm25TopKIndexed(
          Tables.load(s, dir, "documents"),
          Seq("q1" -> Seq("spark", "table"), "q2" -> Seq("query", "data"),
            "q3" -> Seq("window", "zzz_absent_term")),
          topK = 10)
        .orderBy("qid", "rank"),
      Some("""WITH d AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(trim(text)),
             |           '\s+'), w -> len(w) > 0) AS ws
             |  FROM documents
             |), dl AS (
             |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM d
             |), stats AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |         CAST(SUM(dl) AS BIGINT) AS sdl
             |  FROM dl
             |), tok AS (
             |  SELECT doc_id, unnest(ws) AS term FROM d
             |), tf AS (
             |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
             |  FROM tok GROUP BY term, doc_id
             |), qt(qid, term) AS (
             |  VALUES ('q1','spark'),('q1','table'),('q2','query'),
             |         ('q2','data'),('q3','window'),('q3','zzz_absent_term')
             |), dfq AS (
             |  SELECT t.term, CAST(COUNT(DISTINCT t.doc_id) AS BIGINT)
             |           AS df
             |  FROM tf t JOIN (SELECT DISTINCT term FROM qt) q
             |    ON q.term = t.term
             |  GROUP BY t.term
             |), contrib AS (
             |  SELECT q.qid, t.doc_id,
             |         CAST(floor((ln(1.0 + (s.n - f.df + 0.5)
             |             / (f.df + 0.5)) * t.tf * (1.2 + 1.0)
             |           / (t.tf + 1.2 * ((1.0 - 0.75)
             |             + 0.75 * l.dl / (s.sdl / s.n)))) * 1000000.0)
             |           AS BIGINT) AS w_unats
             |  FROM qt q
             |  JOIN tf t ON t.term = q.term
             |  JOIN dfq f ON f.term = t.term
             |  JOIN dl l ON l.doc_id = t.doc_id
             |  CROSS JOIN stats s
             |), sc AS (
             |  SELECT qid, doc_id,
             |         CAST(SUM(w_unats) AS BIGINT) AS score_unats,
             |         ROW_NUMBER() OVER (PARTITION BY qid
             |           ORDER BY SUM(w_unats) DESC, doc_id) AS rnk
             |  FROM contrib GROUP BY qid, doc_id
             |)
             |SELECT qid, CAST(rnk AS INTEGER) AS rank, doc_id,
             |       score_unats
             |FROM sc WHERE rnk <= 10 ORDER BY qid, rank""".stripMargin)),

    // Incremental ANN indexing — the embeddings-side analogue of q67:
    // the coarse quantizer is TRAINED once on the historical corpus and
    // materialized as a standing table (Tables.memoTable); a new batch
    // is assigned map-side against the broadcast k-row table. Daily
    // ingestion costs O(batch); the historical corpus is never
    // rescanned. Retraining cadence is a policy knob, not a per-batch
    // cost. The oracle re-trains the same Lloyd round over the
    // historical slice only, then assigns the batch.

    Q("q92_incremental_index",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val standing = Tables.memoTable(s, dir, "inv_index32") {
          Retrieval.invertedIndexArr(
            docs.filter(col("doc_id") % 3 =!= 0), maxPostings = 32)
        }
        Retrieval.mergeIndexes(standing,
          Retrieval.invertedIndexArr(
            docs.filter(col("doc_id") % 3 === 0), maxPostings = 32),
          maxPostings = 32)
          .orderBy("term")
      },
      Some("""WITH d AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(trim(text)),
             |           '\s+'), w -> len(w) > 0) AS ws
             |  FROM documents
             |), tok AS (
             |  SELECT doc_id, unnest(ws) AS term FROM d
             |), tf AS (
             |  SELECT term, doc_id, COUNT(*) AS c
             |  FROM tok GROUP BY term, doc_id
             |)
             |SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
             |       CAST(SUM(c) AS BIGINT) AS total_tf,
             |       array_to_string(
             |         list_transform((list(doc_id ORDER BY doc_id))[1:32],
             |           x -> CAST(x AS VARCHAR)), ',') AS postings
             |FROM tf GROUP BY term ORDER BY term""".stripMargin)),

    // Incremental SCD2 maintenance — the warehouse upsert: the standing
    // dimension (built once over pre-cutoff history, memoized) absorbs
    // the post-cutoff slice via Scd.applyBatch — closed rows untouched,
    // current rows close only if the batch changes their status, batch
    // change rows chain on. History is never re-read; the ORACLE is the
    // full-history rebuild (q79's SQL verbatim): applied ≡ rebuilt,
    // hash-checked — the third standing artifact maintained
    // incrementally (near-dup index q67, ANN quantizer q86).

    // prepared(): the hybrid-RRF mega-plan's warm cost is dominated by
    // per-invocation ANALYSIS of the full BM25+IVF derivation (r19
    // measured ~1.7 s plan vs 2.4 s exec; the q204 checkpoint revert
    // showed eager barriers are NOT the fix for this class). The
    // prepared-statement memo (the q16 pattern) analyzes once per
    // (session, dir); every call still gets a fresh
    // optimize/plan/execute, so the bench keeps timing execution.
    Q("q94_hybrid_rrf",
      ParityQueries.prepared("q94_hybrid_rrf")((s, dir) => Retrieval.hybridTopK(
          Tables.load(s, dir, "documents"),
          Tables.load(s, dir, "embeddings"),
          Seq(("q1", Seq("spark", "table"), 1L),
            ("q2", Seq("query", "data"), 2L),
            ("q3", Seq("window", "stream"), 3L)),
          topK = 10, cells = 8, nprobe = 2)
        .orderBy("qid", "rank")),
      Some(ivfLloydCtes + """, qmap(qid, qvec) AS (
             |  VALUES ('q1', 1), ('q2', 2), ('q3', 3)
             |), qh AS (
             |  SELECT m.qid, e.vec_id AS query_id, e.v AS qv
             |  FROM e JOIN qmap m ON e.vec_id = m.qvec
             |), cellrank AS (
             |  SELECT q.query_id, q.qv, c.centroid_id AS cell,
             |         ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
             |           list_dot_product(q.qv, c.cv)
             |             / (sqrt(list_dot_product(q.qv, q.qv))
             |                * sqrt(list_dot_product(c.cv, c.cv))) DESC,
             |           c.centroid_id) AS prk
             |  FROM qh q CROSS JOIN c
             |), pr AS (
             |  SELECT query_id, qv, cell FROM cellrank WHERE prk <= 2
             |), scored AS (
             |  SELECT e.vec_id, e.v, c.centroid_id,
             |         ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             |           list_dot_product(e.v, c.cv)
             |             / (sqrt(list_dot_product(e.v, e.v))
             |                * sqrt(list_dot_product(c.cv, c.cv))) DESC,
             |           c.centroid_id) AS rk
             |  FROM e CROSS JOIN c
             |), asg AS (
             |  SELECT vec_id, v, centroid_id AS cell FROM scored
             |  WHERE rk = 1
             |), sims AS (
             |  SELECT p.query_id, a.vec_id,
             |         round(list_dot_product(p.qv, a.v)
             |           / (sqrt(list_dot_product(p.qv, p.qv))
             |              * sqrt(list_dot_product(a.v, a.v))), 6) AS sim
             |  FROM asg a JOIN pr p ON a.cell = p.cell
             |   AND a.vec_id <> p.query_id
             |), dranked AS (
             |  SELECT query_id, vec_id,
             |         ROW_NUMBER() OVER (PARTITION BY query_id
             |           ORDER BY sim DESC, vec_id) AS drk
             |  FROM sims
             |), denser AS (
             |  SELECT m.qid, r.vec_id AS id,
             |         CAST(r.drk AS INTEGER) AS rank_dense
             |  FROM dranked r JOIN qmap m ON r.query_id = m.qvec
             |  WHERE r.drk <= 10
             |), d AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(trim(text)),
             |           '\s+'), w -> len(w) > 0) AS ws
             |  FROM documents
             |), dl AS (
             |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM d
             |), stats AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |         CAST(SUM(dl) AS BIGINT) AS sdl
             |  FROM dl
             |), tok AS (
             |  SELECT doc_id, unnest(ws) AS term FROM d
             |), tf AS (
             |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
             |  FROM tok GROUP BY term, doc_id
             |), qt(qid, term) AS (
             |  VALUES ('q1','spark'),('q1','table'),('q2','query'),
             |         ('q2','data'),('q3','window'),('q3','stream')
             |), dfq AS (
             |  SELECT t.term, CAST(COUNT(DISTINCT t.doc_id) AS BIGINT)
             |           AS df
             |  FROM tf t JOIN (SELECT DISTINCT term FROM qt) q
             |    ON q.term = t.term
             |  GROUP BY t.term
             |), contrib AS (
             |  SELECT q.qid, t.doc_id,
             |         CAST(floor((ln(1.0 + (s.n - f.df + 0.5)
             |             / (f.df + 0.5)) * t.tf * (1.2 + 1.0)
             |           / (t.tf + 1.2 * ((1.0 - 0.75)
             |             + 0.75 * l.dl / (s.sdl / s.n)))) * 1000000.0)
             |           AS BIGINT) AS w_unats
             |  FROM qt q
             |  JOIN tf t ON t.term = q.term
             |  JOIN dfq f ON f.term = t.term
             |  JOIN dl l ON l.doc_id = t.doc_id
             |  CROSS JOIN stats s
             |), sc AS (
             |  SELECT qid, doc_id,
             |         ROW_NUMBER() OVER (PARTITION BY qid
             |           ORDER BY SUM(w_unats) DESC, doc_id) AS rnk
             |  FROM contrib GROUP BY qid, doc_id
             |), lexr AS (
             |  SELECT qid, doc_id AS id, CAST(rnk AS INTEGER) AS rank_lex
             |  FROM sc WHERE rnk <= 10
             |), fused AS (
             |  SELECT COALESCE(l.qid, dn.qid) AS qid,
             |         COALESCE(l.id, dn.id) AS id,
             |         l.rank_lex, dn.rank_dense,
             |         CAST(COALESCE(1000000 // (60 + l.rank_lex), 0)
             |            + COALESCE(1000000 // (60 + dn.rank_dense), 0)
             |           AS BIGINT) AS rrf_unats
             |  FROM lexr l FULL OUTER JOIN denser dn
             |    ON l.qid = dn.qid AND l.id = dn.id
             |), fr AS (
             |  SELECT qid, id, rrf_unats, rank_lex, rank_dense,
             |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
             |           ORDER BY rrf_unats DESC, id) AS INTEGER) AS rank
             |  FROM fused
             |)
             |SELECT qid, rank, id, rrf_unats, rank_lex, rank_dense
             |FROM fr WHERE rank <= 10 ORDER BY qid, rank""".stripMargin)),

    // Incremental profiling — the fourth standing artifact maintained
    // without re-reading history (near-dup index q67, ANN quantizer
    // q86, inverted index q92): the one-row profile STATE (typed
    // min/max + MinK buffers) lands once over the historical slice,
    // each new drop profiles only itself, and states merge by count
    // addition + native min/max + k-min-distinct union of the hash
    // buffers (MinKAgg's semilattice at the table level). The ORACLE
    // is the from-scratch full-table rebuild (q84's SQL verbatim):
    // merged ≡ rebuilt, hash-checked.

    Q("q105_champion_pairs",
      (s, dir) => Retrieval.championPairs(
          Tables.load(s, dir, "documents"), championsPerTerm = 8)
        .orderBy("id_a", "id_b"),
      Some("""WITH d AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(trim(text)),
             |           '\s+'), w -> len(w) > 0) AS ws
             |  FROM documents
             |), tok AS (
             |  SELECT doc_id, unnest(ws) AS term FROM d
             |), tf AS (
             |  SELECT term, doc_id, COUNT(*) AS c
             |  FROM tok GROUP BY term, doc_id
             |), nn AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
             |), dfc AS (
             |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df
             |  FROM tf GROUP BY term
             |), ch AS (
             |  SELECT term, doc_id, c,
             |         ROW_NUMBER() OVER (PARTITION BY term
             |           ORDER BY c DESC, doc_id) AS rk
             |  FROM tf
             |), w AS (
             |  SELECT ch.term, ch.doc_id,
             |         CAST(floor((1.0 + ln(CAST(ch.c AS DOUBLE)))
             |           * ln(1.0 + CAST(nn.n AS DOUBLE) / dfc.df)
             |           * 1000) AS BIGINT) AS wm
             |  FROM ch JOIN dfc USING (term) CROSS JOIN nn
             |  WHERE ch.rk <= 8
             |)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |       CAST(COUNT(*) AS BIGINT) AS n_terms,
             |       CAST(SUM(a.wm * b.wm) AS BIGINT) AS score_u
             |FROM w a JOIN w b
             |  ON a.term = b.term AND a.doc_id < b.doc_id
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Misra-Gries heavy hitters per event day (graft.plans.FreqItemsAgg,
    // capacity 16): the group's shuffle state is ≤ 16 counters however
    // many distinct items the day saw. event_type's domain (< 16) makes
    // the sketch EXACT here — the oracle-checkable degenerate case
    // (PropertySpec pins the approximation bounds beyond capacity).

    // prepared(): same ANN/mega-plan class as q94 — analysis memoized
    // per (session, dir), execution fresh per call
    Q("q115_champion_rerank",
      ParityQueries.prepared("q115_champion_rerank")(
        (s, dir) => Retrieval.championPairsRescored(
            Tables.load(s, dir, "documents"), championsPerTerm = 8)
          .orderBy("id_a", "id_b")),
      Some("""WITH d AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(trim(text)),
             |           '\s+'), w -> len(w) > 0) AS ws
             |  FROM documents
             |), tok AS (
             |  SELECT doc_id, unnest(ws) AS term FROM d
             |), tf AS (
             |  SELECT term, doc_id, COUNT(*) AS c
             |  FROM tok GROUP BY term, doc_id
             |), nn AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
             |), dfc AS (
             |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df
             |  FROM tf GROUP BY term
             |), ch AS (
             |  SELECT term, doc_id, c,
             |         ROW_NUMBER() OVER (PARTITION BY term
             |           ORDER BY c DESC, doc_id) AS rk
             |  FROM tf
             |), w AS (
             |  SELECT ch.term, ch.doc_id,
             |         CAST(floor((1.0 + ln(CAST(ch.c AS DOUBLE)))
             |           * ln(1.0 + CAST(nn.n AS DOUBLE) / dfc.df)
             |           * 1000) AS BIGINT) AS wm
             |  FROM ch JOIN dfc USING (term) CROSS JOIN nn
             |  WHERE ch.rk <= 8
             |), cand AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |         CAST(COUNT(*) AS BIGINT) AS n_champ_terms,
             |         CAST(SUM(a.wm * b.wm) AS BIGINT) AS champ_score_u
             |  FROM w a JOIN w b
             |    ON a.term = b.term AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2
             |), kw AS (
             |  SELECT tf.doc_id,
             |         ('0x'||substr(md5(tf.term),1,15))::BIGINT AS k,
             |         CAST(floor((1.0 + ln(CAST(tf.c AS DOUBLE)))
             |           * ln(1.0 + CAST(nn.n AS DOUBLE) / dfc.df)
             |           * 1000) AS BIGINT) AS wm
             |  FROM tf JOIN dfc USING (term) CROSS JOIN nn
             |)
             |SELECT c.id_a, c.id_b, c.n_champ_terms, c.champ_score_u,
             |       CAST(SUM(a.wm * b.wm) AS BIGINT) AS full_score_u
             |FROM cand c
             |JOIN kw a ON a.doc_id = c.id_a
             |JOIN kw b ON b.doc_id = c.id_b AND b.k = a.k
             |GROUP BY 1, 2, 3, 4
             |ORDER BY 1, 2""".stripMargin)),

    // Radix-select EXACT quantiles over a CONTINUOUS double column
    // (percentilesByValue's companion for unbounded domains): each
    // double maps to its unsigned-sortable 64-bit image and the rank is
    // selected digit-by-digit in FOUR histogram passes (≤ 65 536
    // map-side counters per open prefix, a few longs of driver state per
    // target) — no global sort, no row shuffle, ever. The oracle states
    // the same ranks via one ROW_NUMBER scan.

    Q("q167_passage_retrieval",
      (s, dir) => Retrieval.passageTopK(
        Tables.load(s, dir, "documents"),
        Seq("spark", "table", "query"), window = 32, stride = 16,
        k = 20),
      Some("""WITH d AS (
             |  SELECT doc_id,
             |         CASE WHEN length(trim(text)) = 0
             |              THEN CAST([] AS VARCHAR[])
             |              ELSE string_split_regex(trim(text), '\s+')
             |         END AS w
             |  FROM documents
             |), st AS (
             |  SELECT doc_id, w,
             |         unnest(generate_series(0,
             |           ((len(w) - 1) // 16) * 16, 16)) AS s
             |  FROM d WHERE len(w) > 0
             |), ps AS (
             |  SELECT doc_id, CAST(s // 16 AS BIGINT) AS win_id,
             |         list_transform(w[s + 1 : s + 32],
             |                        x -> lower(x)) AS pw
             |  FROM st
             |), base AS (
             |  SELECT doc_id, win_id, CAST(len(pw) AS BIGINT) AS dl,
             |         CAST(len(list_filter(pw, x -> x = 'spark'))
             |           AS BIGINT) AS tf0,
             |         CAST(len(list_filter(pw, x -> x = 'table'))
             |           AS BIGINT) AS tf1,
             |         CAST(len(list_filter(pw, x -> x = 'query'))
             |           AS BIGINT) AS tf2
             |  FROM ps
             |), stats AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |         CAST(SUM(dl) AS BIGINT) AS sdl,
             |         CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)
             |           AS BIGINT) AS df0,
             |         CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
             |           AS BIGINT) AS df1,
             |         CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)
             |           AS BIGINT) AS df2
             |  FROM base
             |), scoredp AS (
             |  SELECT doc_id, win_id,
             |         round(
             |             ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0
             |               * (1.2 + 1.0) / (tf0 + 1.2 * ((1.0 - 0.75)
             |                 + 0.75 * dl / (sdl / n)))
             |           + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1
             |               * (1.2 + 1.0) / (tf1 + 1.2 * ((1.0 - 0.75)
             |                 + 0.75 * dl / (sdl / n)))
             |           + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2
             |               * (1.2 + 1.0) / (tf2 + 1.2 * ((1.0 - 0.75)
             |                 + 0.75 * dl / (sdl / n))), 6) AS score
             |  FROM base CROSS JOIN stats
             |  WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
             |), perdoc AS (
             |  SELECT doc_id, win_id AS best_win_id, score,
             |         CAST(COUNT(*) OVER (PARTITION BY doc_id)
             |           AS BIGINT) AS n_hit_passages,
             |         ROW_NUMBER() OVER (PARTITION BY doc_id
             |           ORDER BY score DESC, win_id) AS rn
             |  FROM scoredp
             |)
             |SELECT doc_id, best_win_id, score, n_hit_passages
             |FROM perdoc WHERE rn = 1
             |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // Order-3 interpolated Kneser-Ney — the full KenLM recursion:
    // trigram layer discounts into a CONTEXT-COUNT bigram layer
    // (distinct left neighbours), which discounts into the
    // continuation unigram. Every probability is one fixed
    // left-associative IEEE expression over table counts both engines
    // rebuild identically; per-doc sums are exact micro-nat int64.

    Q("q193_kwic_snippets",
      (s, dir) => Retrieval.kwicSnippets(
          Tables.load(s, dir, "documents"),
          Seq("q1" -> Seq("spark", "table"), "q2" -> Seq("query", "data"),
            "q3" -> Seq("window", "zzz_absent_term")),
          topK = 3, window = 10)
        .orderBy("qid", "rank"),
      Some(bm25ScoredCtes +
        """, top AS (
          |  SELECT qid, doc_id, score_unats,
          |         ROW_NUMBER() OVER (PARTITION BY qid
          |           ORDER BY score_unats DESC, doc_id) AS rnk
          |  FROM sc
          |), t3 AS (
          |  SELECT * FROM top WHERE rnk <= 3
          |), qts AS (
          |  SELECT 'q1' AS qid, ['spark', 'table'] AS terms
          |  UNION ALL SELECT 'q2', ['query', 'data']
          |  UNION ALL SELECT 'q3', ['window', 'zzz_absent_term']
          |), wins AS (
          |  SELECT t.qid, t.rnk, t.doc_id, t.score_unats, dd.ws,
          |         q.terms,
          |         unnest(generate_series(0,
          |           greatest(1, len(dd.ws) - 10 + 1) - 1)) AS i
          |  FROM t3 t
          |  JOIN d dd ON dd.doc_id = t.doc_id
          |  JOIN qts q ON q.qid = t.qid
          |), hits AS (
          |  SELECT qid, rnk, doc_id, score_unats, ws, i,
          |         len(list_filter(ws[i + 1 : i + 10],
          |           x -> list_contains(terms, x))) AS h
          |  FROM wins
          |), best AS (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid, doc_id
          |           ORDER BY h DESC, i ASC) AS rb
          |  FROM hits
          |)
          |SELECT qid, CAST(rnk AS INTEGER) AS rank, doc_id,
          |       score_unats, CAST(h AS BIGINT) AS n_hits,
          |       CAST(i AS BIGINT) AS snippet_start,
          |       array_to_string(ws[i + 1 : i + 10], ' ') AS snippet
          |FROM best WHERE rb = 1 ORDER BY qid, rank""".stripMargin)),

    // Template dedup (boilerplate/spam detection): docs identical
    // AFTER masking the volatile tokens — here id-derived order/total
    // fields injected per the q149 enrichment pattern, masked by one
    // digit-run regexp (DuckDB needs the 'g' flag to match Spark's
    // replace-all). Groups invisible to exact dedup reappear at the
    // template grain.

    // prepared(): same ANN/mega-plan class as q94 — analysis memoized
    // per (session, dir), execution fresh per call
    Q("q203_retrieval_metrics",
      ParityQueries.prepared("q203_retrieval_metrics")((s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val qidx = Seq(("q1", 0L), ("q2", 1L), ("q3", 2L))
          .toDF("qid", "r")
        val positives = docs.select(col("doc_id"))
          .crossJoin(broadcast(qidx))
          .filter(pmod(col("doc_id"), lit(100L)) === col("r"))
          .select("qid", "doc_id")
        Retrieval.gradedRetrievalMetrics(docs,
            Seq("q1" -> Seq("spark", "table"),
              "q2" -> Seq("query", "data"),
              "q3" -> Seq("window", "zzz_absent_term")),
            positives, k = 10)
          .orderBy("qid")
      }),
      Some(bm25ScoredCtes +
        """, top AS (
          |  SELECT qid, doc_id, score_unats,
          |         ROW_NUMBER() OVER (PARTITION BY qid
          |           ORDER BY score_unats DESC, doc_id) AS rnk
          |  FROM sc
          |), t10 AS (
          |  SELECT * FROM top WHERE rnk <= 10
          |), pos AS (
          |  SELECT q.qid, d.doc_id
          |  FROM (VALUES ('q1', 0), ('q2', 1), ('q3', 2)) q(qid, r)
          |  CROSS JOIN documents d
          |  WHERE d.doc_id % 100 = q.r
          |), np AS (
          |  SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_pos
          |  FROM pos GROUP BY 1
          |), hits AS (
          |  SELECT t.qid, CAST(COUNT(*) AS BIGINT) AS n_pos_topk,
          |         CAST(MIN(t.rnk) AS BIGINT) AS first_rank,
          |         CAST(SUM(CAST(floor(1000000.0
          |           / (ln(CAST(t.rnk AS DOUBLE) + 1.0) / ln(2.0)))
          |           AS BIGINT)) AS BIGINT) AS dcg_micro
          |  FROM t10 t JOIN pos p
          |    ON p.qid = t.qid AND p.doc_id = t.doc_id
          |  GROUP BY 1
          |), ii AS (
          |  SELECT qid, unnest(generate_series(1,
          |    CAST(least(n_pos, 10) AS INT))) AS i
          |  FROM np
          |), idcg AS (
          |  SELECT qid, CAST(SUM(CAST(floor(1000000.0
          |    / (ln(CAST(i AS DOUBLE) + 1.0) / ln(2.0)))
          |    AS BIGINT)) AS BIGINT) AS idcg_micro
          |  FROM ii GROUP BY 1
          |), qs AS (
          |  SELECT 'q1' AS qid UNION ALL SELECT 'q2'
          |  UNION ALL SELECT 'q3'
          |)
          |SELECT q.qid, COALESCE(np.n_pos, 0) AS n_pos,
          |       COALESCE(h.n_pos_topk, 0) AS n_pos_topk,
          |       COALESCE(h.first_rank, 0) AS first_rank,
          |       CASE WHEN h.first_rank IS NOT NULL
          |            THEN 1000000 // h.first_rank
          |            ELSE 0 END AS mrr_micro,
          |       COALESCE(h.dcg_micro, 0) AS dcg_micro,
          |       COALESCE(i.idcg_micro, 0) AS idcg_micro,
          |       CASE WHEN COALESCE(i.idcg_micro, 0) > 0
          |            THEN COALESCE(h.dcg_micro, 0) * 10000
          |                 // i.idcg_micro
          |            ELSE 0 END AS ndcg_bp
          |FROM qs q
          |LEFT JOIN np ON np.qid = q.qid
          |LEFT JOIN hits h ON h.qid = q.qid
          |LEFT JOIN idcg i ON i.qid = q.qid
          |ORDER BY q.qid""".stripMargin)),

    // ANN bake-off (r9 verdict item 6): the three ANN families — IVF
    // multi-probe, PQ ADC+rerank, HNSW — on IDENTICAL corpus/queries,
    // one row each reporting recall@10 against the family's own exact
    // metric (cosine for IVF/HNSW, L2 d² for PQ) plus probe cost:
    // exact_evals = full-precision distance computations admitted by
    // the family's candidate stage (measured join volume for IVF;
    // the 50-candidate rerank budget for PQ; the whole corpus for HNSW
    // at its exhaustive-certified efSearch — the q137 regime, where
    // the oracle can pin recall exactly at 10000), approx_evals =
    // cheap approximate scoring ops (centroid rankings, ADC lookups).
    // The genuinely-approximate HNSW regime (low efSearch) can't be
    // SQL-oracled — Round10Spec pins hnsw-recall ≥ ivf-recall at an
    // equal exact-eval budget there. Every number is exact int64.

    Q("q206_cooccurrence_lift",
      (s, dir) => {
        val ut = Tables.events(s, dir)
          .select(col("user_id"), col("event_type")).distinct()
        val totals = ut.groupBy("event_type")
          .agg(count(lit(1)).as("n"))
        val nUsers = broadcast(ut.select("user_id").distinct()
          .agg(count(lit(1)).as("n_users")))
        val co = ut.select(col("user_id"), col("event_type").as("type_a"))
          .join(ut.select(col("user_id"), col("event_type").as("type_b")),
            Seq("user_id"))
          .filter(col("type_a") < col("type_b"))
          .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_ab"))
        co.join(totals.select(col("event_type").as("type_a"),
            col("n").as("n_a")), Seq("type_a"))
          .join(totals.select(col("event_type").as("type_b"),
            col("n").as("n_b")), Seq("type_b"))
          .crossJoin(nUsers)
          .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
            col("n_ab"), col("n_users"),
            expr("CAST((n_ab * 1000000 DIV n_a) * n_users DIV n_b" +
              " AS BIGINT)").as("lift_micro"),
            expr("CAST(n_ab * 10000 DIV n_a AS BIGINT)")
              .as("conf_a_to_b_bp"))
          .orderBy("type_a", "type_b")
      },
      Some("""WITH ut AS (
             |  SELECT DISTINCT user_id, event_type FROM events
             |), totals AS (
             |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM ut GROUP BY 1
             |), nu AS (
             |  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
             |  FROM ut
             |), co AS (
             |  SELECT a.event_type AS type_a, b.event_type AS type_b,
             |         CAST(COUNT(*) AS BIGINT) AS n_ab
             |  FROM ut a JOIN ut b ON a.user_id = b.user_id
             |   AND a.event_type < b.event_type
             |  GROUP BY 1, 2
             |)
             |SELECT co.type_a, co.type_b, ta.n AS n_a, tb.n AS n_b,
             |       co.n_ab, nu.n_users,
             |       CAST((co.n_ab * 1000000 // ta.n) * nu.n_users
             |         // tb.n AS BIGINT) AS lift_micro,
             |       CAST(co.n_ab * 10000 // ta.n AS BIGINT)
             |         AS conf_a_to_b_bp
             |FROM co
             |JOIN totals ta ON ta.event_type = co.type_a
             |JOIN totals tb ON tb.event_type = co.type_b
             |CROSS JOIN nu
             |ORDER BY co.type_a, co.type_b""".stripMargin)),

    // k-core decomposition (Seidman 1983) of the near-dup similarity
    // graph: iteratively peel degree-<k nodes; the surviving 2-core is
    // each duplicate family's dense backbone (pendants and chains — the
    // weakly-attached docs a curator reviews by hand — drop out). The
    // Spark peel runs to TRUE convergence (converge-or-throw); the
    // oracle unrolls enough peel rounds that the fixpoint is reached —
    // extra rounds past convergence are no-ops, so oracle ≡ Spark iff
    // Spark's fixpoint is the fixpoint.

    Q("q213_incremental_cooccur",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val batchPred = col("event_id") % 10 === 7
        def ut(df: org.apache.spark.sql.DataFrame) =
          df.select(col("user_id"), col("event_type")).distinct()
        val standingUt = ut(ev.filter(!batchPred))
        val standingPc = standingUt
          .select(col("user_id"), col("event_type").as("ta"))
          .join(standingUt.select(col("user_id"),
            col("event_type").as("tb")), Seq("user_id"))
          .filter(col("ta") < col("tb"))
          .groupBy(col("ta").as("type_a"), col("tb").as("type_b"))
          .agg(count(lit(1)).as("n_ab"))
        val (_, mergedPc, _) = graft.streaming.SketchStreams.cooccurFold(
          standingUt, standingPc, ut(ev.filter(batchPred)))
        mergedPc.orderBy("type_a", "type_b")
      },
      Some("""WITH ut AS (
             |  SELECT DISTINCT user_id, event_type FROM events
             |)
             |SELECT a.event_type AS type_a, b.event_type AS type_b,
             |       CAST(COUNT(*) AS BIGINT) AS n_ab
             |FROM ut a JOIN ut b ON a.user_id = b.user_id
             | AND a.event_type < b.event_type
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // The STREAMED co-occurrence table's end state as a first-class
    // query (the q173/q174 register pattern at the association grain):
    // q213 certifies the pure fold, this one certifies the versioned
    // state MACHINE — three micro-batches (event_id mod 3) delivered
    // through cooccurBatch (the exact foreachBatch body the streaming
    // maintainer runs: predecessor read gated on ut/_SUCCESS, pc lands
    // first, overwrite v=N) and the final table read back through
    // latestCooccurrence (which applies the same commit gate). The
    // oracle stays the ONE-SHOT distinct-pair aggregate over all
    // events, so streamed-final-state ≡ rebuilt is hash-certified
    // cross-engine no matter how the stream batched.

    Q("q223_vocab_overlap",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val tc = Tables.load(s, dir, "documents")
          .select(col("source"),
            explode(Retrieval.tokens(col("text"))).as("t"))
          .groupBy("source", "t").agg(count(lit(1)).as("c"))
        val top = tc.withColumn("r",
            row_number().over(Window.partitionBy("source")
              .orderBy(desc("c"), asc("t"))))
          .filter(col("r") <= 50)
          .select("source", "t")
        val sizes = top.groupBy("source").agg(count(lit(1)).as("nt"))
        val inter = top.select(col("source").as("source_a"),
            col("t"))
          .join(top.select(col("source").as("source_b"), col("t")),
            Seq("t"))
          .filter(col("source_a") < col("source_b"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_inter"))
        val pairs = sizes.select(col("source").as("source_a"),
            col("nt").as("na"))
          .crossJoin(sizes.select(col("source").as("source_b"),
            col("nt").as("nb")))
          .filter(col("source_a") < col("source_b"))
        pairs.join(inter, Seq("source_a", "source_b"), "left")
          .select(col("source_a"), col("source_b"),
            coalesce(col("n_inter"), lit(0L)).as("n_inter"),
            expr("coalesce(n_inter, 0) * 10000" +
              " div (na + nb - coalesce(n_inter, 0))")
              .as("overlap_bp"))
          .orderBy("source_a", "source_b")
      },
      Some("""WITH d AS (
             |  SELECT source,
             |         list_filter(string_split_regex(lower(trim(text)),
             |           '\s+'), w -> len(w) > 0) AS ws
             |  FROM documents
             |), tc AS (
             |  SELECT source, unnest(ws) AS t FROM d
             |), cnt AS (
             |  SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM tc GROUP BY 1, 2
             |), top AS (
             |  SELECT source, t FROM (
             |    SELECT source, t,
             |           ROW_NUMBER() OVER (PARTITION BY source
             |             ORDER BY c DESC, t) AS r
             |    FROM cnt) WHERE r <= 50
             |), sz AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS nt
             |  FROM top GROUP BY 1
             |), itr AS (
             |  SELECT a.source AS source_a, b.source AS source_b,
             |         CAST(COUNT(*) AS BIGINT) AS n_inter
             |  FROM top a JOIN top b ON b.t = a.t
             |    AND a.source < b.source
             |  GROUP BY 1, 2
             |)
             |SELECT sa.source AS source_a, sb.source AS source_b,
             |       COALESCE(i.n_inter, 0) AS n_inter,
             |       CAST(COALESCE(i.n_inter, 0) * 10000
             |         // (sa.nt + sb.nt - COALESCE(i.n_inter, 0))
             |         AS BIGINT) AS overlap_bp
             |FROM sz sa JOIN sz sb ON sa.source < sb.source
             |LEFT JOIN itr i ON i.source_a = sa.source
             |  AND i.source_b = sb.source
             |ORDER BY source_a, source_b""".stripMargin)),

    // Hour-of-day profile entropy per event type: Shannon entropy of
    // the 24-bucket hourly distribution in exact integer micro-nats
    // (the q215 quantization — each term floored before the sum) plus
    // peak share in bp. Uniform-around-the-clock traffic maxes the
    // entropy (ln 24 ≈ 3.178e6 micro) and flags automation; human
    // diurnal traffic sits well below with a visible peak hour. One
    // (type, hour) aggregate — 24·types rows — then a types-sized
    // rollup; nothing event-sized ever re-shuffles.

    Q("q234_vocab_drift",
      (s, dir) => {
        val toks = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            explode(split(lower(trim(col("text"))), "\\s+")).as("tk"))
          .filter(length(col("tk")) > 0)
        val batchPred = col("doc_id") % 10 === 7
        val vocab = toks.filter(!batchPred)
          .groupBy("tk").agg(count(lit(1)).as("c"))
          .orderBy(desc("c"), asc("tk")).limit(1000)
          .select(col("tk"), lit(true).as("inv"))
        val flagged = toks
          .join(broadcast(vocab), Seq("tk"), "left")
          .select(col("source"), batchPred.as("isb"),
            when(col("inv").isNull, 1L).otherwise(0L).as("oov"))
        flagged.groupBy("source")
          .agg(sum(when(!col("isb"), 1L).otherwise(0L)).as("hist_tokens"),
            sum(when(!col("isb"), col("oov")).otherwise(0L))
              .as("hist_oov"),
            sum(when(col("isb"), 1L).otherwise(0L)).as("batch_tokens"),
            sum(when(col("isb"), col("oov")).otherwise(0L))
              .as("batch_oov"))
          .select(col("source"), col("hist_tokens"), col("batch_tokens"),
            expr("CASE WHEN hist_tokens = 0 THEN -1" +
              " ELSE hist_oov * 10000 div hist_tokens END")
              .as("hist_oov_bp"),
            expr("CASE WHEN batch_tokens = 0 THEN -1" +
              " ELSE batch_oov * 10000 div batch_tokens END")
              .as("batch_oov_bp"),
            expr("CASE WHEN hist_tokens = 0 OR batch_tokens = 0 THEN 0" +
              " ELSE batch_oov * 10000 div batch_tokens" +
              " - hist_oov * 10000 div hist_tokens END")
              .as("drift_bp"))
          .orderBy("source")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, source,
             |         list_filter(string_split_regex(lower(trim(text)),
             |           '\s+'), w -> len(w) > 0) AS ws
             |  FROM documents
             |), t AS (
             |  SELECT doc_id, source, unnest(ws) AS tk FROM d
             |), vc AS (
             |  SELECT tk, COUNT(*) AS c FROM t
             |  WHERE doc_id % 10 <> 7 GROUP BY 1
             |), vocab AS (
             |  SELECT tk FROM vc ORDER BY c DESC, tk LIMIT 1000
             |), fl AS (
             |  SELECT source, doc_id % 10 = 7 AS isb,
             |         CASE WHEN tk IN (SELECT tk FROM vocab)
             |           THEN 0 ELSE 1 END AS oov
             |  FROM t
             |), ag AS (
             |  SELECT source,
             |         CAST(SUM(CASE WHEN NOT isb THEN 1 ELSE 0 END)
             |           AS BIGINT) AS hist_tokens,
             |         CAST(SUM(CASE WHEN NOT isb THEN oov ELSE 0 END)
             |           AS BIGINT) AS hist_oov,
             |         CAST(SUM(CASE WHEN isb THEN 1 ELSE 0 END)
             |           AS BIGINT) AS batch_tokens,
             |         CAST(SUM(CASE WHEN isb THEN oov ELSE 0 END)
             |           AS BIGINT) AS batch_oov
             |  FROM fl GROUP BY 1
             |)
             |SELECT source, hist_tokens, batch_tokens,
             |       CAST(CASE WHEN hist_tokens = 0 THEN -1
             |         ELSE hist_oov * 10000 // hist_tokens END
             |         AS BIGINT) AS hist_oov_bp,
             |       CAST(CASE WHEN batch_tokens = 0 THEN -1
             |         ELSE batch_oov * 10000 // batch_tokens END
             |         AS BIGINT) AS batch_oov_bp,
             |       CAST(CASE WHEN hist_tokens = 0
             |           OR batch_tokens = 0 THEN 0
             |         ELSE batch_oov * 10000 // batch_tokens
             |           - hist_oov * 10000 // hist_tokens END
             |         AS BIGINT) AS drift_bp
             |FROM ag ORDER BY source""".stripMargin)),

    // The STREAMED sessionization end state as a first-class query —
    // the q214 pattern applied to the flatMapGroupsWithState kernel,
    // the one maintainer whose state lives in the ENGINE's state store
    // rather than a versioned parquet dir. Append-mode sessions only
    // emit when the event-time watermark passes their idle timer, so a
    // sentinel event (user −1) lands `gap + delay + slack` past the
    // corpus max: the watermark sweeps past every real session's
    // timeout, the timer batch closes them all, and the emitted set
    // (sentinel filtered) is EXACTLY the batch gap-segmentation — which
    // is the DuckDB oracle (lag/gap islands). runToMemoryUntilWatermark
    // holds the query open until the engine reports the sentinel-driven
    // watermark, so completion is deterministic, not a race against the
    // no-data micro-batch. value sums stay OFF the compare surface
    // (double fold order inside a session is tie-ambiguous); the
    // session boundary set is tie-invariant.

    Q("q237_source_lang_pmi",
      (s, dir) => {
        val joint = Tables.load(s, dir, "documents")
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_sl"))
          .localCheckpoint() // feeds marginals, totals, AND the output
        val ms = joint.groupBy("source").agg(sum("n_sl").as("n_s"))
        val ml = joint.groupBy("lang").agg(sum("n_sl").as("n_l"))
        val tot = joint.agg(sum("n_sl").as("n"))
        joint
          .join(broadcast(ms), Seq("source"))
          .join(broadcast(ml), Seq("lang"))
          .crossJoin(broadcast(tot))
          .select(col("source"), col("lang"), col("n_sl").as("n_docs"),
            expr("CAST(CAST(n_s AS DECIMAL(38,0)) * n_l DIV n AS BIGINT)")
              .as("exp_docs"),
            floor(log((col("n_sl").cast("double") * col("n").cast("double"))
                / (col("n_s").cast("double") * col("n_l").cast("double")))
              * 1e6).cast("long").as("pmi_micro"))
          .orderBy("source", "lang")
      },
      Some("""WITH j AS (
             |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_sl
             |  FROM documents GROUP BY 1, 2
             |), ms AS (
             |  SELECT source, CAST(SUM(n_sl) AS BIGINT) AS n_s
             |  FROM j GROUP BY 1
             |), ml AS (
             |  SELECT lang, CAST(SUM(n_sl) AS BIGINT) AS n_l
             |  FROM j GROUP BY 1
             |), t AS (
             |  SELECT CAST(SUM(n_sl) AS BIGINT) AS n FROM j
             |)
             |SELECT j.source, j.lang, j.n_sl AS n_docs,
             |       CAST(CAST(ms.n_s AS HUGEINT) * ml.n_l // t.n
             |         AS BIGINT) AS exp_docs,
             |       CAST(floor(ln((CAST(j.n_sl AS DOUBLE)
             |           * CAST(t.n AS DOUBLE))
             |         / (CAST(ms.n_s AS DOUBLE)
             |           * CAST(ml.n_l AS DOUBLE))) * 1e6) AS BIGINT)
             |         AS pmi_micro
             |FROM j JOIN ms USING (source) JOIN ml USING (lang)
             |     CROSS JOIN t
             |ORDER BY j.source, j.lang""".stripMargin)),

    // Gopher FILTER-ATTRIBUTION card: per individual gate rule, how
    // many docs fail it and how many fail ONLY it (the marginal kill —
    // removing that one rule would readmit exactly those docs). The
    // table that says which filters do the work and which are dead
    // weight riding other rules' rejections — the first question when
    // tuning a quality gate's thresholds. Shares gopherGate's single
    // map-side metric pass; the explode is rules×docs rows of a few
    // integers feeding one 8-row aggregate, no text ever shuffles.

    Q("q257_stopword_profile",
      (s, dir) => {
        val spark2 = s; import spark2.implicits._
        val stops = TextAnalysis.gopherStopwords
        val toks = Tables.load(s, dir, "documents")
          .select(col("source"),
            explode(Retrieval.tokens(col("text"))).as("t"))
        val totals = toks.groupBy("source")
          .agg(count(lit(1)).as("n_tok"))
          .localCheckpoint() // grid + rate join both read it
        val counts = toks.filter(col("t").isInCollection(stops))
          .groupBy("source", "t").agg(count(lit(1)).as("c"))
        // full sources×8 grid with zero defaults: a word missing from
        // one source contributes its full rate on the other side
        val prof = totals
          .crossJoin(broadcast(stops.toDF("t")))
          .join(counts, Seq("source", "t"), "left")
          .select(col("source"), col("t"),
            expr("coalesce(c, CAST(0 AS BIGINT)) * 1000000 div n_tok")
              .as("ppm"))
        prof.as("a").join(prof.as("b"),
            col("a.t") === col("b.t") &&
              col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"),
            col("b.source").as("src_b"))
          .agg(sum(abs(col("a.ppm") - col("b.ppm"))).as("l1_ppm"))
          .orderBy("src_a", "src_b")
      },
      Some {
        val sw = TextAnalysis.gopherStopwords
          .map(w => s"('$w')").mkString(", ")
        val inList = TextAnalysis.gopherStopwords
          .map(w => s"'$w'").mkString(", ")
        s"""WITH d AS (
           |  SELECT source,
           |         list_filter(string_split_regex(lower(trim(text)),
           |           '\\s+'), w -> len(w) > 0) AS ws
           |  FROM documents
           |), tk AS (
           |  SELECT source, unnest(ws) AS t FROM d
           |), tot AS (
           |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tok
           |  FROM tk GROUP BY 1
           |), sw(t) AS (
           |  VALUES $sw
           |), c AS (
           |  SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM tk WHERE t IN ($inList) GROUP BY 1, 2
           |), prof AS (
           |  SELECT tot.source, sw.t,
           |         CAST(COALESCE(c.c, 0) * 1000000 // tot.n_tok
           |           AS BIGINT) AS ppm
           |  FROM tot CROSS JOIN sw
           |  LEFT JOIN c ON c.source = tot.source AND c.t = sw.t
           |)
           |SELECT a.source AS src_a, b.source AS src_b,
           |       CAST(SUM(abs(a.ppm - b.ppm)) AS BIGINT) AS l1_ppm
           |FROM prof a JOIN prof b
           |  ON a.t = b.t AND a.source < b.source
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }),

    // Benford first-digit audit on order values — the classical
    // fabricated-numbers screen (Benford 1938, Nigrini's forensic
    // standard): observed first-significant-digit shares vs the
    // log₁₀(1+1/d) law in ppm. Multi-magnitude organic amounts follow
    // it; flat or spiky deviations flag synthetic, capped, or
    // price-pointed values. First digit extracted via exact integer
    // cents (decimal×100 → BIGINT → leading character — no float log,
    // no locale formatting); the law's nine constants are computed
    // once in Scala and embedded as IDENTICAL literals in both
    // engines. One 9-row aggregate.
  )
}
