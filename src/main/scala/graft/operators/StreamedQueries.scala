package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{Dedup, Graph, Hnsw, Layout, Mixing, NaiveBayes, Pii, Projection, Retrieval, Similarity, Sketches, TextAnalysis}
import graft.sources.{Tables, VersionedTable}
import graft.streaming.VersionedState
import ParityQueries.Q
import ExtensionShared._

/** Structured Streaming end-state twins: restartable micro-batch waves whose terminal tables are oracle-checked against the batch formulation.
  *
  * One domain registry of the extension surface; composed (in the
  * original, order-stable sequence) by [[ExtensionQueries.all]].
  */
object StreamedQueries {

  val all: Seq[Q] = Seq(

    Q("q214_streamed_cooccur",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        // deterministic per-(application, data-dir) state path, NOT a
        // fresh temp dir per invocation: cooccurBatch overwrites v=N
        // idempotently, so re-invocations (bench passes, spec runs)
        // converge on one bounded state tree instead of littering /tmp
        val stateDir = graft.sources.TmpDirs.appState(s, dir, "q214")
        (0L to 2L).foreach { b =>
          graft.streaming.SketchStreams.cooccurBatch(
            ev.filter(col("event_id") % 3 === b), b, stateDir)
        }
        graft.streaming.SketchStreams.latestCooccurrence(s, stateDir)
          .orderBy("type_a", "type_b")
      },
      Some("""WITH ut AS (
             |  SELECT DISTINCT user_id, event_type FROM events
             |)
             |SELECT a.event_type AS type_a, b.event_type AS type_b,
             |       CAST(COUNT(*) AS BIGINT) AS n_ab
             |FROM ut a JOIN ut b ON a.user_id = b.user_id
             | AND a.event_type < b.event_type
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Per-source language-mixture Shannon entropy — the corpus-balance
    // card a multilingual data mix is tuned against (a source whose
    // entropy collapsed is a crawl that went monolingual). Exact
    // integer micro-nats: each -p·ln(p) term is floored to micro BEFORE
    // the sum ((1e6·ni)·ln(N/ni)/N — count ratios are exact rationals,
    // ln is the one shared IEEE op, integer sums are order-free — the
    // q83/q203 quantization discipline). Two bounded aggregations
    // (groups = sources×langs, then sources); nothing corpus-sized
    // ever shuffles.

    Q("q229_streamed_bins",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val stateDir = graft.sources.TmpDirs.appState(s, dir, "q229")
        (0L to 2L).foreach { b =>
          graft.streaming.MonitorStreams.binBatch(
            ev.filter(col("event_id") % 3 === b), b, stateDir,
            "value", binWidth = 10.0)
        }
        s.read.parquet(VersionedState.latest(s, stateDir))
          .orderBy("bin")
      },
      Some("""SELECT CAST(floor(value / 10.0) AS BIGINT) AS bin,
             |       CAST(COUNT(*) AS BIGINT) AS cnt
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The STREAMED seasonal baseline's end state — q201's standing
    // artifact certified end-to-end: three deliveries through
    // seasonalBatch, split on EPOCH DAY mod 3 (the maintainer's
    // whole-hours batching contract: an hour never straddles a day, so
    // no hour is double-counted in n_hours), read back through
    // seasonalBaselines. Oracle = the one-shot per-(type, hour-of-day)
    // milli-count baseline over all events.

    Q("q230_streamed_seasonal",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val stateDir = graft.sources.TmpDirs.appState(s, dir, "q230")
        (0L to 2L).foreach { b =>
          graft.streaming.MonitorStreams.seasonalBatch(
            ev.filter(datediff(to_date(col("ts")), lit("1970-01-01"))
              % 3 === b), b, stateDir)
        }
        graft.streaming.MonitorStreams.seasonalBaselines(s, stateDir)
          .orderBy("event_type", "h24")
      },
      Some("""WITH h AS (
             |  SELECT event_type, date_trunc('hour', ts) AS hr,
             |         CAST(COUNT(*) AS BIGINT) AS c
             |  FROM events GROUP BY 1, 2
             |)
             |SELECT event_type, CAST(hour(hr) AS BIGINT) AS h24,
             |       CAST(SUM(c) * 1000 // COUNT(*) AS BIGINT)
             |         AS baseline_milli
             |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // The STREAMED ANN-assignment table's end state — EmbeddingStreams'
    // landing loop certified end-to-end: the standing quantizer is
    // landed once (trained on the full corpus — the class contract that
    // retraining cadence lives OUTSIDE the stream), then three
    // micro-batches (vec_id mod 3) deliver through assignBatch (the
    // exact foreachBatch body: _SUCCESS-gated bootstrap skip, map-side
    // assignment against the broadcast standing table, idempotent
    // overwrite under out/batch_id=N) and the union of landed slices is
    // read back. Oracle = the one-shot Lloyd train + assignment over
    // all embeddings (the q42 `asg` chain), so streamed-final ≡
    // rebuilt regardless of batching.

    Q("q231_streamed_assign",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val stateDir = graft.sources.TmpDirs.appState(s, dir, "q231")
        // land the standing quantizer (deterministic train, idempotent
        // overwrite — re-invocations converge byte-identical)
        graft.functions.Similarity.centroids(emb, k = 8, lloydIters = 1)
          .write.mode("overwrite").parquet(s"$stateDir/index/centroids")
        (0L to 2L).foreach { b =>
          graft.streaming.EmbeddingStreams.assignBatch(
            emb.filter(col("vec_id") % 3 === b), b,
            s"$stateDir/index", s"$stateDir/out", k = 8, lloydIters = 1)
        }
        s.read.parquet(s"$stateDir/out")
          .select(col("vec_id"), col("cell"))
          .orderBy("vec_id")
      },
      Some(ivfLloydCtes + """, scored AS (
             |  SELECT e.vec_id, c.centroid_id,
             |         ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             |           list_dot_product(e.v, c.cv)
             |             / (sqrt(list_dot_product(e.v, e.v))
             |                * sqrt(list_dot_product(c.cv, c.cv))) DESC,
             |           c.centroid_id) AS rk
             |  FROM e CROSS JOIN c
             |)
             |SELECT vec_id, centroid_id AS cell FROM scored
             |WHERE rk = 1 ORDER BY vec_id""".stripMargin)),

    // Cross-source contamination matrix at the PASSAGE grain: for every
    // ordered source pair, the 3-word passages of a's docs that also
    // appear anywhere in b, as a count and as bp of a's distinct
    // passage set — the provenance-level "who is quoting whom" table
    // (q68 answers corpus-vs-eval-set, q223 compares head VOCABULARY;
    // this is verbatim text flow between feeds). Volume: one
    // (source, shingle) distinct aggregate is the only corpus-scale
    // step; the match join fans out per shingle by the number of
    // sources carrying it (≤ sources², boilerplate passages bounded by
    // the pair grid, never by row count), and the output is
    // sources×(sources−1) rows.

    Q("q235_streamed_sessions",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
        // 1800 gap + 3600 watermark delay + slack, all in seconds
        val sentinel = ev
          .agg((max(col("ts").cast("long")) + 9000L).as("t"))
          .select(lit(-1L).as("event_id"),
            col("t").cast("timestamp").as("ts"),
            lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
            lit(0.0).as("value"))
        val base = graft.sources.TmpDirs.appState(s, dir, "q235")
        val streamDir = s"$base/events"
        // corpus+sentinel parquet is a pure function of the input —
        // build once per (application, dir), like the q229 state tree
        if (!new java.io.File(s"$streamDir/_SUCCESS").exists())
          ev.unionByName(sentinel).coalesce(1)
            .write.mode("overwrite").parquet(streamDir)
        val wmTarget = s.read.parquet(streamDir)
          .agg(max(col("ts").cast("long"))).collect()(0).getLong(0) -
          3600L - 1L // 1-row bounded decision read (Skew.autoJoin rule)
        val sessions = graft.streaming.EventStreams.sessionize(
          graft.streaming.EventStreams.readEvents(s, streamDir),
          gapSeconds = 1800, watermark = "1 hour")
        // fresh run dir per invocation: the parquet sink + checkpoint
        // pair is single-use by construction (a reused checkpoint with
        // no new data would never re-report the watermark)
        val run = s"$base/run-${java.util.UUID.randomUUID.toString}"
        graft.streaming.EventStreams.runToParquetUntilWatermark(
            sessions.toDF()
              .filter(col("user_id") >= 0)
              .select(col("user_id"), col("n_events"), col("start_s"),
                col("end_s")),
            s"$run/out", s"$run/ckpt", wmTarget)
          .orderBy("user_id", "start_s")
      },
      Some("""WITH e AS (
             |  -- floor, not CAST: epoch() is DOUBLE-with-fraction and a
             |  -- straight CAST rounds .9s up; the kernel floors millis
             |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
             |  FROM events
             |), m AS (
             |  SELECT user_id, t,
             |         CASE WHEN lag(t) OVER w IS NULL
             |              OR t - lag(t) OVER w > 1800
             |           THEN 1 ELSE 0 END AS brk
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)
             |), s AS (
             |  SELECT user_id, t,
             |         SUM(brk) OVER (PARTITION BY user_id ORDER BY t
             |           ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM m
             |)
             |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             |       MIN(t) AS start_s, MAX(t) AS end_s
             |FROM s GROUP BY user_id, sid
             |ORDER BY user_id, start_s""".stripMargin)),

    // The STREAMED degree table's end state — GraphStreams' maintainer
    // certified end-to-end against q119's one-shot oracle: the distinct
    // order–part edge set splits into three deterministic hash waves
    // (wave = f(edge), so per-wave distinct ≡ partitioned global
    // distinct — the q119 contract), each delivered through degreeBatch
    // (the exact foreachBatch body: _SUCCESS-gated predecessor read,
    // mergeDegrees count addition, overwrite v=N), end state read back
    // through VersionedState.latest. History is never re-aggregated;
    // state in the bounded per-(application, dir) tmpdir.

    Q("q236_streamed_degrees",
      (s, dir) => {
        // NO fanOut here (unlike q119): the projection is cast-and-add —
        // there is no CPU-dense kernel for the floor to parallelize, the
        // per-wave distinct's own exchange already spreads the work, and
        // the fan only added a full edge-list exchange per wave
        // (measured r19: 2.61 s -> 3.18 s isolated with the fan on)
        val base = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey").cast("long").as("id_a"),
            (col("l_partkey").cast("long") + 1000000000L).as("id_b"))
        val wave = pmod(col("id_a") * 31 + col("id_b"), lit(3))
        val stateDir = graft.sources.TmpDirs.appState(s, dir, "q236")
        (0L to 2L).foreach { b =>
          graft.streaming.GraphStreams.degreeBatch(
            base.filter(wave === b).distinct(), b, stateDir)
        }
        s.read.parquet(VersionedState.latest(s, stateDir))
          .orderBy("id")
      },
      Some("""WITH e AS (
             |  SELECT DISTINCT l_orderkey AS u,
             |         l_partkey + 1000000000 AS v
             |  FROM lineitem
             |), d AS (
             |  SELECT u AS id FROM e UNION ALL SELECT v FROM e
             |)
             |SELECT CAST(id AS BIGINT) AS id,
             |       CAST(COUNT(*) AS BIGINT) AS deg
             |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Source×language ASSOCIATION card (pointwise mutual information
    // per provenance cell): for each (source, lang) cell its doc count,
    // the count independence would predict, and PMI in exact integer
    // micro-nats — positive cells are a feed's language specialization,
    // a matrix of ~zero PMI means source tells you nothing about
    // language (the partitioning is redundant and per-source language
    // filters can be shared). Complements q215 (per-source entropy —
    // dispersion, not association). Determinism: the ln argument is
    // composed of four separate BIGINT→DOUBLE casts multiplied in fixed
    // order (overflow-free at any corpus size — products of casts, not
    // casts of products), ONE ln, floored to micro (the q121/q215
    // discipline); expected count is exact via DECIMAL staging. Volume:
    // one (source, lang) aggregate; everything after is
    // sources×langs-sized with broadcast marginals.

    Q("q241_streamed_nb",
      (s, dir) => {
        val train = Tables.load(s, dir, "documents")
          .filter(col("doc_id") % 17 =!= 0)
        val stateDir = graft.sources.TmpDirs.appState(s, dir, "q241")
        (0L to 2L).foreach { b =>
          graft.streaming.IndexStreams.nbBatch(
            train.filter(col("doc_id") % 3 === b), b, stateDir)
        }
        NaiveBayes.model(
            s.read.parquet(VersionedState.latest(s, stateDir)))
          .orderBy("label", "term")
      },
      Some(nbModelCtes +
        """
          |SELECT label, term, n, lp FROM mdl
          |ORDER BY label, term""".stripMargin)),

    // The STREAMED inverted index's end state — IndexStreams'
    // indexBatch maintainer certified end-to-end against q92's
    // full-corpus rebuild oracle: the whole corpus streams in three
    // waves, each wave indexes only itself and folds in via the closed
    // arr-form merge (df/tf addition, k-min posting union — MinKAgg's
    // semilattice lifted to the table), and the rendered final version
    // ≡ the one-shot index. The render-at-read (mergeIndexes with an
    // empty batch) is exactly the production read path.

    Q("q242_streamed_index",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val stateDir = graft.sources.TmpDirs.appState(s, dir, "q242")
        (0L to 2L).foreach { b =>
          graft.streaming.IndexStreams.indexBatch(
            docs.filter(col("doc_id") % 3 === b), b, stateDir,
            maxPostings = 32)
        }
        val latest =
          s.read.parquet(VersionedState.latest(s, stateDir))
        Retrieval.mergeIndexes(latest, latest.limit(0), 32)
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

    // The STREAMED BPE word table's end state — IndexStreams' bpeBatch
    // maintainer certified end-to-end THROUGH TRAINING: the corpus
    // streams in three waves (each doc once), each wave builds only its
    // own word-frequency table and folds in by count addition
    // (_SUCCESS-gated predecessor read, overwrite v=N), and the merge
    // table retrained from the final committed version ≡ one-shot
    // training — q139's oracle verbatim (training is a pure function of
    // the word table, so the replayed merge rounds, counts and
    // tie-breaks are all inside the hash).

    Q("q243_streamed_bpe",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val stateDir = graft.sources.TmpDirs.appState(s, dir, "q243")
        (0L to 2L).foreach { b =>
          graft.streaming.IndexStreams.bpeBatch(
            docs.filter(col("doc_id") % 3 === b), b, stateDir)
        }
        graft.functions.Bpe.trainFromWords(
            s.read.parquet(VersionedState.latest(s, stateDir)),
            rounds = 6)
          ._2.orderBy("round")
      },
      Some(bpeOracleCtes(6) +
        (1 to 6).map(r =>
            s"SELECT CAST($r AS BIGINT) AS round, lsym, rsym, n FROM b$r")
          .mkString("\n", "\nUNION ALL\n", "\nORDER BY round"))),

    // Tokenizer-fertility card by source — the mBERT/XLM-R fertility
    // metric against the repo's own trained BPE vocabulary: per source,
    // subwords per word (centi) and characters per subword (centi).
    // High fertility = the vocabulary fragments that feed's language
    // (token budgets buy less text there); read next to q234's OOV
    // drift it separates "vocabulary never fit this source" from "the
    // source moved". Encoding reads the STANDING trained word table
    // (the q140 memoized artifact, shared — training cost is paid once
    // per session); the encode join is token-grain map-side vs the
    // vocabulary-sized table, the rollup is sources-sized.

    Q("q245_streamed_scd2",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders")
        val c1 = lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))
        val c2 = lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
        val waves = Seq(
          orders.filter(col("o_orderdate") < c1),
          orders.filter(col("o_orderdate") >= c1 &&
            col("o_orderdate") < c2),
          orders.filter(col("o_orderdate") >= c2))
        val stateDir = graft.sources.TmpDirs.appState(s, dir, "q245")
        waves.zipWithIndex.foreach { case (w, i) =>
          graft.streaming.DimensionStreams.upsertBatch(w, i.toLong,
            stateDir)
        }
        s.read.parquet(VersionedState.latest(s, stateDir))
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

    // The STREAMED near-dup pipeline's end state — DocumentStreams'
    // nearDupBatch certified end-to-end against the one-shot corpus
    // LSH (q44's oracle verbatim): three waves each probe the standing
    // band/shingle index then grow it (own-id anti-join makes replay
    // converge), and the accumulated pair set — orientation-normalized,
    // since the incremental path emits (new, dup) by arrival while the
    // one-shot orients by id — equals the corpus-wide banding with
    // identical exact-Jaccard scores. A FRESH run tree per invocation:
    // re-probing batch 0 against a later run's full index would
    // re-discover cross-wave pairs into the wrong batch dir (the spec's
    // crash-replay contract covers only the LAST batch).

    Q("q246_streamed_neardups",
      (s, dir) => {
        // Size-derived certification WINDOW (the first ~5k docs by id;
        // cut = max id at every oracle-checked sf — identical rule in
        // the oracle's scored post-filter): LSH volume stays at the
        // sf0.1 level however large the corpus, and — unlike the r14
        // modulus slice, whose per-pair survival fell as 1/m² and
        // certified an EMPTY pair set at sf10 — the dense id window
        // keeps its full near-dup structure at any scale. See
        // ExtensionShared.certSliceCutoff.
        val cut = certSliceCutoff(s, dir, target = 5000L)
        // cache the slice: each wave reads its batch frame once (into
        // nearDupBatch's one checkpoint), so cached the window is read
        // from parquet once for all three waves instead of once per
        // wave; the window itself is bounded (~5k docs) at any corpus
        // size — and the id cutoff IS a parquet-pushable min/max
        // predicate, so at scale the scan prunes to the head row groups
        val docs = Tables.load(s, dir, "documents")
          .filter(col("doc_id") <= cut)
          .select(col("doc_id"), col("text"))
          .persist()
        val base = graft.sources.TmpDirs.freshRun(s, dir, "q246")
        // Wave split on doc_id % 3: window ids are a dense contiguous
        // region, so the residues always populate all three waves (the
        // modulus slice could hand every sliced id to wave 0 when its
        // m was a multiple of 3 — that hazard class dies with the
        // window rule). The accumulated pair set is wave-partition-
        // invariant (a pair lands when its second endpoint arrives;
        // output is orientation-normalized), so the oracle is
        // unchanged.
        try (0L to 2L).foreach { b =>
          graft.streaming.DocumentStreams.nearDupBatch(
            docs.filter(col("doc_id") % 3 === b), b,
            s"$base/index", s"$base/pairs", "doc_id", "text", 3, 4, 4,
            2000L)
        } finally docs.unpersist()
        s.read.parquet(s"$base/pairs")
          .select(least(col("new_id"), col("dup_id")).as("id_a"),
            greatest(col("new_id"), col("dup_id")).as("id_b"),
            col("jaccard_bp"))
          .orderBy("id_a", "id_b")
      },
      Some(neardupScoredCtes +
        // banded candidacy is pair-local (bucket membership of a doc
        // does not depend on other docs), so LSH over the window ≡ the
        // full-corpus scored set restricted to both-endpoints-in-window
        raw"""SELECT id_a, id_b, jaccard_bp FROM scored
          |WHERE jaccard_bp >= 2000
          |  AND id_a <= ${certSliceCutoffSql(5000L)}
          |  AND id_b <= ${certSliceCutoffSql(5000L)}
          |ORDER BY id_a, id_b""".stripMargin)),

    // The STREAMED curation pipeline's end state — DocumentStreams'
    // curateBatch (quality gate ∧ decontamination ∧ keep-first
    // near-dup) certified end-to-end: the corpus streams in three
    // ID-RANGE waves (arrival order = id order, which is what makes
    // streamed keep-first ≡ the one-shot lower-id-wins policy), each
    // batch probes-then-grows the standing index and lands its
    // survivors under batch_id=N, and the accumulated curated set ≡
    // the one-shot policy: quality pass AND zero eval contamination
    // AND no ≥-threshold near-dup pair with ANY lower id (kept or not
    // — the index grows by all docs, so a later twin of a dropped doc
    // drops too; deliberately NON-cascading). Oracle composes the
    // existing chains: LSH scored pairs + q73's quality/dirty CTEs +
    // the keep-first id_b rule. Fresh run tree per invocation (the
    // q246 rationale).

    Q("q247_streamed_curation",
      (s, dir) => {
        val all = Tables.load(s, dir, "documents")
        // size-derived slices (corpus: the first ~2.5k docs by id minus
        // the eval residues; eval: the %17 set, modulus-thinned past
        // ~85k docs): every stage still streams real traffic at a
        // bounded volume — the eval slice bounds the decontamination
        // SHINGLE INDEX the same way the corpus window bounds LSH
        // pairs (at sf1 an unsliced eval is ~3k docs whose 3-gram set
        // marks every candidate dirty: the streamed waves ran but
        // certified an empty survivor set). The corpus slice is a
        // WINDOW, not a modulus: a modulus kills near-dup pairs as
        // 1/m² (the q246 sf10 lesson), so the keep-first policy would
        // certify against an empty pair set at scale; eval stays a
        // modulus because contamination is per-doc, not pair-based.
        // Identical rules in the oracle. Certification cost, not
        // coverage — the full-corpus LSH is q44/q246's surface.
        val evalM = certSliceModulus(s, dir, target = 5000L, floor = 1L)
        val eval = all.filter(col("doc_id") % (17L * evalM) === 0)
          .persist()
        val cut = certSliceCutoff(s, dir, target = 2500L)
        // cache the slice (the q246 rationale: the tercile read below
        // and each wave's two reads of its batch frame through
        // curateBatch — the near-dup checkpoint and the curation
        // filter — share one parquet read); bounded at ~2.5k docs at
        // any corpus size, and the id cutoff is parquet-pushable
        val corpus = all.filter(col("doc_id") % 17 =!= 0 &&
          col("doc_id") <= cut)
          .persist()
        // 1-row bounded decision read (Skew.autoJoin rule): tercile
        // boundaries so waves arrive in id order. max() over an empty
        // slice is NULL, not a row-less frame — read it as an Option and
        // short-circuit to an empty curated set rather than NPE (the
        // residue-1 slice CAN be empty at some corpus sizes now that
        // sliceM is corpus-derived).
        val maxRow = corpus.agg(max("doc_id")).collect()(0)
        if (maxRow.isNullAt(0)) {
          corpus.unpersist(); eval.unpersist()
          all.select(col("doc_id")).limit(0).orderBy("doc_id")
        } else {
          val m = maxRow.getLong(0)
          val base = graft.sources.TmpDirs.freshRun(s, dir, "q247")
          var lo = Long.MinValue
          try Seq(m / 3, 2 * m / 3, m).zipWithIndex.foreach { case (hi, i) =>
            graft.streaming.DocumentStreams.curateBatch(
              corpus.filter(col("doc_id") > lo && col("doc_id") <= hi),
              i.toLong, eval, s"$base/index", s"$base/pairs",
              s"$base/curated", minJaccardBp = 2000)
            lo = hi
          } finally { corpus.unpersist(); eval.unpersist(): Unit }
          s.read.parquet(s"$base/curated")
            .select("doc_id").orderBy("doc_id")
        }
      },
      Some(neardupScoredCtes +
        raw""", qd AS (
          |  SELECT doc_id, text,
          |         list_filter(string_split_regex(text, '\s+'),
          |                     x -> len(x) > 0) AS ws
          |  FROM documents
          |), qtok AS (
          |  SELECT doc_id, unnest(ws) AS w FROM qd
          |), qwc AS (
          |  SELECT doc_id, w, COUNT(*) AS c FROM qtok GROUP BY doc_id, w
          |), qwords AS (
          |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
          |         round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6)
          |           AS top_word_frac
          |  FROM qwc GROUP BY doc_id
          |), qkeep AS (
          |  SELECT qd.doc_id
          |  FROM qd LEFT JOIN qwords qw ON qd.doc_id = qw.doc_id
          |  WHERE COALESCE(qw.n_words, 0) >= 10
          |    AND COALESCE(qw.n_words, 0) <= 5000
          |    AND CASE WHEN length(qd.text) = 0 THEN 0
          |         ELSE floor(length(regexp_replace(qd.text,
          |                '[^A-Za-z]', '', 'g')) * 10000.0
          |              / length(qd.text)) END >= 5000
          |    AND NOT COALESCE(qw.top_word_frac > 0.3, false)
          |), evalh AS (
          |  SELECT DISTINCT shingle FROM sh
          |  WHERE doc_id % (17 * ${certSliceModulusSql(5000L, 1L)}) = 0
          |), dirty AS (
          |  SELECT DISTINCT d.doc_id
          |  FROM sh d JOIN evalh e ON d.shingle = e.shingle
          |  WHERE d.doc_id % 17 <> 0 AND d.doc_id <= ${certSliceCutoffSql(2500L)}
          |), dup AS (
          |  SELECT DISTINCT id_b FROM scored
          |  WHERE jaccard_bp >= 2000
          |    AND id_a % 17 <> 0 AND id_b % 17 <> 0
          |    AND id_a <= ${certSliceCutoffSql(2500L)}
          |    AND id_b <= ${certSliceCutoffSql(2500L)}
          |)
          |SELECT d0.doc_id FROM documents d0
          |WHERE d0.doc_id % 17 <> 0
          |  AND d0.doc_id <= ${certSliceCutoffSql(2500L)}
          |  AND d0.doc_id IN (SELECT doc_id FROM qkeep)
          |  AND d0.doc_id NOT IN (SELECT id_b FROM dup)
          |  AND d0.doc_id NOT IN (SELECT doc_id FROM dirty)
          |ORDER BY d0.doc_id""".stripMargin)),

    // The STREAMED corpus-quality monitor's end state — MonitorStreams'
    // qualityBatch (Gopher + PII counters folded by integer addition)
    // certified end-to-end over the PII-enriched corpus (q149's
    // synthetic traffic, so the PII counters carry real matches):
    // three doc-mod waves → qualityReport off the final committed row
    // ≡ the one-shot census. The oracle rebuilds gopherGateCtes over
    // the SAME enrichment (the gate metrics see the injected text too)
    // plus the scanner's any-kind flag.

    Q("q248_streamed_quality",
      (s, dir) => {
        val docs = Pii.withSyntheticPii(
          Tables.load(s, dir, "documents"))
        val stateDir = graft.sources.TmpDirs.appState(s, dir, "q248")
        (0L to 2L).foreach { b =>
          graft.streaming.MonitorStreams.qualityBatch(
            docs.filter(col("doc_id") % 3 === b), b, stateDir)
        }
        graft.streaming.MonitorStreams.qualityReport(s, stateDir)
      },
      Some {
        val enrichedGate =
          s"""WITH enrd AS (
             |  SELECT doc_id, ${Pii.syntheticPiiSql()} AS text
             |  FROM documents
             |), b AS (""".stripMargin +
          gopherGateCtes.stripPrefix("WITH b AS (")
            .replace("FROM documents\n), m AS (",
              "FROM enrd\n), m AS (")
        enrichedGate + s""", tot AS (
          |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
          |         CAST(SUM(CAST(gopher_pass AS BIGINT)) AS BIGINT)
          |           AS n_pass,
          |         CAST(SUM(n_words) AS BIGINT) AS n_words
          |  FROM gate
          |), pii AS (
          |  SELECT CAST(SUM(CASE WHEN
          |      len(regexp_extract_all(text, '${Pii.emailRe}'))
          |      + len(regexp_extract_all(text, '${Pii.ipv4Re}'))
          |      + len(regexp_extract_all(text, '${Pii.phoneRe}')) > 0
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pii
          |  FROM enrd
          |)
          |SELECT t.n_docs, t.n_pass, t.n_words, p.n_pii,
          |       CAST(floor(t.n_pass * 10000.0 / t.n_docs) AS BIGINT)
          |         AS pass_bp,
          |       CAST(floor(p.n_pii * 10000.0 / t.n_docs) AS BIGINT)
          |         AS pii_bp
          |FROM tot t CROSS JOIN pii p""".stripMargin
      }),

    // The STREAMED heavy-hitter table's end state — SketchStreams'
    // hhBatch (mergeable Misra-Gries) certified in the EXACT regime
    // (k=16 ≥ the per-day event-type domain, the q113 contract: below
    // capacity MG degenerates to exact counts and the merge is exact
    // count addition): three event-mod waves → the latest state ≡ the plain
    // per-(day, type) count — q113's oracle verbatim. Above capacity
    // the PODS-2012 merge bound takes over (spec-gated, as for q106).

    Q("q249_streamed_hh",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("ts"), col("event_type"), col("event_id"))
          .withColumn("day", date_trunc("day", col("ts")))
        val stateDir = graft.sources.TmpDirs.appState(s, dir, "q249")
        (0L to 2L).foreach { b =>
          graft.streaming.SketchStreams.hhBatch(
            ev.filter(col("event_id") % 3 === b), b, stateDir,
            k = 16, "day", "event_type")
        }
        s.read.parquet(VersionedState.latest(s, stateDir))
          .select(col("day"), col("item").as("event_type"), col("cnt"))
          .orderBy(col("day"), desc("cnt"), col("event_type"))
      },
      Some("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             |       event_type, CAST(COUNT(*) AS BIGINT) AS cnt
             |FROM events GROUP BY 1, 2
             |ORDER BY day, cnt DESC, event_type""".stripMargin)),

    // The STREAMED Count-Min sketch's end state — SketchStreams'
    // cmBatch certified end-to-end: the CM state is EXACT deterministic
    // cell counts (merge = addition), so three lineitem waves →
    // the latest state probed at the q124 operating point yields estimates,
    // exact counts and guaranteed overcounts that hash-match q124's
    // one-shot oracle verbatim.

    Q("q250_streamed_cm",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val stateDir = graft.sources.TmpDirs.appState(s, dir, "q250")
        (0L to 2L).foreach { b =>
          graft.streaming.SketchStreams.cmBatch(
            li.filter(col("l_orderkey") % 3 === b), b, stateDir,
            "l_partkey", width = 256, depth = 3)
        }
        val cm = s.read.parquet(VersionedState.latest(s, stateDir))
        val probes = li.filter(col("l_partkey") <= 20)
        val exact = probes
          .groupBy(col("l_partkey").cast("string").as("item"))
          .agg(count(lit(1)).as("exact"))
        Sketches.cmEstimate(cm, probes, "l_partkey", width = 256,
            depth = 3)
          .join(exact, Seq("item"))
          .select(col("item"), col("est"), col("exact"),
            (col("est") - col("exact")).as("overcount"))
          .orderBy("item")
      },
      Some("""WITH js AS (
             |  SELECT unnest([0, 1, 2]) AS j
             |), cells AS (
             |  SELECT js.j,
             |         ('0x'||substr(md5('cm:'||js.j||':'
             |           ||CAST(l_partkey AS VARCHAR)),1,15))::BIGINT
             |           % 256 AS cell,
             |         COUNT(*) AS cnt
             |  FROM lineitem CROSS JOIN js
             |  GROUP BY 1, 2
             |), probes AS (
             |  SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS item
             |  FROM lineitem WHERE l_partkey <= 20
             |), pe AS (
             |  SELECT p.item, js.j,
             |         ('0x'||substr(md5('cm:'||js.j||':'||p.item),1,15))
             |           ::BIGINT % 256 AS cell
             |  FROM probes p CROSS JOIN js
             |), est AS (
             |  SELECT pe.item, MIN(COALESCE(c.cnt, 0)) AS est
             |  FROM pe LEFT JOIN cells c
             |    ON c.j = pe.j AND c.cell = pe.cell
             |  GROUP BY 1
             |), ex AS (
             |  SELECT CAST(l_partkey AS VARCHAR) AS item,
             |         COUNT(*) AS exact
             |  FROM lineitem WHERE l_partkey <= 20 GROUP BY 1
             |)
             |SELECT e.item, CAST(e.est AS BIGINT) AS est,
             |       CAST(x.exact AS BIGINT) AS exact,
             |       CAST(e.est - x.exact AS BIGINT) AS overcount
             |FROM est e JOIN ex x ON x.item = e.item
             |ORDER BY e.item""".stripMargin)),

    // The STREAMED tumbling-window aggregation's end state — the
    // watermark-windowed engine aggregation certified end-to-end: the
    // event stream runs through tumblingCounts (watermark + 1h window
    // groupBy in the engine's state store), the COMPLETE-mode memory
    // read-back after processAllAvailable holds the final value of
    // every window, and that table ≡ the batch hourly rollup. Counts
    // only on the compare surface (the window's double sum is fold-
    // order-ambiguous — the q235 rule).

    Q("q251_streamed_tumbling",
      (s, dir) => {
        val streamDir = graft.sources.TmpDirs.appState(s, dir, "q251")
        if (!new java.io.File(s"$streamDir/_SUCCESS").exists())
          Tables.events(s, dir).coalesce(1)
            .write.mode("overwrite").parquet(streamDir)
        val counts = graft.streaming.EventStreams.tumblingCounts(
          graft.streaming.EventStreams.readEvents(s, streamDir),
          "1 hour")
        graft.streaming.EventStreams.runToMemory(counts,
            s"q251_tumbling_${java.util.UUID.randomUUID.toString
              .replace("-", "")}",
            outputMode = "complete")
          .select(col("window_start"), col("event_type"),
            col("n_events"))
          .orderBy("window_start", "event_type")
      },
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)
             |         AS window_start,
             |       event_type, CAST(COUNT(*) AS BIGINT) AS n_events
             |FROM events GROUP BY 1, 2
             |ORDER BY window_start, event_type""".stripMargin)),

    // Attribution lookback-sensitivity card — q208's two models swept
    // across 1/3/7-day windows in ONE pass: per (lookback, model,
    // touch type) the conversion credit, so the table shows how much
    // credit MOVES as the window widens (the first question when an
    // attribution window is being negotiated — a stable split means
    // the window hardly matters, a big 'none' drop means touches are
    // slow). All six frames ride the same (user, ts) sort: one
    // shuffle, six conditional struct-extrema windows; the rollups
    // read a purchases-sized localCheckpoint.
  )
}
