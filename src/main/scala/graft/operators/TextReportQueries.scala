package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{Dedup, Graph, Hnsw, Layout, Mixing, NaiveBayes, Pii, Projection, Retrieval, Similarity, Sketches, TextAnalysis}
import graft.sources.{Tables, VersionedTable}
import ParityQueries.Q
import ExtensionShared._

/** Text-corpus report cards: quality calibration, DSIR importance, novelty, lexical diversity, Zipf/Good-Turing, length profiles.
  *
  * One domain registry of the extension surface; composed (in the
  * original, order-stable sequence) by [[ExtensionQueries.all]].
  */
object TextReportQueries {

  val all: Seq[Q] = Seq(

    Q("q89_quality_representative",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val members = clustersTable(s, dir)
        val docs = Tables.load(s, dir, "documents")
          .join(members.select(col("id").as("doc_id")), Seq("doc_id"),
            "left_semi")
        val quality = TextAnalysis.qualityVerdict(docs)
          .select(col("doc_id").as("id"), col("alpha_bp"), col("n_words"))
        val w = Window.partitionBy(col("comp"))
          .orderBy(desc("alpha_bp"), desc("n_words"), asc("id"))
        members.join(quality, Seq("id"))
          .withColumn("rk", row_number().over(w))
          .groupBy(col("comp"))
          .agg(count(lit(1)).as("n_members"),
            max(when(col("rk") === 1, col("id"))).as("rep_id"))
          .orderBy("comp")
      },
      Some(neardupScoredCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, pairs AS (
          |  SELECT id_a, id_b FROM scored WHERE jaccard_bp >= 2000
          |), edges AS (
          |  SELECT id_a AS src, id_b AS dst FROM pairs
          |  UNION SELECT id_b, id_a FROM pairs
          |), walk(id, reach) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src
          |), comp AS (
          |  SELECT id, MIN(reach) AS comp FROM walk GROUP BY id
          |), qd AS (
          |  SELECT doc_id, text,
          |         list_filter(string_split_regex(text, '\s+'),
          |                     x -> len(x) > 0) AS ws
          |  FROM documents
          |  WHERE doc_id IN (SELECT id FROM comp)
          |), qtok AS (
          |  SELECT doc_id, unnest(ws) AS w FROM qd
          |), qwc AS (
          |  SELECT doc_id, w, COUNT(*) AS c FROM qtok GROUP BY doc_id, w
          |), qwords AS (
          |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words
          |  FROM qwc GROUP BY doc_id
          |), qsig AS (
          |  SELECT qd.doc_id AS id,
          |         CAST(COALESCE(qw.n_words, 0) AS BIGINT) AS n_words,
          |         CAST(CASE WHEN length(qd.text) = 0 THEN 0
          |              ELSE floor(length(regexp_replace(qd.text,
          |                     '[^A-Za-z]', '', 'g')) * 10000.0
          |                   / length(qd.text)) END AS BIGINT) AS alpha_bp
          |  FROM qd LEFT JOIN qwords qw ON qd.doc_id = qw.doc_id
          |), ranked AS (
          |  SELECT c.comp, c.id, s.alpha_bp, s.n_words,
          |         ROW_NUMBER() OVER (PARTITION BY c.comp
          |           ORDER BY s.alpha_bp DESC, s.n_words DESC, c.id)
          |           AS rk
          |  FROM comp c JOIN qsig s ON s.id = c.id
          |)
          |SELECT comp, CAST(COUNT(*) AS BIGINT) AS n_members,
          |       CAST(MAX(CASE WHEN rk = 1 THEN id END) AS BIGINT)
          |         AS rep_id
          |FROM ranked GROUP BY comp ORDER BY comp""".stripMargin)),

    // Vocabulary build + token encoding — the tokenizer-feed precursor
    // to q65's sequence packing: ids are frequency ranks (count desc,
    // term asc — deterministic), documents re-encode as ordered id
    // sequences via a broadcast vocabulary join, order restored by
    // position in one aggregation.

    Q("q126_adaptive_quality",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        // localCheckpoint: the verdict frame is referenced 3x (both
        // threshold percentiles + the final join) — without it the
        // census chain plans and runs once per reference (guide §3.3);
        // the frame is doc-count rows of 3 ints, trivially small
        val q = TextAnalysis.qualityVerdict(docs)
          .select("doc_id", "alpha_bp", "n_words").localCheckpoint()
        // the threshold derivation is the reusable function the
        // curation driver's adaptiveQualityPercentile lever routes
        // through (CurationSpec pins adaptive run ≡ manual run)
        val th = TextAnalysis.adaptiveQualityThresholds(q, 10)
        docs.select("doc_id", "source")
          .join(q, Seq("doc_id"))
          .crossJoin(broadcast(th))
          .groupBy("source")
          .agg(
            sum(when(col("alpha_bp") >= col("th_alpha") &&
              col("n_words") >= col("th_words"), 1L).otherwise(0L))
              .as("n_kept"),
            sum(when(col("alpha_bp") >= col("th_alpha") &&
              col("n_words") >= col("th_words"), 0L).otherwise(1L))
              .as("n_dropped"),
            max(col("th_alpha")).as("th_alpha"),
            max(col("th_words")).as("th_words"))
          .orderBy("source")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, source, text,
             |         list_filter(string_split_regex(text, '\s+'),
             |                     x -> len(x) > 0) AS ws
             |  FROM documents
             |), tok AS (
             |  SELECT doc_id, unnest(ws) AS w FROM d
             |), words AS (
             |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words
             |  FROM tok GROUP BY doc_id
             |), f AS (
             |  SELECT d.doc_id, d.source,
             |         CASE WHEN length(d.text) = 0 THEN 0
             |              ELSE CAST(floor(length(regexp_replace(d.text,
             |                     '[^A-Za-z]', '', 'g')) * 10000.0
             |                   / length(d.text)) AS BIGINT) END
             |           AS alpha_bp,
             |         COALESCE(w.n_words, 0) AS n_words
             |  FROM d LEFT JOIN words w ON d.doc_id = w.doc_id
             |), ra AS (
             |  SELECT alpha_bp AS v,
             |         ROW_NUMBER() OVER (ORDER BY alpha_bp) AS rn,
             |         COUNT(*) OVER () AS n
             |  FROM f
             |), rw AS (
             |  SELECT n_words AS v,
             |         ROW_NUMBER() OVER (ORDER BY n_words) AS rn,
             |         COUNT(*) OVER () AS n
             |  FROM f
             |), th AS (
             |  SELECT
             |    (SELECT v FROM ra WHERE rn = (n * 10 + 99) // 100)
             |      AS th_alpha,
             |    (SELECT v FROM rw WHERE rn = (n * 10 + 99) // 100)
             |      AS th_words
             |)
             |SELECT f.source,
             |       CAST(SUM(CASE WHEN f.alpha_bp >= th.th_alpha
             |         AND f.n_words >= th.th_words THEN 1 ELSE 0 END)
             |         AS BIGINT) AS n_kept,
             |       CAST(SUM(CASE WHEN f.alpha_bp >= th.th_alpha
             |         AND f.n_words >= th.th_words THEN 0 ELSE 1 END)
             |         AS BIGINT) AS n_dropped,
             |       CAST(MAX(th.th_alpha) AS BIGINT) AS th_alpha,
             |       CAST(MAX(th.th_words) AS BIGINT) AS th_words
             |FROM f CROSS JOIN th
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Near-dup pair EXPLANATION (the manual-review face of dedup): per
    // flagged pair, the exact shared-shingle count and the 4 SMALLEST
    // shared 60-bit fingerprints as reproducible evidence — smallest,
    // not first-seen, so the sample is engine-independent. Intersect is
    // one merge scan per pair over the sorted shingle arrays.

    Q("q146_dsir_importance",
      (s, dir) => TextAnalysis.dsirImportance(
          Tables.load(s, dir, "documents"), col("lang") === "en")
        .orderBy("doc_id"),
      Some(dsirOracleCtes +
        """
          |SELECT tk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feat,
          |       CAST(SUM(w.w_micro) AS BIGINT) AS importance_micro
          |FROM tk JOIN w USING (b) GROUP BY 1 ORDER BY 1""".stripMargin)),

    // DSIR resampling: the importance scores drive the q112
    // Efraimidis-Spirakis draw (clamped exp of the micro-nat score as
    // the weight, stratified per source) — the corpus-shaped selection
    // step that makes the sampled subset approximate the target
    // distribution. Deterministic via the portable-hash uniform and
    // picounit key quantization; the oracle replays score → weight →
    // ES key → per-stratum rank.

    Q("q147_dsir_sample",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val imp = TextAnalysis.dsirImportance(docs, col("lang") === "en")
        val weighted = docs.join(imp, Seq("doc_id"))
          .withColumn("dsir_w",
            exp(greatest(least(col("importance_micro") / lit(1e6),
              lit(50.0)), lit(-50.0))))
        TextAnalysis.weightedSample(weighted, keyCol = "doc_id",
            weightCol = "dsir_w", stratumCol = "source", k = 10)
          .select("doc_id", "source", "importance_micro")
          .orderBy("doc_id")
      },
      Some(dsirOracleCtes + """, imp AS (
             |  SELECT tk.doc_id, CAST(SUM(w.w_micro) AS BIGINT)
             |           AS importance_micro
             |  FROM tk JOIN w USING (b) GROUP BY 1
             |), wd AS (
             |  SELECT d.doc_id, d.source, i.importance_micro,
             |         exp(GREATEST(LEAST(i.importance_micro / 1000000.0,
             |           50.0), -50.0)) AS dsir_w
             |  FROM documents d JOIN imp i ON d.doc_id = i.doc_id
             |)
             |SELECT doc_id, source, importance_micro FROM (
             |  SELECT doc_id, source, importance_micro,
             |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY
             |           CAST(floor(-ln(
             |             (('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
             |               1, 15))::BIGINT + 1)
             |             / 1152921504606846976.0)
             |             / dsir_w * 1000000000000.0) AS BIGINT),
             |           doc_id) AS rk
             |  FROM wd WHERE dsir_w > 0)
             |WHERE rk <= 10 ORDER BY doc_id""".stripMargin)),

    // Gopher repetition rules (Rae 2021 App. A): char fraction covered
    // by the most frequent word 2-gram + char fraction covered by ALL
    // duplicated word 3-grams, exact integer basis points — the
    // boilerplate/degenerate-text filters a per-word census misses.

    Q("q195_ngram_novelty",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val hs = Dedup.shingleSets(docs, "doc_id", "text", 3)
        val tok = hs.select(col("doc_id"), explode(col("hs")).as("h"))
        val ref = tok.filter(col("doc_id") % 2 === 0)
          .select("h").distinct().withColumn("_seen", lit(true))
        tok.filter(col("doc_id") % 2 === 1)
          .join(ref, Seq("h"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("_seen").isNull, 1L).otherwise(0L))
              .as("n_novel"))
          .withColumn("novelty_bp",
            expr("n_novel * 10000 div n_shingles"))
          .orderBy("doc_id")
      },
      Some(neardupScoredCtes +
        """SELECT o.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
          |       CAST(SUM(CASE WHEN r.shingle IS NULL
          |                THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
          |       CAST(SUM(CASE WHEN r.shingle IS NULL
          |                THEN 1 ELSE 0 END) * 10000
          |         // COUNT(*) AS BIGINT) AS novelty_bp
          |FROM sh o LEFT JOIN (
          |  SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0) r
          |  ON r.shingle = o.shingle
          |WHERE o.doc_id % 2 = 1
          |GROUP BY o.doc_id ORDER BY o.doc_id""".stripMargin)),

    // Contrastive training-pair manifest (SimCSE/DPR data prep): from
    // every near-dup cluster, (anchor = representative, positive =
    // other member) pairs, each with a HARD negative — the most
    // shingle-overlapping doc OUTSIDE the anchor's cluster (ties to
    // the lowest id). Consumes the memoized cluster table; the oracle
    // replays closure, overlap ranking and tie rule wholesale.

    Q("q216_lexical_diversity",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val uni = d.select(col("source"),
            explode(Retrieval.tokens(col("text"))).as("t"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_tokens"),
            countDistinct(col("t")).as("n_types"))
        val bi = d.select(col("source"),
            explode(Retrieval.wordNgrams(col("text"), 2)).as("b"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_bigrams"),
            countDistinct(col("b")).as("n_distinct_bigrams"))
        uni.join(bi, Seq("source"), "left")
          .select(col("source"), col("n_tokens"), col("n_types"),
            expr("n_types * 10000 div n_tokens").as("ttr_bp"),
            coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
            coalesce(col("n_distinct_bigrams"), lit(0L))
              .as("n_distinct_bigrams"),
            expr("CASE WHEN coalesce(n_bigrams, 0) > 0 THEN " +
              "n_distinct_bigrams * 10000 div n_bigrams " +
              "ELSE CAST(0 AS BIGINT) END").as("distinct_bigram_bp"))
          .orderBy("source")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, source,
             |         list_filter(string_split_regex(lower(trim(text)),
             |           '\s+'), w -> len(w) > 0) AS ws
             |  FROM documents
             |), tr AS (
             |  SELECT doc_id, source, generate_subscripts(ws, 1) AS i,
             |         unnest(ws) AS t, len(ws) AS n
             |  FROM d
             |), uni AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             |         CAST(COUNT(DISTINCT t) AS BIGINT) AS n_types
             |  FROM tr GROUP BY 1
             |), bg AS (
             |  SELECT source,
             |         t || ' ' || lead(t, 1) OVER (PARTITION BY doc_id
             |           ORDER BY i) AS b, i, n
             |  FROM tr
             |), bgs AS (
             |  SELECT source, b FROM bg WHERE i <= n - 1
             |), bi AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |         CAST(COUNT(DISTINCT b) AS BIGINT)
             |           AS n_distinct_bigrams
             |  FROM bgs GROUP BY 1
             |)
             |SELECT u.source, u.n_tokens, u.n_types,
             |       CAST(u.n_types * 10000 // u.n_tokens AS BIGINT)
             |         AS ttr_bp,
             |       CAST(COALESCE(b.n_bigrams, 0) AS BIGINT)
             |         AS n_bigrams,
             |       CAST(COALESCE(b.n_distinct_bigrams, 0) AS BIGINT)
             |         AS n_distinct_bigrams,
             |       CAST(CASE WHEN COALESCE(b.n_bigrams, 0) > 0
             |            THEN b.n_distinct_bigrams * 10000
             |              // b.n_bigrams
             |            ELSE 0 END AS BIGINT) AS distinct_bigram_bp
             |FROM uni u LEFT JOIN bi b USING (source)
             |ORDER BY u.source""".stripMargin)),

    // Zipf rank-frequency slope per source (Theil-Sen over the top-50
    // terms' (ln rank, ln count) points): natural text sits near −1;
    // a flat slope flags machine-generated/templated sources, a steep
    // one flags degenerate repetition — the q202 robust-trend recipe
    // applied to the lexical distribution. Slopes are floored to exact
    // integer milli AFTER one shared IEEE op sequence (ln of exact
    // counts, subtract, divide — no float ever aggregates); the
    // pairwise stage is per-source quadratic in the FIXED top-k (1225
    // pairs), never corpus-sized; the median via the bounded radix
    // histogram (percentilesByValue).

    Q("q217_zipf_slope",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val tc = Tables.load(s, dir, "documents")
          .select(col("source"),
            explode(Retrieval.tokens(col("text"))).as("t"))
          .groupBy("source", "t").agg(count(lit(1)).as("c"))
        val w = Window.partitionBy("source")
          .orderBy(desc("c"), asc("t"))
        val top = tc.withColumn("r", row_number().over(w))
          .filter(col("r") <= 50)
        val slopes = top.as("a").join(top.as("b"),
            col("a.source") === col("b.source")
              && col("a.r") < col("b.r"))
          .select(col("a.source").as("source"),
            floor((lit(1000.0)
                * (log(col("b.c").cast("double"))
                  - log(col("a.c").cast("double"))))
              / (log(col("b.r").cast("double"))
                - log(col("a.r").cast("double"))))
              .as("slope_milli"))
        Sketches.percentilesByValue(slopes, "source", "slope_milli",
            Seq(50))
          .select(col("source"), col("n").as("n_pairs"),
            col("p50").as("slope_milli_p50"))
          .orderBy("source")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, source,
             |         list_filter(string_split_regex(lower(trim(text)),
             |           '\s+'), w -> len(w) > 0) AS ws
             |  FROM documents
             |), tr AS (
             |  SELECT source, unnest(ws) AS t FROM d
             |), tc AS (
             |  SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM tr GROUP BY 1, 2
             |), rk AS (
             |  SELECT source, t, c,
             |         ROW_NUMBER() OVER (PARTITION BY source
             |           ORDER BY c DESC, t) AS r
             |  FROM tc
             |), top AS (
             |  SELECT * FROM rk WHERE r <= 50
             |), sl AS (
             |  SELECT a.source,
             |         CAST(FLOOR((1000.0
             |             * (ln(CAST(b.c AS DOUBLE))
             |               - ln(CAST(a.c AS DOUBLE))))
             |           / (ln(CAST(b.r AS DOUBLE))
             |             - ln(CAST(a.r AS DOUBLE)))) AS BIGINT) AS v
             |  FROM top a JOIN top b ON b.source = a.source
             |    AND a.r < b.r
             |), cc AS (
             |  SELECT source, v, COUNT(*) AS cnt FROM sl GROUP BY 1, 2
             |), cum AS (
             |  SELECT source, v,
             |         SUM(cnt) OVER (PARTITION BY source
             |           ORDER BY v) AS cum,
             |         SUM(cnt) OVER (PARTITION BY source) AS n
             |  FROM cc
             |)
             |SELECT source, CAST(MAX(n) AS BIGINT) AS n_pairs,
             |       CAST(MIN(CASE WHEN cum >= (n * 50 + 99) // 100
             |         THEN v END) AS BIGINT) AS slope_milli_p50
             |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Temperature-scaled source sampling weights (the multilingual
    // mixing recipe — mBERT/XLM-R style p_i ∝ n_i^(1/τ) at τ=2, i.e.
    // √tokens): upweights tail sources without letting the head
    // dominate. τ=2 is the one temperature whose power is an EXACT
    // IEEE op (sqrt is correctly rounded; pow/exp would drift across
    // libms — the q211 rule), so both engines produce identical
    // weights: √tokens floored to integer micro once, then pure
    // integer shares (ppm) via DECIMAL/HUGEINT staging that cannot
    // overflow at any corpus size. One bounded aggregate + a 1-row
    // broadcast; token counting is the q175 stream.

    Q("q225_pii_density_by_source",
      (s, dir) => {
        val enr = Pii.withSyntheticPii(Tables.load(s, dir, "documents"))
        val counted = enr.select(
          col("source") +: Pii.patterns.map { case (name, re, _) =>
            regexp_count(col("text"), lit(re)).cast("long")
              .as(s"n_$name")
          }: _*)
        val kinds = Pii.patterns.map(_._1)
        counted.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            kinds.map(k => sum(col(s"n_$k")).as(s"n_$k")) :+
              sum((kinds.map(k => col(s"n_$k")).reduce(_ + _) > 0)
                .cast("long")).as("n_docs_pii"): _*)
          .select(col("source") +: col("n_docs") +:
            kinds.map(k => col(s"n_$k")) :+ col("n_docs_pii") :+
            expr("n_docs_pii * 10000 div n_docs").as("pii_doc_bp"): _*)
          .orderBy("source")
      },
      Some(s"""WITH enr AS (
             |  SELECT doc_id, source, ${Pii.syntheticPiiSql()} AS text
             |  FROM documents
             |), c AS (
             |  SELECT source,
             |    CAST(len(regexp_extract_all(text,
             |      '${Pii.emailRe}')) AS BIGINT) AS n_email,
             |    CAST(len(regexp_extract_all(text,
             |      '${Pii.ipv4Re}')) AS BIGINT) AS n_ipv4,
             |    CAST(len(regexp_extract_all(text,
             |      '${Pii.phoneRe}')) AS BIGINT) AS n_phone
             |  FROM enr
             |)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(SUM(n_email) AS BIGINT) AS n_email,
             |       CAST(SUM(n_ipv4) AS BIGINT) AS n_ipv4,
             |       CAST(SUM(n_phone) AS BIGINT) AS n_phone,
             |       CAST(SUM(CASE WHEN n_email + n_ipv4 + n_phone > 0
             |         THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_pii,
             |       CAST(SUM(CASE WHEN n_email + n_ipv4 + n_phone > 0
             |         THEN 1 ELSE 0 END) * 10000 // COUNT(*)
             |         AS BIGINT) AS pii_doc_bp
             |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    // Bigram-novelty saturation curve (Heaps' law at the ingest
    // grain): bucket the corpus into ten doc-id ranges and count the
    // distinct bigrams whose FIRST occurrence falls in each — a
    // flattening cumulative share says the crawl is saturating (new
    // data re-treads old vocabulary) and further ingest buys little.
    // One (bigram → min doc_id) aggregate is the only corpus-scale
    // step; the curve itself is a 10-row window fold, exact integer
    // shares.

    Q("q226_bigram_novelty",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = Tables.load(s, dir, "documents")
        val firstDoc = d.select(col("doc_id"),
            explode(Retrieval.wordNgrams(col("text"), 2)).as("b"))
          .groupBy("b").agg(min(col("doc_id")).as("first_doc"))
        val mx = broadcast(d.agg(max(col("doc_id")).as("mx")))
        // BOUNDED single-partition window: bucket = first_doc*10 div
        // (mx+1) ∈ [0,9] by construction, so the windowed frame is ≤10
        // rows at ANY corpus size (Round12Spec pins the domain;
        // Bounded.globalWindowFrame enforces it at runtime); the
        // WindowExec no-partition warning is benign here and its logger
        // is quieted in Bench
        // STANDING: the ≤10-row certified frame memoizes per (session,
        // dir) — its upstream is a full bigram census whose
        // per-invocation recompute is what the bench pays otherwise
        // (Standing.release rebuilds it on next access)
        val buckets = graft.sources.Standing.frame(s, dir,
          "q226-decile-buckets") {
          graft.functions.Bounded.globalWindowFrame(
            firstDoc.crossJoin(mx)
              .select(expr("first_doc * 10 div (mx + 1)").as("bucket"))
              .groupBy("bucket").agg(count(lit(1)).as("n_new_bigrams")),
            maxRows = 10, contract = "q226 decile buckets")
        }
        val wCum = Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        buckets
          .withColumn("cum", sum(col("n_new_bigrams")).over(wCum))
          .withColumn("tot", sum(col("n_new_bigrams")).over(wAll))
          .select(col("bucket"), col("n_new_bigrams"),
            col("cum").as("cum_new_bigrams"),
            expr("cum * 10000 div tot").as("cum_share_bp"))
          .orderBy("bucket")
      },
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
             |  SELECT doc_id,
             |         t || ' ' || lead(t, 1) OVER (PARTITION BY doc_id
             |           ORDER BY i) AS b, i, n
             |  FROM tr
             |), fd AS (
             |  SELECT b, CAST(MIN(doc_id) AS BIGINT) AS first_doc
             |  FROM bg WHERE i <= n - 1 GROUP BY b
             |), mx AS (
             |  SELECT CAST(MAX(doc_id) AS BIGINT) AS mx FROM documents
             |), bk AS (
             |  SELECT CAST(f.first_doc * 10 // (m.mx + 1) AS BIGINT)
             |           AS bucket,
             |         CAST(COUNT(*) AS BIGINT) AS n_new_bigrams
             |  FROM fd f CROSS JOIN mx m GROUP BY 1
             |)
             |SELECT bucket, n_new_bigrams,
             |       CAST(SUM(n_new_bigrams) OVER (ORDER BY bucket
             |         ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |         AS cum_new_bigrams,
             |       CAST(SUM(n_new_bigrams) OVER (ORDER BY bucket
             |         ROWS UNBOUNDED PRECEDING) * 10000
             |         // SUM(n_new_bigrams) OVER () AS BIGINT)
             |         AS cum_share_bp
             |FROM bk ORDER BY bucket""".stripMargin)),

    // Dedup savings projection — q220's doc counts priced in TOKENS:
    // per source, the token mass the dedup materialization would drop
    // (non-representative cluster members, the q63 rule) as bp of the
    // source's mass — the number that turns "8% of docs are dupes"
    // into "11% of the compute budget is re-reading them" (dupes skew
    // long, so token savings ≠ doc savings). Same one left join of
    // the token spine against the candidate-pair-sized standing
    // cluster table + one aggregate.

    Q("q228_incremental_novelty",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = Tables.load(s, dir, "documents")
        val batchPred = col("doc_id") % 10 === 7
        def firstOcc(docs: org.apache.spark.sql.DataFrame) =
          docs.select(col("doc_id"),
              explode(Retrieval.wordNgrams(col("text"), 2)).as("b"))
            .groupBy("b").agg(min(col("doc_id")).as("first_doc"))
        val standing = firstOcc(d.filter(!batchPred))
        // the incremental fold: standing ∪ batch → min per bigram
        val folded = standing
          .unionByName(firstOcc(d.filter(batchPred)))
          .groupBy("b").agg(min(col("first_doc")).as("first_doc"))
        val mx = broadcast(d.agg(max(col("doc_id")).as("mx")))
        // BOUNDED single-partition window: ≤10 decile buckets by
        // construction (the q226 bound, Round12Spec-pinned and enforced
        // at runtime by Bounded.globalWindowFrame)
        // STANDING (the q226 discipline): the standing ∪ batch bigram
        // fold recomputes per invocation otherwise
        val buckets = graft.sources.Standing.frame(s, dir,
          "q228-decile-buckets") {
          graft.functions.Bounded.globalWindowFrame(
            folded.crossJoin(mx)
              .select(expr("first_doc * 10 div (mx + 1)").as("bucket"))
              .groupBy("bucket").agg(count(lit(1)).as("n_new_bigrams")),
            maxRows = 10, contract = "q228 decile buckets")
        }
        val wCum = Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        buckets
          .withColumn("cum", sum(col("n_new_bigrams")).over(wCum))
          .withColumn("tot", sum(col("n_new_bigrams")).over(wAll))
          .select(col("bucket"), col("n_new_bigrams"),
            col("cum").as("cum_new_bigrams"),
            expr("cum * 10000 div tot").as("cum_share_bp"))
          .orderBy("bucket")
      },
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
             |  SELECT doc_id,
             |         t || ' ' || lead(t, 1) OVER (PARTITION BY doc_id
             |           ORDER BY i) AS b, i, n
             |  FROM tr
             |), fd AS (
             |  SELECT b, CAST(MIN(doc_id) AS BIGINT) AS first_doc
             |  FROM bg WHERE i <= n - 1 GROUP BY b
             |), mx AS (
             |  SELECT CAST(MAX(doc_id) AS BIGINT) AS mx FROM documents
             |), bk AS (
             |  SELECT CAST(f.first_doc * 10 // (m.mx + 1) AS BIGINT)
             |           AS bucket,
             |         CAST(COUNT(*) AS BIGINT) AS n_new_bigrams
             |  FROM fd f CROSS JOIN mx m GROUP BY 1
             |)
             |SELECT bucket, n_new_bigrams,
             |       CAST(SUM(n_new_bigrams) OVER (ORDER BY bucket
             |         ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |         AS cum_new_bigrams,
             |       CAST(SUM(n_new_bigrams) OVER (ORDER BY bucket
             |         ROWS UNBOUNDED PRECEDING) * 10000
             |         // SUM(n_new_bigrams) OVER () AS BIGINT)
             |         AS cum_share_bp
             |FROM bk ORDER BY bucket""".stripMargin)),

    // The STREAMED drift histogram's end state as a first-class query —
    // the q214 pattern applied to MonitorStreams: three micro-batches
    // (event_id mod 3) delivered through binBatch (the exact
    // foreachBatch body the maintainer runs: predecessor read gated on
    // _SUCCESS, additive bin fold, overwrite v=N) and the final state
    // read back through VersionedState.latest. The oracle is the
    // ONE-SHOT bin count over all events (the q121 bin formula), so
    // streamed-final ≡ rebuilt is hash-certified no matter how the
    // stream batched.
    // State lives in the bounded per-(application, dir) tmpdir (the
    // q214 convention) so re-invocations converge on one tree.

    Q("q233_quality_calibration",
      (s, dir) =>
        // the standing α×Gopher census (shared with q273 — see
        // ExtensionShared.alphaGopherBuckets for the reuse history)
        ExtensionShared.alphaGopherBuckets(s, dir)
          .select(col("bucket"), col("n_docs"), col("n_pass"),
            expr("n_pass * 10000 div n_docs").as("pass_bp"))
          .orderBy("bucket"),
      Some(gopherGateCtes + """, q AS (
             |  SELECT doc_id,
             |         CAST(CASE WHEN length(text) = 0 THEN 0
             |           ELSE floor(length(regexp_replace(text,
             |             '[^A-Za-z]', '', 'g')) * 10000.0
             |             / length(text)) END AS BIGINT) AS alpha_bp
             |  FROM documents
             |)
             |SELECT q.alpha_bp // 1000 AS bucket,
             |       CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(SUM(CAST(g.gopher_pass AS BIGINT)) AS BIGINT)
             |         AS n_pass,
             |       CAST(SUM(CAST(g.gopher_pass AS BIGINT)) * 10000
             |         // COUNT(*) AS BIGINT) AS pass_bp
             |FROM q JOIN gate g ON g.doc_id = q.doc_id
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Vocabulary-drift card against a PINNED vocabulary — the
    // tokenizer-health signal: pin the history corpus's top-1000 terms
    // (count desc, term asc — deterministic at the boundary), then per
    // source compare the out-of-vocabulary token share of the incoming
    // batch (doc_id mod 10 = 7, the incremental-family fixture) against
    // history's own OOV share. A positive drift means the feed's
    // language moved away from what the tokenizer/filters were tuned
    // on (new domain, new language, or spam). Volume: one term-count
    // aggregate over history, a bounded top-k (TakeOrdered, k=1000
    // rows broadcast), and one token-grain map-side membership join +
    // source-grain rollup; zero-token splits report -1 (the q178
    // rule).

    Q("q238_filter_attribution",
      (s, dir) => {
        val g = TextAnalysis.gopherGate(Tables.load(s, dir, "documents"))
        val fails: Seq[(String, Column)] = Seq(
          "alpha_words" -> (col("alpha_word_bp") < 8000),
          "bullet_lines" -> (col("bullet_bp") > 9000),
          "ellipsis_lines" -> (col("ellipsis_bp") > 3000),
          "mean_word_len" -> (col("mean_wl_centi") < 300 ||
            col("mean_wl_centi") > 1000),
          "stopwords" -> (col("n_stop_present") < 2),
          "symbol_ratio" -> (col("symbol_bp") > 1000),
          "words_max" -> (col("n_words") > 100000),
          "words_min" -> (col("n_words") < 50))
        val nf = fails.map(_._2.cast("long")).reduce(_ + _)
        g.select(nf.as("nf"),
            array(fails.map { case (nm, c) =>
              struct(lit(nm).as("rule"), c.cast("long").as("f"))
            }: _*).as("rs"))
          .select(col("nf"), explode(col("rs")).as("r"))
          .groupBy(col("r.rule").as("rule"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("r.f")).as("n_fail"),
            sum(when(col("r.f") === 1 && col("nf") === 1, 1L)
              .otherwise(0L)).as("n_only"))
          .select(col("rule"), col("n_docs"), col("n_fail"),
            col("n_only"),
            expr("n_fail * 10000 div n_docs").as("fail_bp"))
          .orderBy("rule")
      },
      Some(gopherGateCtes + """, f AS (
             |  SELECT doc_id,
             |    CAST(alpha_word_bp < 8000 AS BIGINT) AS alpha_words,
             |    CAST(bullet_bp > 9000 AS BIGINT) AS bullet_lines,
             |    CAST(ellipsis_bp > 3000 AS BIGINT) AS ellipsis_lines,
             |    CAST(mean_wl_centi < 300 OR mean_wl_centi > 1000
             |      AS BIGINT) AS mean_word_len,
             |    CAST(n_stop_present < 2 AS BIGINT) AS stopwords,
             |    CAST(symbol_bp > 1000 AS BIGINT) AS symbol_ratio,
             |    CAST(n_words > 100000 AS BIGINT) AS words_max,
             |    CAST(n_words < 50 AS BIGINT) AS words_min
             |  FROM gate
             |), tf AS (
             |  SELECT *, alpha_words + bullet_lines + ellipsis_lines
             |    + mean_word_len + stopwords + symbol_ratio
             |    + words_max + words_min AS nf
             |  FROM f
             |), u AS (
             |  SELECT 'alpha_words' AS rule, alpha_words AS fl, nf
             |    FROM tf
             |  UNION ALL SELECT 'bullet_lines', bullet_lines, nf FROM tf
             |  UNION ALL SELECT 'ellipsis_lines', ellipsis_lines, nf
             |    FROM tf
             |  UNION ALL SELECT 'mean_word_len', mean_word_len, nf
             |    FROM tf
             |  UNION ALL SELECT 'stopwords', stopwords, nf FROM tf
             |  UNION ALL SELECT 'symbol_ratio', symbol_ratio, nf FROM tf
             |  UNION ALL SELECT 'words_max', words_max, nf FROM tf
             |  UNION ALL SELECT 'words_min', words_min, nf FROM tf
             |)
             |SELECT rule, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(SUM(fl) AS BIGINT) AS n_fail,
             |       CAST(SUM(CASE WHEN fl = 1 AND nf = 1
             |         THEN 1 ELSE 0 END) AS BIGINT) AS n_only,
             |       CAST(SUM(fl) * 10000 // COUNT(*) AS BIGINT)
             |         AS fail_bp
             |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)),

    // LSH parameter sweep — the (bands, rows) tuning table from ONE
    // 12-value signature set: for each banding of the same signatures,
    // observed candidate volume and precision at the j ≥ 0.5 decision
    // threshold, next to the exact-rational S-curve prediction
    // P(candidate | s = 0.5) = 1 − (1 − 2^-r)^b in ppm (integer
    // arithmetic — BigInt powers over the 2^rb denominator, identical
    // literals on both engines by construction). q129 tunes the
    // PRODUCTION banding against ground truth on a sample; this is the
    // design-space scan that picks it. Volume: bands explode is
    // docs·Σb rows of short strings, candidate joins are
    // band-bucket-bounded, the verify join is candidate-pair-sized
    // against the once-built shingle arrays — never all-pairs.

    Q("q253_length_profile",
      (s, dir) => Sketches.percentilesByValue(
          Tables.load(s, dir, "documents")
            .select(col("source"),
              size(filter(split(trim(col("text")), "\\s+"),
                w => length(w) > 0)).cast("long").as("n_tokens")),
          groupCol = "source", valueCol = "n_tokens",
          percentiles = Seq(10, 50, 90))
        .orderBy("source"),
      Some("""WITH d AS (
             |  SELECT source,
             |         CAST(len(list_filter(
             |           string_split_regex(trim(text), '\s+'),
             |           w -> len(w) > 0)) AS BIGINT) AS v
             |  FROM documents
             |), c AS (
             |  SELECT source, v, COUNT(*) AS cnt FROM d GROUP BY 1, 2
             |), cum AS (
             |  SELECT source, v,
             |         SUM(cnt) OVER (PARTITION BY source
             |           ORDER BY v) AS cum,
             |         SUM(cnt) OVER (PARTITION BY source) AS n
             |  FROM c
             |)
             |SELECT source, CAST(MAX(n) AS BIGINT) AS n,
             |       CAST(MIN(CASE WHEN cum >= (n * 10 + 99) // 100
             |         THEN v END) AS BIGINT) AS p10,
             |       CAST(MIN(CASE WHEN cum >= (n * 50 + 99) // 100
             |         THEN v END) AS BIGINT) AS p50,
             |       CAST(MIN(CASE WHEN cum >= (n * 90 + 99) // 100
             |         THEN v END) AS BIGINT) AS p90
             |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Good-Turing unseen-mass card by source: the classical estimate of
    // the probability mass of UNSEEN bigrams is N1/N (singleton count
    // over token count, Good 1953) — the "how much of this feed's
    // distribution have we still not observed" number that says whether
    // more crawling buys coverage or repetition; reads next to q226's
    // Heaps curve (rate of new types) and q217's Zipf slope (shape of
    // the seen mass). Exact integers: unseen mass in ppm, singleton
    // share of the vocabulary in bp. One (source, bigram) count
    // aggregate — the q216 bigram stream — then a sources-sized rollup.

    Q("q254_good_turing",
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("source"),
          explode(Retrieval.wordNgrams(col("text"), 2)).as("b"))
        .groupBy("source", "b").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum("c").as("n_bigrams"),
          count(lit(1)).as("n_distinct"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_singleton"))
        .select(col("source"), col("n_bigrams"), col("n_distinct"),
          col("n_singleton"),
          expr("n_singleton * 1000000 div n_bigrams")
            .as("unseen_mass_ppm"),
          expr("n_singleton * 10000 div n_distinct")
            .as("singleton_share_bp"))
        .orderBy("source"),
      Some("""WITH d AS (
             |  SELECT doc_id, source,
             |         list_filter(string_split_regex(lower(trim(text)),
             |           '\s+'), w -> len(w) > 0) AS ws
             |  FROM documents
             |), tr AS (
             |  SELECT doc_id, source, generate_subscripts(ws, 1) AS i,
             |         unnest(ws) AS t, len(ws) AS n
             |  FROM d
             |), bg AS (
             |  SELECT source,
             |         t || ' ' || lead(t, 1) OVER (PARTITION BY doc_id
             |           ORDER BY i) AS b, i, n
             |  FROM tr
             |), bc AS (
             |  SELECT source, b, COUNT(*) AS c
             |  FROM bg WHERE i <= n - 1 GROUP BY 1, 2
             |), ag AS (
             |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_bigrams,
             |         CAST(COUNT(*) AS BIGINT) AS n_distinct,
             |         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
             |           AS BIGINT) AS n_singleton
             |  FROM bc GROUP BY 1
             |)
             |SELECT source, n_bigrams, n_distinct, n_singleton,
             |       CAST(n_singleton * 1000000 // n_bigrams AS BIGINT)
             |         AS unseen_mass_ppm,
             |       CAST(n_singleton * 10000 // n_distinct AS BIGINT)
             |         AS singleton_share_bp
             |FROM ag ORDER BY source""".stripMargin)),

    // MinHash estimator-calibration card: for the production banding's
    // candidate pairs (4×4 over a 16-value signature), bucket pairs by
    // the signature agreement m (the estimator ĵ = m/16) and report
    // the mean EXACT Jaccard per bucket next to the estimate — the
    // unbiasedness check on real data that closes the loop q129
    // (recall) and q239 (S-curve design) leave open: are the signature
    // agreements themselves telling the truth? Volume: candidate pairs
    // from the banding, positional agreement via one zip_with per pair,
    // verify join vs the once-built shingle arrays.
  )
}
