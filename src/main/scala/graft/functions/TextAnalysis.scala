package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines, built
  * exclusively from codegen'd built-in functions (no UDFs) so they stay
  * inside whole-stage codegen and remain expressible as ANSI SQL for the
  * DuckDB oracle.
  *
  * Scale posture: all are narrow per-row transforms — no shuffle, no state;
  * they pipeline into whatever scan/aggregation surrounds them at 100 TB.
  */
object TextAnalysis {

  /** Whitespace token count; 0 for empty/blank text. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))
      .cast("int")

  /** Characters matching a class, via strip-and-diff (portable to any SQL
    * engine: length(x) - length(regexp_replace(x, cls, ''))). */
  def charClassCount(text: Column, notClassRegex: String): Column =
    length(regexp_replace(text, notClassRegex, ""))

  def alphaCount(text: Column): Column = charClassCount(text, "[^A-Za-z]")
  def digitCount(text: Column): Column = charClassCount(text, "[^0-9]")

  def whitespaceCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "\\s", ""))

  /** Alpha ratio in basis points, floor()'d so double division never hits a
    * cross-engine rounding boundary. */
  def alphaRatioBp(text: Column): Column =
    when(length(text) === 0, lit(0L))
      .otherwise(floor(alphaCount(text) * lit(10000.0) / length(text)))
      .cast("long")

  /** Occurrences of `word` as a standalone token, replace-diff counted
    * (non-overlapping, consistent across engines). Text is lowercased and
    * space-padded first. */
  def wordHits(text: Column, word: String): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    val needle = s" $word "
    ((length(padded) - length(regexp_replace(padded,
      java.util.regex.Pattern.quote(needle), ""))) / lit(needle.length))
      .cast("int")
  }

  /** n-gram-free language-ID heuristic: stopword-hit count for a language's
    * most frequent function words. */
  def stopwordHits(text: Column, stopwords: Seq[String]): Column =
    stopwords.map(wordHits(text, _)).reduce(_ + _)

  val englishStopwords: Seq[String] = Seq("the", "and", "of", "to", "a")

  /** Stopword profiles per language for the classify heuristic. */
  val stopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> englishStopwords,
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "et", "les", "des", "une"),
    "es" -> Seq("el", "los", "las", "una", "y"))

  /** Language classification: argmax of per-language stopword hits, tie
    * broken by profile order (first profile wins ties); "und" (unknown)
    * when no profile scores a hit. */
  def classifyLang(text: Column): Column = {
    val scores = stopwordProfiles.map { case (lang, words) =>
      lang -> stopwordHits(text, words)
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, score), acc) =>
      when(score > 0 && score === best, lit(lang)).otherwise(acc)
    }
  }

  /** One-pass character census (graft.plans.CharClassCounts):
    * [n_chars, alpha, digit, ws] — counts bit-equal to the
    * strip-and-diff regex formulations above. */
  def charClassCountsFast(text: Column): Column =
    org.apache.spark.sql.graftops.ColumnBridge.column(
      graft.plans.CharClassCounts(
        org.apache.spark.sql.graftops.ColumnBridge.expression(text)))

  /** Fused hit counting (graft.plans.StopwordProfileHits): one lowercase +
    * indexOf scan pass per row instead of a regex pass per stopword —
    * counts bit-equal to the replace-diff formulation above. Returns
    * array<int> aligned with `profiles`. */
  def profileHitsFast(text: Column,
                      profiles: Seq[Seq[String]]): Column =
    org.apache.spark.sql.graftops.ColumnBridge.column(
      graft.plans.StopwordProfileHits(
        org.apache.spark.sql.graftops.ColumnBridge.expression(text),
        profiles))

  def stopwordHitsFast(text: Column, stopwords: Seq[String]): Column =
    profileHitsFast(text, Seq(stopwords)).getItem(0)

  /** classifyLang over the fused kernel: the hit array is one shared
    * subexpression; the argmax and every hit column read its slots. */
  def classifyLangFast(text: Column): Column = {
    val arr = profileHitsFast(text, stopwordProfiles.map(_._2))
    val scores = stopwordProfiles.zipWithIndex.map { case ((lang, _), i) =>
      lang -> arr.getItem(i)
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, score), acc) =>
      when(score > 0 && score === best, lit(lang)).otherwise(acc)
    }
  }

  /** Longest run of equal adjacent elements in an ASCENDING-SORTED string
    * array — i.e. the count of the most frequent element, computed in one
    * map-side fold with no shuffle. The building block for repetition
    * metrics: sorting the tokens of ONE row is per-row work, so "count of
    * the top word" never needs the explode → groupBy(doc, word) shuffle
    * the naive formulation pays. Empty arrays yield 0. */
  def maxSortedRunLength(sortedArr: Column): Column =
    aggregate(sortedArr,
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Gopher-style repetition metrics per document, all map-side: word
    * count, distinct-word count, top-word fraction (count of the most
    * frequent word / words), top-bigram fraction — high values flag the
    * degenerate repetitive documents a training corpus drops (reference
    * has no analogue; standard training-data quality gate). Takes the
    * raw text and tokenizes internally (filtering the empty token that
    * split returns for blank text) so blank documents report n_words=0
    * and NULL fractions — the SAME contract as the census kernel twin,
    * on any input. Bigram fraction is NULL for one-word docs. */
  def repetitionMetrics(text: Column): Seq[Column] = {
    val ws = filter(split(trim(text), "\\s+"), w => length(w) > 0)
    val nWords = size(ws).cast("long")
    val bg = when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1),
        i => concat(element_at(ws, i), lit(" "), element_at(ws, i + 1))))
      .otherwise(array().cast("array<string>"))
    Seq(
      nWords.as("n_words"),
      size(array_distinct(ws)).cast("long").as("n_distinct"),
      // zero-word guard: NULL instead of an ANSI divide-by-zero error
      when(nWords > 0,
        round(maxSortedRunLength(sort_array(ws)).cast("double") / nWords, 6))
        .otherwise(lit(null).cast("double")).as("top_word_frac"),
      when(size(bg) > 0,
        round(maxSortedRunLength(sort_array(bg)).cast("double") / size(bg), 6))
        .otherwise(lit(null).cast("double")).as("top_bigram_frac"))
  }

  /** Repetition metrics via the native one-pass census kernel
    * (graft.plans.RepetitionStats): same four columns/values as
    * repetitionMetrics, but a single hash-count pass over the row's
    * tokens replaces the per-row sorts + interpreted lambda folds —
    * the hot-path variant (the two are cross-checked in FunctionsSpec). */
  def repetitionMetricsFast(text: Column): Seq[Column] = {
    val st = org.apache.spark.sql.graftops.ColumnBridge.column(
      graft.plans.RepetitionStats(
        org.apache.spark.sql.graftops.ColumnBridge.expression(text)))
    val n = element_at(st, 1)
    Seq(
      n.as("n_words"),
      element_at(st, 2).as("n_distinct"),
      // zero-word guard: NULL instead of an ANSI divide-by-zero error
      when(n > 0, round(element_at(st, 3).cast("double") / n, 6))
        .otherwise(lit(null).cast("double")).as("top_word_frac"),
      when(n >= 2,
        round(element_at(st, 4).cast("double") / (n - 1), 6))
        .otherwise(lit(null).cast("double")).as("top_bigram_frac"))
  }

  /** Composed quality-filter verdict (the C4/Gopher-style keep/drop
    * stage): word-count window, alphabetic-ratio floor, top-word
    * repetition cap — evaluated in ONE map-side projection over the two
    * census kernels (repetition stats + char classes), with the FIRST
    * failing rule as the machine-readable drop reason. This is the
    * composition payoff of the kernel design: the whole filter is a
    * single scan-stage pass, no shuffle, no explode.
    */
  def qualityVerdict(docs: org.apache.spark.sql.DataFrame,
                     idCol: String = "doc_id", textCol: String = "text",
                     minWords: Int = MinWords, maxWords: Int = MaxWords,
                     minAlphaBp: Int = MinAlphaBp,
                     maxTopWordFrac: Double = MaxTopWordFrac)
      : org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    // census kernels are the dominant per-row cost — floor the
    // parallelism when the input is an under-parallel small scan
    graft.sources.Tables.fanOut(docs, col(idCol))
      .select(col(idCol) +:
        (repetitionMetricsFast(t) :+ alphaBp(t).as("alpha_bp")): _*)
      .withColumn("reason", reasonChain(col("n_words"), col("alpha_bp"),
        col("top_word_frac"), minWords, maxWords, minAlphaBp,
        maxTopWordFrac))
      .withColumn("keep", col("reason").isNull)
      .select(idCol, "n_words", "alpha_bp", "top_word_frac", "keep",
        "reason")
  }

  /** [[qualityVerdict]]'s default keep policy: the word-count window,
    * the alphabetic-share floor (basis points) and the top-word cap. */
  private val MinWords = 10
  private val MaxWords = 5000
  private val MinAlphaBp = 5000
  private val MaxTopWordFrac = 0.3

  /** [[qualityVerdict]]'s `reason` under its default thresholds,
    * straight from the text column — the first failing rule, NULL when
    * the doc is kept — for a caller that filters rows in place instead
    * of joining to a verdict frame. */
  def qualityReason(text: Column): Column = {
    val Seq(nWords, _, topWordFrac, _) = repetitionMetricsFast(text)
    reasonChain(nWords, alphaBp(text), topWordFrac, MinWords, MaxWords,
      MinAlphaBp, MaxTopWordFrac)
  }

  /** Alphabetic share of the non-space characters, in basis points
    * (0 for an all-space text). */
  private def alphaBp(text: Column): Column = {
    val cc = charClassCountsFast(text)
    when(cc.getItem(0) === 0, lit(0L))
      .otherwise(floor(cc.getItem(1) * lit(10000.0) / cc.getItem(0)))
      .cast("long")
  }

  private def reasonChain(nWords: Column, alphaBp: Column,
                          topWordFrac: Column, minWords: Int,
                          maxWords: Int, minAlphaBp: Int,
                          maxTopWordFrac: Double): Column =
    when(nWords < minWords, "too_short")
      .when(nWords > maxWords, "too_long")
      .when(alphaBp < minAlphaBp, "low_alpha")
      .when(topWordFrac > maxTopWordFrac, "repetitive")
      .otherwise(lit(null).cast("string"))

  /** Corpus-derived quality thresholds (q126's adaptive gate lifted to
    * a reusable function): the `percentile`-th percentile of `alpha_bp`
    * and of `n_words` over a [[qualityVerdict]]-shaped frame, via the
    * sort-free histogram percentiles (both columns are integral and
    * domain-bounded — the percentilesByValue contract). One row
    * (th_alpha, th_words); a keep gate is then
    * alpha_bp >= th_alpha AND n_words >= th_words. */
  def adaptiveQualityThresholds(verdict: org.apache.spark.sql.DataFrame,
                                percentile: Int)
      : org.apache.spark.sql.DataFrame = {
    require(percentile >= 1 && percentile <= 100,
      s"percentile must be in [1, 100], got $percentile")
    val q = verdict.select(col("alpha_bp"), col("n_words"))
      .withColumn("g", lit(1))
    val thA = Sketches.percentilesByValue(q, "g", "alpha_bp",
      Seq(percentile)).select(col(s"p$percentile").as("th_alpha"))
    val thW = Sketches.percentilesByValue(q, "g", "n_words",
      Seq(percentile)).select(col(s"p$percentile").as("th_words"))
    thA.crossJoin(thW)
  }

  /** Deterministic sampling bucket 0-99 from a key column: md5-prefix
    * hash, so the same key lands in the same bucket on ANY engine and
    * every rerun — the scale-correct way to subsample/mix training
    * corpora (RNG sampling is neither reproducible nor push-downable;
    * a hash bucket is a plain filter). */
  def hashBucket(key: Column): Column =
    pmod(conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long"), lit(100))

  /** Stratified deterministic sample: keep rows whose bucket falls under
    * the stratum's keep-percentage (`rates`: stratum value → percent;
    * `defaultRate` otherwise). Reproducible, join-free, map-side. */
  def stratifiedSample(df: org.apache.spark.sql.DataFrame, keyCol: String,
                       stratumCol: String, rates: Map[String, Int],
                       defaultRate: Int): org.apache.spark.sql.DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (value, pct)) =>
      when(col(stratumCol) === value, lit(pct)).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol)) < rate)
  }

  /** Rolling-hash document fingerprint (md5 hex — portable, deterministic). */
  def fingerprint(text: Column): Column = md5(text)

  /** Feature-hashing (the hashing trick, Weinberger et al. 2009):
    * every document becomes a `dim`-bucket bag-of-words COUNT vector,
    * bucket = portable md5 hash of the token mod dim — the vocabulary-
    * free featurization that feeds linear quality/domain classifiers
    * at corpus scale (no vocabulary table to build, broadcast, or keep
    * consistent across batches; the same token lands in the same
    * bucket in any engine, forever).
    *
    * Plan: one explode→(doc, bucket) groupBy shuffle (counts partial-
    * aggregate map-side), then one doc-grain aggregate pivots the ≤ dim
    * buckets into the dense csv vector via a map lookup — no per-bucket
    * joins, no dim-sized explode. Zero-token docs drop out (they have
    * no feature mass), matching the tokenizer-side convention. */
  def hashFeatures(docs: org.apache.spark.sql.DataFrame, dim: Int,
                   idCol: String = "doc_id",
                   textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val counts = docs.select(col(idCol),
        explode(Retrieval.tokens(col(textCol))).as("w"))
      .select(col(idCol),
        pmod(conv(substring(md5(col("w")), 1, 8), 16, 10)
          .cast("long"), lit(dim.toLong)).as("b"))
      .groupBy(col(idCol), col("b")).agg(count(lit(1)).as("c"))
    counts.groupBy(col(idCol))
      .agg(sum(col("c")).as("n_tokens"),
        map_from_entries(collect_list(struct(col("b"), col("c"))))
          .as("m"))
      .select(col(idCol), col("n_tokens"),
        array_join(transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("m"), i.cast("long")), lit(0L))
            .cast("string")), ",").as("features"))
  }

  /** GPT2-style pre-tokenizer pattern (ASCII variant): contractions,
    * space-prefixed letter runs, digit runs, punctuation runs, whitespace.
    * A cheap proxy for BPE token counts without a vocabulary. */
  val bpePattern: String =
    "'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+|\\s+"

  /** BPE-ish token count: number of pre-tokenizer matches. */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(bpePattern)).cast("int")

  /** Per-stratum QUOTA sampling (corpus balancing): keep at most
    * `quotas(stratum)` rows per stratum (default `defaultQuota`),
    * chosen deterministically as the rows with the smallest portable
    * md5 hash of their key — a reproducible uniform draw, unlike
    * rate-based stratifiedSample which keeps a PERCENTAGE (quotas cap
    * the absolute count, the contract language-balancing needs when one
    * language is 1000× another).
    *
    * Scale posture: the selection is a bounded-state aggregate — MinKAgg
    * keeps the `quota` smallest hashes per stratum (mergeable, map-side
    * partial combine), so no per-stratum sort and no single-partition
    * window; the corpus is then semi-joined on (stratum, hash), with
    * the selected-hash side at most Σ quotas rows (broadcast). Exactness
    * caveat: selection keys on the 60-bit hash, so two keys colliding
    * within one stratum could over-admit by one row — negligible below
    * ~2^30 rows per stratum; production uses the full 128-bit digest.
    *
    * NULL strata are governed by `defaultQuota` like any other stratum
    * (the `quotas` map can't name them): the grouping keeps the NULL
    * group and the semi-join back is null-safe on the stratum. */
  def quotaSample(df: org.apache.spark.sql.DataFrame, keyCol: String,
                  stratumCol: String, quotas: Map[String, Int],
                  defaultQuota: Int): org.apache.spark.sql.DataFrame = {
    require(defaultQuota >= 0 && quotas.values.forall(_ >= 0),
      "quotas must be non-negative")
    val maxQ = (quotas.values.toSeq :+ defaultQuota).max
    val quotaOf = quotas.foldLeft(lit(defaultQuota)) {
      case (acc, (value, q)) => when(col(stratumCol) === value, lit(q))
        .otherwise(acc)
    }
    val selected = df
      .groupBy(col(stratumCol))
      .agg(Sketches.minK(Dedup.md5Hash64(col(keyCol).cast("string")), maxQ)
        .as("hs"))
      .select(col(stratumCol), posexplode(col("hs")))
      // minK is ascending, so pos < quota trims each stratum to ITS cap
      .filter(col("pos") < quotaOf)
      .select(col(stratumCol).as("_sel_stratum"), col("col").as("_sel_hash"))
    val withHash = df
      .withColumn("_sel_hash", Dedup.md5Hash64(col(keyCol).cast("string")))
    // null-safe on the stratum: a plain equi-join would silently drop
    // every NULL-stratum row instead of letting defaultQuota govern it
    withHash
      .join(org.apache.spark.sql.functions.broadcast(selected),
        withHash(stratumCol) <=> selected("_sel_stratum") &&
          withHash("_sel_hash") === selected("_sel_hash"), "left_semi")
      .drop("_sel_hash")
  }

  /** Deterministic WEIGHTED sampling without replacement, k per stratum
    * (Efraimidis & Spirakis 2006, A-Res): each row draws
    * key = −ln(u)/w with u a uniform from the portable md5 hash of its
    * id, and the k SMALLEST keys win — P(selection) ∝ weight, yet the
    * draw replays bit-identically anywhere (RNG sampling is neither
    * reproducible nor auditable; the hash is both). Keys quantize to
    * integer picounits before comparison so selection order carries no
    * float-comparison ambiguity across engines.
    *
    * Scale posture: same as quotaSample — the per-stratum k-smallest
    * selection is the bounded mergeable MinKAgg (no per-stratum sort),
    * the winners semi-join back on (stratum, key). Zero- or
    * negative-weight rows are excluded up front (their ES key is
    * +∞ / undefined). */
  /** Gopher-style within-doc repetition signals (Rae et al., "Scaling
    * Language Models: ... Gopher", 2021, Appendix A quality rules): the
    * character fraction covered by the most frequent word 2-gram and
    * the character fraction covered by ALL duplicated word 3-grams —
    * the repetition filters that catch boilerplate and degenerate
    * machine-generated text that per-word censuses miss.
    *
    * Exact integer basis points over word characters (separator spaces
    * excluded on both sides of the definition): top2_bp =
    * occurrences·gramchars·10⁴ div docchars; ties for the top 2-gram
    * break lexicographically. Docs with < n words report 0 for that
    * signal. Per-doc windows over the token explode — corpus-sized
    * work is the explode and two n-gram aggregations, nothing joins
    * anything wider than the doc totals. */
  def repetitionSignals(docs: org.apache.spark.sql.DataFrame,
                        idCol: String = "doc_id",
                        textCol: String = "text"):
      org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = graft.sources.Tables.fanOut(docs, col(idCol))
      .select(col(idCol),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
    val totals = words.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_words"),
      sum(length(col("w"))).as("n_word_chars"))
    val byPos = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val bi = words
      .withColumn("w2", lead(col("w"), 1).over(byPos))
      .filter(col("w2").isNotNull)
      .select(col(idCol), concat_ws(" ", col("w"), col("w2")).as("g"),
        (length(col("w")) + length(col("w2"))).cast("long").as("glen"))
      .groupBy(col(idCol), col("g"), col("glen"))
      .agg(count(lit(1)).as("c"))
    val topBi = bi.withColumn("rk", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(desc("c"), asc("g"))))
      .filter(col("rk") === 1)
      .select(col(idCol), col("g").as("top_bigram"),
        col("c").as("top_bigram_n"),
        (col("c") * col("glen")).as("top2_cov"))
    val tri = words
      .withColumn("w2", lead(col("w"), 1).over(byPos))
      .withColumn("w3", lead(col("w"), 2).over(byPos))
      .filter(col("w3").isNotNull)
      .select(col(idCol),
        concat_ws(" ", col("w"), col("w2"), col("w3")).as("g"),
        (length(col("w")) + length(col("w2")) + length(col("w3")))
          .cast("long").as("glen"))
      .groupBy(col(idCol), col("g"), col("glen"))
      .agg(count(lit(1)).as("c"))
    val dupTri = tri.filter(col("c") >= 2)
      .groupBy(col(idCol))
      .agg(sum(col("c") * col("glen")).as("dup3_cov"))
    totals
      .join(topBi, Seq(idCol), "left")
      .join(dupTri, Seq(idCol), "left")
      .select(col(idCol), col("n_words"), col("n_word_chars"),
        col("top_bigram"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        expr("coalesce(top2_cov, 0L) * 10000 div n_word_chars")
          .as("top2_bp"),
        expr("coalesce(dup3_cov, 0L) * 10000 div n_word_chars")
          .as("dup3_bp"))
  }

  /** The eight Gopher "stop words" — rule (6) of the quality filter
    * requires a document to contain at least two of them as exact
    * whitespace tokens. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The complete Gopher document-quality rule set (Rae et al.,
    * "Scaling Language Models: ... Gopher", 2021, Appendix A) — the
    * rules q148's repetition signals and the census gate don't already
    * carry, composed into one verdict:
    *
    *  (1) 50 ≤ word count ≤ 100 000
    *  (2) mean word length in [3, 10] characters
    *  (3) symbol-to-word ratio ≤ 0.1 (hash marks + ellipses)
    *  (4) ≤ 90% of lines start with a bullet; ≤ 30% end with an
    *      ellipsis
    *  (5) ≥ 80% of words contain at least one alphabetic character
    *  (6) ≥ 2 of the 8 Gopher stop words present as exact tokens
    *
    * All ratios are exact integer basis points / centi-chars (floor of
    * an integer-valued double product — IEEE-identical cross-engine),
    * so the whole verdict is DuckDB-oracle-exact. Pure map-side: per-
    * row array folds over the token split, zero shuffles, no UDFs.
    * A zero-word document reports zeroed metrics and fails the gate. */
  def gopherGate(docs: org.apache.spark.sql.DataFrame,
                 idCol: String = "doc_id",
                 textCol: String = "text"):
      org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    // interpreted HOF census over every word — parallelism floor first
    val withArrays = graft.sources.Tables.fanOut(docs, col(idCol))
      .select(col(idCol), t.as("t"),
      filter(split(trim(t), "\\s+"), w => length(w) > 0).as("ws"),
      split(t, "\n").as("lines"))
    val n = size(col("ws")).cast("long")
    val sumLen = aggregate(col("ws"), lit(0L), (acc, w) => acc + length(w))
    val alphaWords = size(filter(col("ws"),
      w => w.rlike("[A-Za-z]"))).cast("long")
    val nStops = gopherStopwords
      .map(s => array_contains(col("ws"), s).cast("long"))
      .reduce(_ + _)
    val symbols = (regexp_count(col("t"), lit("#")) +
      regexp_count(col("t"), lit("\\.\\.\\.")) +
      regexp_count(col("t"), lit("…"))).cast("long")
    val nLines = size(col("lines")).cast("long")
    val bulletLines = size(filter(col("lines"), l =>
      ltrim(l).startsWith("•") || ltrim(l).startsWith("-") ||
        ltrim(l).startsWith("*"))).cast("long")
    val ellipsisLines = size(filter(col("lines"), l =>
      rtrim(l).endsWith("...") || rtrim(l).endsWith("…"))).cast("long")
    val safe = n > 0
    def bpOf(num: Column, den: Column): Column =
      floor(num * lit(10000.0) / den).cast("long")
    val m = withArrays.select(
      col(idCol), n.as("n_words"),
      when(safe, floor(sumLen * lit(100.0) / n).cast("long"))
        .otherwise(0L).as("mean_wl_centi"),
      when(safe, bpOf(symbols, n)).otherwise(0L).as("symbol_bp"),
      bpOf(bulletLines, nLines).as("bullet_bp"),
      bpOf(ellipsisLines, nLines).as("ellipsis_bp"),
      when(safe, bpOf(alphaWords, n)).otherwise(0L).as("alpha_word_bp"),
      nStops.as("n_stop_present"))
    m.withColumn("gopher_pass",
      col("n_words") >= 50 && col("n_words") <= 100000 &&
        col("mean_wl_centi") >= 300 && col("mean_wl_centi") <= 1000 &&
        col("symbol_bp") <= 1000 &&
        col("bullet_bp") <= 9000 && col("ellipsis_bp") <= 3000 &&
        col("alpha_word_bp") >= 8000 && col("n_stop_present") >= 2)
  }

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): hashed
    * token features, per-bucket log-likelihood ratio of the TARGET
    * distribution vs the raw corpus (Laplace-smoothed), per-doc
    * importance = the sum of its tokens' bucket weights. Feeds
    * weightedSample (importance-proportional draw) or a rank gate.
    *
    * Determinism discipline: bucket weights are ONE ln per bucket
    * (double multiplies/divide then ln — single IEEE ops, the q112/q121
    * precedent) floored to integer micro-nats; per-doc importance is
    * then an exact order-free int64 sum. Totals ride a broadcast 1-row
    * frame; the corpus-sized paths are the token explode and one
    * bucket-keyed aggregation — nothing corpus-sized joins anything
    * wider than the 256-row weight table. */
  def dsirImportance(docs: org.apache.spark.sql.DataFrame,
                     isTarget: org.apache.spark.sql.Column,
                     buckets: Int = 256, idCol: String = "doc_id",
                     textCol: String = "text"):
      org.apache.spark.sql.DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val toks = docs.select(col(idCol), isTarget.as("is_t"),
        explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("b", pmod(Dedup.md5Hash64(col("tok")),
        lit(buckets.toLong)))
    val stats = toks.groupBy("b").agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("tc"),
      count(lit(1)).as("sc"))
    val totals = stats.agg(sum("tc").as("tt"), sum("sc").as("st"))
    val weights = stats.crossJoin(
        org.apache.spark.sql.functions.broadcast(totals))
      .select(col("b"),
        floor(log(
          ((col("tc") + 1).cast("double") *
            (col("st") + buckets).cast("double")) /
          ((col("sc") + 1).cast("double") *
            (col("tt") + buckets).cast("double"))) * 1e6)
          .cast("long").as("w_micro"))
    toks.join(org.apache.spark.sql.functions.broadcast(weights), Seq("b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feat"),
        sum("w_micro").as("importance_micro"))
  }

  def weightedSample(df: org.apache.spark.sql.DataFrame, keyCol: String,
                     weightCol: String, stratumCol: String,
                     k: Int): org.apache.spark.sql.DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val space = 1.152921504606846976e18 // 2^60
    val keyQ =
      floor(-log((Dedup.md5Hash64(col(keyCol).cast("string")) + 1)
          .cast("double") / lit(space))
        / col(weightCol).cast("double") * lit(1e12)).cast("long")
    val eligible = df.filter(col(weightCol) > 0)
    val selected = eligible
      .groupBy(col(stratumCol))
      .agg(Sketches.minK(keyQ, k).as("ks"))
      .select(col(stratumCol), explode(col("ks")).as("_es_key"))
    eligible.withColumn("_es_key", keyQ)
      .join(org.apache.spark.sql.functions.broadcast(selected),
        Seq(stratumCol, "_es_key"), "left_semi")
      .drop("_es_key")
  }

  /** Fuzzy self-join (edit-distance ≤ `maxDist` pairs) via the Ed-Join
    * PREFIX filter + levenshtein verify (Xiao, Wang & Lin, PVLDB 1(1)
    * 2008 §3.1): d edits destroy at most d·q of a string's q-grams, so
    * under any global total order on grams two strings within edit
    * distance d must share a gram among each side's first d·q + 1
    * ordered grams. Candidates = pairs sharing a PREFIX gram (ordered
    * by ascending global frequency, so prefixes hold each string's
    * rarest grams) with length difference ≤ maxDist; only candidates
    * reach the O(len²) levenshtein, never the full n² cross join.
    *
    * COMPLETENESS contract: the prefix filter never drops a true pair
    * when every string is at least q·(maxDist+1) characters long (then
    * each side has ≥ d·q + 1 grams, so the pigeonhole prefix argument
    * applies; taking d·q + 1 DISTINCT grams covers a multiset prefix of
    * ≥ d·q + 1 grams — a superset of the required prefix). Shorter
    * strings keep a whole-string gram (exact-match blocking only) —
    * callers with very short keys should drop to q=1. The verify keeps
    * the output exact either way, so the oracle stays the plain n²
    * formulation.
    *
    * Scale posture: grams explode map-side; one frequency-census agg
    * ranks grams by rarity; the equi-join runs on PREFIX grams only, so
    * corpus-wide frequent grams (the buckets that made the full-gram
    * blocker quadratic — 86× wall-clock for 10× names at the r15 sf10
    * probe) never form join buckets. Strings ride the gram rows (short
    * by contract); verify is codegen'd levenshtein. */
  def fuzzyPairs(df: org.apache.spark.sql.DataFrame, idCol: String,
                 strCol: String, maxDist: Int,
                 q: Int = 2): org.apache.spark.sql.DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    require(q >= 1, s"q must be >= 1, got $q")
    val grams = qGramTable(df, idCol, strCol, q)
    // Ed-Join prefix filter (Xiao, Wang & Lin, PVLDB 1(1) 2008 §3.1):
    // d edits destroy at most d·q of a string's q-grams, so under ANY
    // global total order on grams, two strings within edit distance d
    // must share a gram among each side's first (d·q + 1) grams of its
    // ordered gram sequence. We order by ascending global frequency
    // (ties by gram value) so the prefixes hold each string's RAREST
    // grams — the join never touches the big buckets of a small gram
    // alphabet. Without this the blocker is quadratic in every shared
    // frequent gram: the pre-r15 full-gram join measured 86× wall-clock
    // for 10× names at the 100× scale probe (sf1→sf10), where the
    // replica-prefix digit grams formed corpus-wide buckets. Taking
    // d·q+1 DISTINCT grams covers a multiset prefix of length
    // ≥ d·q+1 — a superset of the required prefix, so candidate
    // completeness is preserved; the levenshtein verify keeps the
    // output exact (the oracle stays the plain n² formulation).
    val prefixLen = maxDist * q + 1
    val gramFreq = grams.groupBy(col("g")).agg(count(lit(1)).as("gdf"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("gdf"), col("g"))
    val sig = grams.join(gramFreq, Seq("g"))
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= prefixLen)
      .select(col("id"), col("s"), col("g"))
    sig.as("a")
      .join(sig.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
          abs(length(col("a.s")) - length(col("b.s"))) <= maxDist)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.s").as("s_a"), col("b.s").as("s_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"),
        col("dist"))
  }

  /** Positional q-gram multiset of each string: (id, s, gram, count).
    * Shared by the symmetric join above and the incremental probe
    * below. */
  private def qGramTable(df: org.apache.spark.sql.DataFrame,
                         idCol: String, strCol: String,
                         q: Int): org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("id"), col(strCol).as("s"))
      // greatest(…, 1): a string shorter than q keeps one whole-string
      // gram (sequence(1, 0) would count backwards, not come up empty)
      .withColumn("g", explode(transform(
        sequence(lit(1), greatest(length(col("s")) - q + 1, lit(1))),
        i => col("s").substr(i, lit(q)))))
      .groupBy(col("id"), col("s"), col("g"))
      .agg(count(lit(1)).as("cnt"))

  /** Incremental face of [[fuzzyPairs]]: every qualifying pair that
    * TOUCHES the batch — batch×batch (each once, id-ordered) and
    * batch×standing (each once; output ids canonicalized ascending) —
    * under the same Gravano multiset bound + levenshtein verify.
    * Standing×standing pairs are already known to the caller's
    * standing cluster table and are NEVER re-generated: the gram join
    * probes batch grams against the union gram table, so per batch the
    * work is O(batch-gram matches), not O(names²). Contract: batch ids
    * are NEW (disjoint from standing ids — the append-only id
    * discipline of the incremental family). */
  def fuzzyPairsAgainst(standing: org.apache.spark.sql.DataFrame,
                        batch: org.apache.spark.sql.DataFrame,
                        idCol: String, strCol: String, maxDist: Int,
                        q: Int = 2): org.apache.spark.sql.DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    require(q >= 1, s"q must be >= 1, got $q")
    val gb = qGramTable(batch, idCol, strCol, q)
      .withColumn("isb", lit(true))
    val gAll = qGramTable(standing, idCol, strCol, q)
      .withColumn("isb", lit(false))
      .unionByName(gb)
    val candidates = gb.as("a")
      .join(gAll.as("b"),
        col("a.g") === col("b.g") &&
          (!col("b.isb") || col("a.id") < col("b.id")) &&
          abs(length(col("a.s")) - length(col("b.s"))) <= maxDist)
      .select(
        least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        when(col("a.id") < col("b.id"), col("a.s")).otherwise(col("b.s"))
          .as("s_a"),
        when(col("a.id") < col("b.id"), col("b.s")).otherwise(col("a.s"))
          .as("s_b"),
        least(col("a.cnt"), col("b.cnt")).as("m"))
      .groupBy(col("id_a"), col("id_b"), col("s_a"), col("s_b"))
      .agg(sum(col("m")).as("shared"))
      .filter(col("shared") >=
        greatest(length(col("s_a")), length(col("s_b"))) - (q - 1)
          - maxDist * q)
    candidates
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"),
        col("dist"))
  }

  /** Distinct gazetteer patterns occurring in `text`, ascending — ONE
    * compiled Aho-Corasick pass (graft.plans.MultiPatternMatches)
    * instead of |patterns| substring scans; the keyword/topic-tagging
    * primitive. Case-sensitive: lowercase text and patterns together
    * for case-folding. */
  def gazetteerTags(text: Column, patterns: Seq[String]): Column =
    org.apache.spark.sql.graftops.ColumnBridge.column(
      graft.plans.MultiPatternMatches(
        org.apache.spark.sql.graftops.ColumnBridge.expression(text),
        patterns))

  /** C4 line-level cleaning (Raffel et al. 2020 §2.2) — the LINE-grain
    * companion to the doc-grain Gopher gate: a line survives iff it ends
    * in terminal punctuation (. ! ? "), carries ≥ `minLineWords`
    * whitespace words, and does not mention "javascript"; the page
    * survives iff it contains neither "lorem ipsum" nor a curly brace
    * and retains ≥ `minLines` lines. Survivors reassemble in order.
    *
    * One row in, one row out: lines are a per-row array (split on \n),
    * every rule is a HOF fold over it — no explode, no shuffle, the
    * fused-census discipline. Returns (idCol, n_lines, n_kept, keep,
    * clean_text — empty when dropped). */
  def c4Clean(docs: DataFrame, minLineWords: Int = 5, minLines: Int = 3,
              idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    val lines = when(length(col(textCol)) === 0,
        array().cast("array<string>"))
      .otherwise(split(col(textCol), "\n"))
    val keptLines = filter(lines, l =>
      substring(l, -1, 1).isin(".", "!", "?", "\"") &&
        size(filter(split(trim(l), "\\s+"), w => length(w) > 0))
          >= minLineWords &&
        instr(lower(l), "javascript") === 0)
    val pageBad = instr(lower(col(textCol)), "lorem ipsum") > 0 ||
      instr(col(textCol), "{") > 0
    docs.select(col(idCol),
        size(lines).cast("long").as("n_lines"),
        keptLines.as("_kept"), pageBad.as("_bad"))
      .select(col(idCol), col("n_lines"),
        size(col("_kept")).cast("long").as("n_kept"),
        (!col("_bad") && size(col("_kept")) >= minLines).as("keep"),
        when(!col("_bad") && size(col("_kept")) >= minLines,
          array_join(col("_kept"), "\n")).otherwise(lit(""))
          .as("clean_text"))
  }
}
