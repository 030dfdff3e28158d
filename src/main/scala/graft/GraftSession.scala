package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.plans.{CharClassCounts, ContentChunkHashes, CosineSimilarity,
  MinHashAgg, ShingleHashes, ShingleMinHash, SimHash60Md5, SimHash64,
  SortedIntersectCount, StopwordProfileHits}

/** User-facing session plumbing: recommended configs for the engine and
  * registration of graft's native expressions for SQL callers.
  */
object GraftSession {

  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). Measured
    * working sets: one `Pipeline.runDay` uses 115 generated classes, one
    * streamed curate + co-occurrence wave about 50, and the 276
    * registered queries 4,161 at sf0.01 (3,401 in a sf0.1 Bench warm-up
    * pass). At the default 100 every `runDay` after the first recompiles
    * most of its classes with Janino, and a second pass over the
    * registered queries at sf0.01 recompiled 6,855. 8192 is twice the
    * fleet's working set: the cache is a bounded LRU split into
    * segments, and one full segment evicts while the others still have
    * room.
    *
    * This is a static conf, read once per JVM when Spark's code
    * generator is first used: it takes effect only if the first session
    * in the JVM is built through [[builder]].
    */
  val CodegenCacheEntries: Int = 8192

  /** The settings under which a plan's generated classes are reused from
    * the codegen cache, keyed by their source text: the cache size above,
    * and no whole-stage id in class names. Adaptive execution numbers a
    * query's codegen stages in the order it creates them, which depends
    * on which stages finish first; with the id in the class name, a
    * renumbered stage is new source and compiles again (seen as 4 extra
    * compiles in one `runDay`: two stages, each for the driver's and
    * the executors' class loader).
    */
  val CodegenReuse: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.sql.codegen.useIdInClassName" -> "false")

  /** Builder with the engine's recommended local-mode configuration:
    * shuffle partitions sized to cores (not 200), AQE on (runtime
    * coalescing/skew handling), UTC, dynamic partition overwrite for
    * idempotent re-runs (SURVEY.md §4), and generated classes reused
    * across plans and days ([[CodegenReuse]]).
    */
  def builder(master: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config(CodegenReuse)
      .withExtensions(new GraftExtensions)

  /** [[builder]] for graft's command-line mains: `local[cpus]`, UI off. */
  private[graft] def tool(cpus: Int): SparkSession.Builder =
    builder(s"local[$cpus]", cpus).config("spark.ui.enabled", "false")

  /** Literal-int argument of a SQL call (n-gram size, hash count, …). */
  private def litInt(e: Expression, what: String): Int = e match {
    case l if l.foldable =>
      l.eval() match {
        case i: Int => i
        case i: java.lang.Integer => i.intValue
        case l: Long => l.toInt
        case other => throw new IllegalArgumentException(
          s"$what must be an integer literal, got $other")
      }
    case _ => throw new IllegalArgumentException(
      s"$what must be a literal")
  }

  /** Literal string-array argument (stopword lists). */
  private def litStrings(e: Expression, what: String): Seq[String] = {
    require(e.foldable, s"$what must be a literal array of strings")
    e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        a.toObjectArray(org.apache.spark.sql.types.StringType)
          .map(_.toString).toSeq
      case other => throw new IllegalArgumentException(
        s"$what must be an array literal, got $other")
    }
  }

  /** The full native-expression surface for SQL callers — every graft
    * kernel, so a SQL-only user (the reference's native habitat is Trino
    * SQL) can reach the same operators as the DataFrame API. Each entry
    * carries its implementing class so DESCRIBE FUNCTION reports the real
    * kernel, not a stand-in. */
  val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_similarity", classOf[CosineSimilarity],
      (e: Seq[Expression]) => CosineSimilarity(e(0), e(1))),
    ("dot_product", classOf[graft.plans.DotProduct],
      (e: Seq[Expression]) => graft.plans.DotProduct(e(0), e(1))),
    ("shingle_hashes", classOf[ShingleHashes],
      (e: Seq[Expression]) => ShingleHashes(e(0), litInt(e(1), "n"))),
    ("shingle_minhash", classOf[ShingleMinHash],
      (e: Seq[Expression]) =>
        ShingleMinHash(e(0), litInt(e(1), "n"), litInt(e(2), "k"))),
    ("simhash64", classOf[SimHash64],
      (e: Seq[Expression]) => SimHash64(e(0))),
    ("simhash60_md5", classOf[SimHash60Md5],
      (e: Seq[Expression]) => SimHash60Md5(e(0))),
    ("sorted_intersect_count", classOf[SortedIntersectCount],
      (e: Seq[Expression]) => SortedIntersectCount(e(0), e(1))),
    ("sorted_struct_dot", classOf[graft.plans.SortedStructDot],
      (e: Seq[Expression]) => graft.plans.SortedStructDot(e(0), e(1))),
    ("double_sortable_bits", classOf[graft.plans.DoubleSortableBits],
      (e: Seq[Expression]) => graft.plans.DoubleSortableBits(e(0))),
    ("interleave_bits31", classOf[graft.plans.InterleaveBits31],
      (e: Seq[Expression]) => graft.plans.InterleaveBits31(e(0), e(1))),
    ("interleave_bits3x21", classOf[graft.plans.InterleaveBits3x21],
      (e: Seq[Expression]) =>
        graft.plans.InterleaveBits3x21(e(0), e(1), e(2))),
    ("content_chunks", classOf[ContentChunkHashes],
      (e: Seq[Expression]) =>
        if (e.length == 1) ContentChunkHashes(e(0), 16, 6)
        else ContentChunkHashes(e(0), litInt(e(1), "window"),
          litInt(e(2), "maskBits"))),
    ("stopword_hits", classOf[StopwordProfileHits],
      (e: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.GetArrayItem(
          StopwordProfileHits(e(0), Seq(litStrings(e(1), "stopwords"))),
          org.apache.spark.sql.catalyst.expressions.Literal(0))),
    ("char_class_counts", classOf[CharClassCounts],
      (e: Seq[Expression]) => CharClassCounts(e(0))),
    ("multi_pattern_matches", classOf[graft.plans.MultiPatternMatches],
      (e: Seq[Expression]) => graft.plans.MultiPatternMatches(e(0),
        litStrings(e(1), "patterns"))),
    ("hilbert_index", classOf[graft.plans.HilbertIndex],
      (e: Seq[Expression]) =>
        if (e.length == 2) graft.plans.HilbertIndex(e(0), e(1), 16)
        else graft.plans.HilbertIndex(e(0), e(1), litInt(e(2), "bits"))),
    ("repetition_stats", classOf[graft.plans.RepetitionStats],
      (e: Seq[Expression]) => graft.plans.RepetitionStats(e(0))),
    ("minhash_agg", classOf[MinHashAgg],
      (e: Seq[Expression]) =>
        MinHashAgg(e(0), litInt(e(1), "k")).toAggregateExpression()),
    ("md5_prefix60", classOf[graft.plans.Md5Prefix60],
      (e: Seq[Expression]) => graft.plans.Md5Prefix60(e(0))),
    ("word_ngrams", classOf[graft.plans.WordNgrams],
      (e: Seq[Expression]) =>
        graft.plans.WordNgrams(e(0), litInt(e(1), "n"))),
    ("min_k", classOf[graft.plans.MinKAgg],
      (e: Seq[Expression]) =>
        graft.plans.MinKAgg(e(0), litInt(e(1), "k"))
          .toAggregateExpression()),
    ("freq_items", classOf[graft.plans.FreqItemsAgg],
      (e: Seq[Expression]) =>
        graft.plans.FreqItemsAgg(e(0), litInt(e(1), "k"))
          .toAggregateExpression()),
    ("bloom_agg", classOf[graft.plans.BloomAgg],
      (e: Seq[Expression]) =>
        graft.plans.BloomAgg(e(0), litInt(e(1), "numBits"),
          litInt(e(2), "numHashes")).toAggregateExpression()),
    ("bloom_contains", classOf[graft.plans.BloomContains],
      (e: Seq[Expression]) =>
        graft.plans.BloomContains(e(0), e(1), litInt(e(2), "numHashes"),
          litInt(e(3), "numBits"))))

  private def info(name: String, cls: Class[_]): ExpressionInfo =
    new ExpressionInfo(cls.getName, name)

  /** Register graft's native SQL functions on an existing session (for
    * sessions built outside graft, without GraftExtensions). */
  def registerFunctions(spark: SparkSession): Unit =
    functions.foreach { case (name, cls, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), info(name, cls), builder)
    }

  /** Attach graft's expression-fusion optimizer rules to an existing
    * session (sessions built through GraftExtensions get them already). */
  def attachOptimizations(spark: SparkSession): Unit =
    Seq(graft.plans.SortedIntersectFusion, graft.plans.HofCosineFusion)
      .foreach { rule =>
        if (!spark.experimental.extraOptimizations.contains(rule))
          spark.experimental.extraOptimizations =
            spark.experimental.extraOptimizations :+ rule
      }
}

/** spark.sql.extensions entry point: injects graft's native functions at
  * session build time (`.withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.GraftExtensions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftSession.functions.foreach { case (name, cls, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
    // whole-operator plans (AsOf.asofJoinExec also attaches this lazily
    // via experimental strategies for sessions built without extensions)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // expression fusion (size∘array_intersect over sorted shingle hashes
    // → merge-scan kernel; HOF cosine → fused CosineSimilarity kernel)
    e.injectOptimizerRule(_ => graft.plans.SortedIntersectFusion)
    e.injectOptimizerRule(_ => graft.plans.HofCosineFusion)
  }
}
