package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The native expression surface exposed to SQL users via
  * GraftSession.registerFunctions / GraftExtensions. */
class SqlFunctionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Runs `body` on a fresh session with the fusion rules attached. All
    * suites share TestSpark.spark in one JVM, so attaching them there would
    * leak them into every suite that runs later. */
  private def withFusion(body: SparkSession => Unit): Unit = {
    val before = spark.experimental.extraOptimizations
    val fused = spark.newSession()
    GraftSession.attachOptimizations(fused)
    body(fused)
    assert(spark.experimental.extraOptimizations == before,
      "fusion rules leaked into the shared TestSpark session")
  }

  test("cosine_similarity callable from SQL; codegen and eval agree") {
    GraftSession.registerFunctions(spark)
    val r = spark.sql(
      """SELECT cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS s1,
        |       cosine_similarity(array(1.0d, 0.0d), array(0.0d, 1.0d)) AS s2,
        |       cosine_similarity(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)),
        |                         array(3.0d, 4.0d)) AS s3
        |""".stripMargin).collect().head
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 0.0)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
  }

  test("null array input yields null") {
    GraftSession.registerFunctions(spark)
    val r = spark.sql(
      "SELECT cosine_similarity(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d))")
      .collect().head
    assert(r.isNullAt(0))
  }

  test("every native kernel is callable from SQL and agrees with the " +
    "DataFrame API") {
    import org.apache.spark.sql.functions._
    GraftSession.registerFunctions(spark)
    val text = "the quick brown fox jumps over the lazy dog"
    val r = spark.sql(
      s"""SELECT shingle_hashes('$text', 3) AS sh,
         |       shingle_minhash('$text', 3, 4) AS mh,
         |       simhash64('$text') AS s64,
         |       simhash60_md5('$text') AS s60,
         |       sorted_intersect_count(array(1L, 3L, 7L),
         |                              array(3L, 5L, 7L, 9L)) AS ic,
         |       size(content_chunks('$text')) AS nchunks,
         |       stopword_hits('$text', array('the', 'over')) AS hits
         |""".stripMargin).collect().head
    val viaDf = Seq(text).toDF("t").select(
      graft.functions.Dedup.shingleHashesFast(col("t"), 3).as("sh"),
      graft.functions.Dedup.minhashSignatureFast(col("t"), 3, 4).as("mh"),
      graft.functions.Dedup.simhash64Fast(col("t")).as("s64"),
      graft.functions.Dedup.simhash60Md5Fast(col("t")).as("s60"))
      .collect().head
    assert(r.getSeq[Long](0) == viaDf.getSeq[Long](0))
    assert(r.getSeq[Long](1) == viaDf.getSeq[Long](1))
    assert(r.getLong(2) == viaDf.getLong(2))
    assert(r.getLong(3) == viaDf.getLong(3))
    assert(r.getInt(4) == 2) // {3, 7}
    assert(r.getInt(5) >= 1)
    assert(r.getInt(6) == 3) // "the" twice + "over" once
  }

  test("freq_items callable from SQL; exact below capacity") {
    GraftSession.registerFunctions(spark)
    val r = spark.sql(
      """SELECT freq_items(v, 4) AS hh FROM VALUES
        |  ('a'), ('b'), ('a'), ('c'), ('a'), ('b') AS t(v)
        |""".stripMargin).collect().head
    val hh = r.getSeq[org.apache.spark.sql.Row](0)
      .map(e => (e.getString(0), e.getLong(1)))
    assert(hh == Seq(("a", 3L), ("b", 2L), ("c", 1L)))
  }

  test("optimizer fusion rewrites size(array_intersect) over shingle " +
    "hashes into the merge-scan kernel") { withFusion { fusedSpark =>
    import org.apache.spark.sql.functions._
    // parquet-backed source: a literal input would be constant-folded to
    // a LocalRelation before the fused expression could be observed
    val docs = fusedSpark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    val fused = docs.select($"doc_id", size(array_intersect(
      graft.functions.Dedup.shingleHashesFast($"text", 3),
      graft.functions.Dedup.shingleHashesFast(reverse($"text"), 3))).as("n"))
    assert(fused.queryExecution.optimizedPlan.toString
      .contains("sorted_intersect_count"))
    // values identical to the unfused formulation
    val unfusedSpark = TestSpark.spark.newSession()
    val docs2 = unfusedSpark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    import org.apache.spark.sql.{functions => F}
    val unfused = docs2.select(F.col("doc_id"),
      F.size(F.array_intersect(
        graft.functions.Dedup.shingleHashesFast(F.col("text"), 3),
        graft.functions.Dedup.shingleHashesFast(F.reverse(F.col("text")), 3)))
        .as("n"))
    assert(!unfused.queryExecution.optimizedPlan.toString
      .contains("sorted_intersect_count"))
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(m(fused) == m(unfused))
  }}

  test("optimizer fusion rewrites the HOF cosine formulation into the " +
    "fused kernel; values identical incl. unequal-length and null-element " +
    "NULL rows") { withFusion { fusedSpark =>
    import org.apache.spark.sql.functions._
    // parquet-backed (a literal frame would be folded to a LocalRelation
    // before the fusion could be observed); row 4's unequal lengths and
    // row 5's null element both hit the rewrite's NULL branch
    val path = java.nio.file.Files
      .createTempDirectory("graft-hofcos").toString + "/vecs"
    spark.sql(
      """SELECT * FROM VALUES
        |  (1L, array(1.0d, 2.0d, 3.0d), array(1.0d, 2.0d, 3.0d)),
        |  (2L, array(1.0d, 0.0d, 0.0d), array(0.0d, 1.0d, 0.0d)),
        |  (3L, array(0.5d, -2.0d, 4.0d), array(3.0d, 0.25d, -1.0d)),
        |  (4L, array(1.0d, 2.0d), array(1.0d, 2.0d, 3.0d)),
        |  (5L, array(1.0d, CAST(NULL AS DOUBLE), 2.0d),
        |       array(1.0d, 1.0d, 1.0d))
        |AS t(id, a, b)""".stripMargin).write.parquet(path)

    def hofCosine(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), graft.functions.Similarity
        .cosineHof(col("a"), col("b")).as("sim"))

    val fused = hofCosine(fusedSpark.read.parquet(path))
    assert(fused.queryExecution.optimizedPlan.toString
      .contains("cosine_similarity"))

    val plainSession = TestSpark.spark.newSession()
    val unfused = hofCosine(plainSession.read.parquet(path))
    assert(!unfused.queryExecution.optimizedPlan.toString
      .contains("cosine_similarity"))

    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .toMap
    val (f, u) = (m(fused), m(unfused))
    assert(f == u, s"$f vs $u")
    assert(f(4L).isEmpty)       // unequal lengths → NULL, both forms
    assert(f(5L).isEmpty)       // null element → NULL, both forms
    assert(f(1L).contains(1.0)) // bit-equal, not approximate
  }}

  test("HOF cosine fusion does NOT fire on non-double (float) arrays") {
    withFusion { fusedSpark =>
    import org.apache.spark.sql.functions._
    val emb = fusedSpark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").limit(10)
    // float arrays: the HOF form multiplies floats (different rounding
    // than the all-double kernel), so the rule must leave them alone
    val p = emb.select(graft.functions.Similarity
      .cosineHof(col("embedding"), col("embedding")).as("sim"))
      .queryExecution.optimizedPlan.toString
    assert(!p.contains("cosine_similarity"), p.take(1500))
  }}

  test("aggregate and census kernels callable from SQL") {
    import org.apache.spark.sql.functions._
    GraftSession.registerFunctions(spark)
    val cc = spark.sql(
      "SELECT char_class_counts('ab1 C!') AS c").collect().head.getSeq[Int](0)
    assert(cc == Seq(6, 3, 1, 1))
    Seq("a b c", "a b d", "x y z").toDF("t")
      .createOrReplaceTempView("sql_fn_docs")
    val agg = spark.sql(
      """SELECT minhash_agg(shingle_hashes(t, 2), 4) AS sig
        |FROM sql_fn_docs""".stripMargin).collect().head.getSeq[Long](0)
    val viaDf = Seq("a b c", "a b d", "x y z").toDF("t")
      .agg(graft.functions.Dedup.minhashAgg(
        graft.functions.Dedup.shingleHashesFast(col("t"), 2), 4).as("sig"))
      .collect().head.getSeq[Long](0)
    assert(agg == viaDf)
  }

  test("round-5 SQL surface: md5_prefix60, word_ngrams, min_k reachable " +
    "from spark.sql with the DataFrame-path values") {
    import org.apache.spark.sql.functions._
    GraftSession.registerFunctions(spark)
    val h = spark.sql("SELECT md5_prefix60('hello') AS h")
      .collect().head.getLong(0)
    val hDf = Seq("hello").toDF("s")
      .select(graft.functions.Dedup.md5Hash64(col("s")))
      .collect().head.getLong(0)
    assert(h == hDf && h >= 0)
    val ng = spark.sql("SELECT word_ngrams(' A b  c ', 2) AS g")
      .collect().head.getSeq[String](0)
    assert(ng == Seq("a b", "b c"))
    Seq(5L, 1L, 5L, 3L, 9L).toDF("v").createOrReplaceTempView("mk_vals")
    val mk = spark.sql("SELECT min_k(v, 3) AS m FROM mk_vals")
      .collect().head.getSeq[Long](0)
    assert(mk == Seq(1L, 3L, 5L))
  }

  test("multi_pattern_matches callable from SQL; pattern list must be " +
    "a literal array") {
    GraftSession.registerFunctions(spark)
    val got = spark.sql(
      """SELECT multi_pattern_matches('the hash join was slow',
        |  array('hash join', 'join', 'scan', 'slow')) AS tags
        |""".stripMargin).collect().head.getSeq[String](0)
    assert(got == Seq("hash join", "join", "slow"))
    intercept[Exception] {
      spark.sql("SELECT multi_pattern_matches('x', array(s)) FROM " +
        "(SELECT 'a' AS s)").collect()
    }
  }

  test("hilbert_index callable from SQL; agrees with the kernel at " +
    "both the default and an explicit curve order") {
    GraftSession.registerFunctions(spark)
    val r = spark.sql(
      "SELECT hilbert_index(3L, 5L) AS a, hilbert_index(1L, 2L, 4) AS b")
      .collect().head
    assert(r.getLong(0) == graft.plans.HilbertKernel.xy2d(16, 3L, 5L))
    assert(r.getLong(1) == graft.plans.HilbertKernel.xy2d(4, 1L, 2L))
  }
}
