package graft

import org.scalatest.funsuite.AnyFunSuite

/** The native expression surface exposed to SQL users via
  * GraftSession.registerFunctions / GraftExtensions. */
class SqlFunctionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

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

  test("native cosine is bit-equal to the HOF fold on equal-length, " +
    "null-free rows") {
    import org.apache.spark.sql.functions._
    import graft.functions.Similarity
    // parquet-backed, so both forms run over scanned rows rather than
    // being constant-folded on the driver
    val path = java.nio.file.Files
      .createTempDirectory("graft-hofcos").toString + "/vecs"
    spark.sql(
      """SELECT * FROM VALUES
        |  (1L, array(1.0d, 2.0d, 3.0d), array(1.0d, 2.0d, 3.0d)),
        |  (2L, array(1.0d, 0.0d, 0.0d), array(0.0d, 1.0d, 0.0d)),
        |  (3L, array(0.5d, -2.0d, 4.0d), array(3.0d, 0.25d, -1.0d)),
        |  (4L, array(0.1d, 0.7d, 1e-3d, 9.5d), array(2.2d, -0.3d, 5.0d, 0.01d))
        |AS t(id, a, b)""".stripMargin).write.parquet(path)
    val rows = spark.read.parquet(path).select(col("id"),
      Similarity.cosine(col("a"), col("b")).as("native"),
      Similarity.cosineHof(col("a"), col("b")).as("hof")).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"row ${r.getLong(0)}: ${r.getDouble(1)} vs ${r.getDouble(2)}")
    }
    assert(rows.find(_.getLong(0) == 1L).get.getDouble(1) == 1.0)
  }

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
