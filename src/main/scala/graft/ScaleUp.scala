package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic 10× (or N×) scale-up of a driver testdata directory —
  * the sf1 evidence generator. Entirely distributed (crossJoin with a
  * replica range, no driver-side rows), entirely derived from the
  * driver's own sf0.1 parquet (TESTDATA.md), written OUTSIDE the
  * read-only testdata tree (target/sf1 by default).
  *
  * Replication contract (what "the same workload, 10× the data" means
  * here — chosen so per-query work scales ~linearly instead of
  * quadratically through the pair-join tier):
  *  - fixed-cardinality dims (region, nation) copy 1× — TPC-H scaling;
  *  - every other table replicates N× with all PK/FK columns offset by
  *    rep·STRIDE consistently, so referential integrity holds within
  *    each replica and keys never collide across replicas;
  *  - documents: replica 0 keeps the original text; replica r > 0
  *    prefixes every word with `r<r>_`, which renames every shingle —
  *    within-replica near-dup structure is EXACTLY the sf0.1 corpus's,
  *    and no cross-replica pair matches (otherwise every doc would sit
  *    in an N-member exact-dup cluster and LSH candidate volume would
  *    grow ~N², misreporting the engine's N× scaling);
  *  - embeddings: replica r cyclically shifts the vector by r
  *    dimensions — norms and pairwise-distance distribution are
  *    preserved, replicas are decorrelated (no ×N² duplicate pairs in
  *    SemDeDup/ANN), determinism is exact;
  *  - events: user_id/event_id offset per replica (sessions never merge
  *    across replicas), timestamps kept (the event stream densifies
  *    10× per hour — the realistic shape of more traffic).
  *
  * The driver heap comes from `SPARK_DRIVER_MEM` (build.sbt's `-Xmx`).
  */
object ScaleUp {

  /** Key offset between replicas — far above any sf0.1 key (max
    * observed keys are < 10^6) and small enough that rep·STRIDE stays
    * well inside Long for any sane N. */
  val Stride = 100000000L

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "target/sf1"
    val n = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.tool(cpus).appName("graft-scaleup")
      .config("spark.sql.shuffle.partitions", "32").getOrCreate()
    try write(spark, src, out, n)
    finally spark.stop()
  }

  def write(spark: SparkSession, src: String, out: String, n: Int): Unit = {
    def load(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def save(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
    val reps = spark.range(0, n).select(col("id").as("rep"))
    def replicate(df: DataFrame, keyCols: Seq[String]): DataFrame = {
      val crossed = df.crossJoin(broadcast(reps))
      keyCols.foldLeft(crossed) { (d, k) =>
        d.withColumn(k, col(k) + col("rep") * Stride)
      }
    }

    // sanity: no source key may reach the stride, or replicas collide
    val maxKey = Seq(
      load("customer").agg(max("c_custkey")),
      load("supplier").agg(max("s_suppkey")),
      load("part").agg(max("p_partkey")),
      load("orders").agg(max("o_orderkey")),
      load("events").agg(max("event_id")),
      load("documents").agg(max("doc_id")),
      load("embeddings").agg(max("vec_id")))
      .map(_.collect()(0).getLong(0)).max
    require(maxKey < Stride, s"source keys reach $maxKey >= $Stride")

    // Partition counts: every replicated table lands in ≥32 files so a
    // 32-core bench run is never parallelism-starved at the split floor
    // (the r13 sf1 run wrote documents/embeddings as 8/4 files and the
    // CPU-dense decode/score queries ran on a quarter of the box,
    // misreporting 10× data as up to 30× time). On a real cluster
    // maxPartitionBytes does this splitting; at 183 MB total the file
    // count has to.
    save(load("region"), "region", 1)
    save(load("nation"), "nation", 1)
    save(replicate(load("customer"), Seq("c_custkey"))
      .drop("rep"), "customer", 8)
    save(replicate(load("supplier"), Seq("s_suppkey"))
      .drop("rep"), "supplier", 4)
    // part: per-replica Caesar shift + word-prefix rename for rep > 0 —
    // verbatim replicated names form identical-name classes that grow
    // with the replication factor, making every name-similarity pair
    // output (q185 AllPairs, q104 q-gram fuzzy join) quadratic in n
    // (the sf10 probe measured q185 at 250× wall-clock for 100× data
    // on exact-dup name pairs alone); a prefix rename alone is not
    // enough for the q-GRAM blocker, whose candidates are driven by
    // substrings INSIDE words (same sf10 probe: q104's verify stage
    // single-task levenshtein-crawled cross-replica near-twins). The
    // letter shift makes cross-replica grams disjoint while exactly
    // preserving within-replica structure; the prefix keeps token sets
    // distinct for the 4-ish replicas that share a shift at n = 100.
    // Real catalogs don't gain 100 twins of every product at 100×.
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val shifted = (1 to 25).map(k => alpha.drop(k) + alpha.take(k))
    val shiftExpr = (1 to 25).foldLeft(col("p_name")) { (acc, k) =>
      when(pmod(col("rep"), lit(26)) === k,
        translate(col("p_name"), alpha, shifted(k - 1))).otherwise(acc)
    }
    save(replicate(load("part"), Seq("p_partkey"))
      .withColumn("p_name",
        when(col("rep") === 0, col("p_name"))
          .otherwise(regexp_replace(shiftExpr, lit("(^|\\s)"),
            concat(lit("$1r"), col("rep").cast("string"), lit("_")))))
      .drop("rep"), "part", 8)
    save(replicate(load("orders"), Seq("o_orderkey", "o_custkey"))
      .drop("rep"), "orders", 32)
    save(replicate(load("lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey"))
      .drop("rep"), "lineitem", 32)
    save(replicate(load("events"), Seq("event_id", "user_id"))
      .drop("rep"), "events", 32)

    // documents: word-prefix renames every shingle for rep > 0
    // ($1 keeps the separator; the prefix lands on every word)
    save(replicate(load("documents"), Seq("doc_id"))
      .withColumn("text",
        when(col("rep") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(^|\\s)"),
            concat(lit("$1r"), col("rep").cast("string"), lit("_")))))
      // length() is IntegerType; the driver's documents.n_chars is
      // int64 — keep the sf1 schema IDENTICAL to the driver's or
      // long-typed consumers (KllAgg at r13) hit boxed-Integer casts
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("rep"), "documents", 32)

    // embeddings: cyclic dimension shift by rep — norm-preserving,
    // deterministic, decorrelated across replicas
    val dim = load("embeddings").select(size(col("embedding")))
      .limit(1).collect()(0).getInt(0)
    save(replicate(load("embeddings"), Seq("vec_id"))
      .withColumn("embedding",
        expr(s"transform(sequence(0, $dim - 1), " +
          s"i -> embedding[CAST((i + rep) % $dim AS INT)])"))
      .drop("rep"), "embeddings", 32)

    println(s"[scaleup] wrote ${n}x of $src to $out")
  }
}
