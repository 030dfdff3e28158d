package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One node of a standing HNSW index: `nbrs(l)` is the adjacency list
  * (neighbor vec_ids) at layer `l`, for `l = 0 .. level`. The embedding
  * rides in the index row — at search time the graph needs every member's
  * vector anyway, so carrying it avoids a corpus join per probe (this is
  * how production HNSW stores shard state). */
final case class HnswNode(shard: Int, vec_id: Long, level: Int,
                          embedding: Array[Float],
                          nbrs: Array[Array[Long]])

/** HNSW-class graph ANN (Malkov & Yashunin, "Efficient and robust
  * approximate nearest neighbor search using Hierarchical Navigable Small
  * World graphs", TPAMI 2018 — implemented from the paper's Algorithms
  * 1-5), sharded for Spark.
  *
  * Everything is DETERMINISTIC — no RNG state anywhere:
  *  - the paper's geometric level draw (`floor(-ln(U)·mL)`) is replaced by
  *    a portable hash draw: the node's level is the count of leading
  *    base-4 hex digits of `md5("hnsw:" || vec_id)`, i.e. geometric with
  *    p = 1/4 (the paper's mL = 1/ln(4)) — reproducible in any engine
  *    with md5 (the q136 oracle recomputes it in DuckDB);
  *  - insertion order is vec_id ascending within a shard;
  *  - every priority-queue and pruning comparison totally orders
  *    candidates by (similarity, vec_id), so ties never depend on hash-map
  *    iteration order.
  *
  * Scale posture (the Elasticsearch/Vespa architecture): the corpus is
  * hash-sharded on vec_id; each shard's graph is built INSIDE one task
  * (`mapPartitions` — genuine per-partition pointer-chasing, the
  * documented last-resort case), queries broadcast to every shard, and
  * per-shard top-ef results merge with ONE window. At 100 TB the index is
  * a standing table (Tables.memoTable) built once and probed per batch;
  * daily ingestion resumes construction per touched shard in O(batch·log)
  * — untouched shards are carried over without a shuffle.
  *
  * Exactness contract (what the q137/q138 oracles pin): with
  * `efSearch >= shard size`, `searchLayer` never overflows its result set,
  * so its termination test never fires and the search visits the entire
  * connected component of layer 0 — the per-shard result IS the exact
  * in-shard ranking (HnswSpec additionally pins layer-0 connectivity on
  * the testdata), and the window merge reproduces brute force. The
  * approximate regime (small efSearch) is gated by a recall@10 pin in
  * HnswSpec instead, mirroring the q122 IVF recall harness.
  */
object Hnsw {

  /** Hard cap on the level draw: P(level >= 16) = 4^-16 ≈ 2e-10 — the cap
    * exists so adversarial ids can't allocate 32-layer adjacency arrays. */
  val MaxLevel = 16

  /** Portable level draw: leading base-4 hex digits of md5("hnsw:"||id).
    * DuckDB twin: LEAST(length(regexp_extract(md5('hnsw:' ||
    * CAST(vec_id AS VARCHAR)), '^[0-3]*')), 16). */
  def levelCol(id: Column): Column =
    least(length(regexp_extract(
        md5(concat(lit("hnsw:"), id.cast("string"))), "^[0-3]*", 0)),
      lit(MaxLevel)).cast("int")

  /** Shard assignment on the portable md5-60 family (stable across
    * engines and rebuilds; independent of the level draw's bits). */
  def shardCol(id: Column, nShards: Int): Column =
    pmod(Dedup.md5Hash64(concat(lit("hnswshard:"), id.cast("string"))),
      lit(nShards.toLong)).cast("int")

  // ---------------------------------------------------------------------
  // Per-shard graph (driver-free, lives inside one task)
  // ---------------------------------------------------------------------

  /** Cosine in the exact fold order of plans/CosineSimilarity (one fused
    * loop, floats widened per element) so in-graph similarities agree
    * bit-for-bit with the relational brute-force path. */
  private def cos(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Spark's round(col, 6) semantics (HALF_UP on BigDecimal.valueOf),
    * so emitted sims hash-match the q28-style oracle chain. */
  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** (similarity, vec_id) candidate; `better` = higher sim, then lower id
    * — the same total order as every oracle ranking (sim DESC, vec_id). */
  private final case class Cand(sim: Double, id: Long, idx: Int)
  private def better(a: Cand, b: Cand): Boolean =
    a.sim > b.sim || (a.sim == b.sim && a.id < b.id)
  // max-heap dequeues the BEST candidate
  private val bestFirst: Ordering[Cand] =
    Ordering.by((c: Cand) => (c.sim, -c.id))
  // max-heap dequeues the WORST result (for eviction)
  private val worstFirst: Ordering[Cand] =
    Ordering.by((c: Cand) => (-c.sim, c.id))

  /** Mutable single-shard HNSW. Construction state is exactly (adjacency,
    * entry point), so construction can RESUME: loading a stored graph and
    * inserting ids greater than every stored id replays the identical
    * operation sequence a from-scratch build on the union would run —
    * incremental ≡ rebuilt, bit for bit (q138's contract). */
  private final class ShardGraph(m: Int, efC: Int) {
    val ids = mutable.ArrayBuffer[Long]()
    val vecs = mutable.ArrayBuffer[Array[Float]]()
    val levels = mutable.ArrayBuffer[Int]()
    // adj(idx)(layer) = neighbor idxs
    val adj = mutable.ArrayBuffer[Array[mutable.ArrayBuffer[Int]]]()
    var entry: Int = -1
    var maxLevel: Int = -1
    private val mmax0 = 2 * m

    /** Paper Algorithm 2, ef-bounded best-first search on one layer.
      * Returns candidates sorted best-first. */
    def searchLayer(qv: Array[Float], eps: Seq[Int], ef: Int,
                    layer: Int): Array[Cand] = {
      val visited = new java.util.HashSet[Integer](math.max(16, ef * 2))
      val cand = mutable.PriorityQueue.empty[Cand](bestFirst)
      val res = mutable.PriorityQueue.empty[Cand](worstFirst)
      eps.foreach { ep =>
        if (visited.add(ep)) {
          val c = Cand(cos(qv, vecs(ep)), ids(ep), ep)
          cand.enqueue(c); res.enqueue(c)
        }
      }
      var done = false
      while (!done && cand.nonEmpty) {
        val c = cand.dequeue()
        if (res.size >= ef && better(res.head, c)) done = true
        else {
          val nbs = adj(c.idx)(layer)
          var i = 0
          while (i < nbs.length) {
            val nb = nbs(i)
            if (visited.add(nb)) {
              val nc = Cand(cos(qv, vecs(nb)), ids(nb), nb)
              if (res.size < ef || better(nc, res.head)) {
                cand.enqueue(nc); res.enqueue(nc)
                if (res.size > ef) res.dequeue()
              }
            }
            i += 1
          }
        }
      }
      res.dequeueAll.reverse.toArray // best-first
    }

    /** Load an already-built node verbatim (resume path). Caller feeds
      * nodes in vec_id order before any insert(). */
    def load(id: Long, vec: Array[Float], level: Int,
             nbrs: Array[Array[Long]]): Unit = {
      ids += id; vecs += vec; levels += level
      adj += Array.fill(level + 1)(mutable.ArrayBuffer.empty[Int])
      // neighbor ids resolve to idxs once all nodes are loaded
      pendingNbrs += nbrs
    }
    private val pendingNbrs = mutable.ArrayBuffer[Array[Array[Long]]]()
    def finishLoad(): Unit = {
      if (pendingNbrs.nonEmpty) {
        val idToIdx = mutable.LongMap.empty[Int]
        var i = 0
        while (i < ids.length) { idToIdx(ids(i)) = i; i += 1 }
        i = 0
        while (i < pendingNbrs.length) {
          var l = 0
          while (l < pendingNbrs(i).length) {
            adj(i)(l) ++= pendingNbrs(i)(l).map(idToIdx)
            l += 1
          }
          i += 1
        }
        pendingNbrs.clear()
        // the entry point a sequential build would have kept: levels only
        // REPLACE the entry on a strict increase, so it is the earliest
        // inserted (= lowest vec_id, insertion being id-ordered) node at
        // the running maximum
        maxLevel = levels.max
        entry = levels.indexOf(maxLevel)
      }
    }

    /** Paper Algorithm 1. */
    def insert(id: Long, vec: Array[Float], level: Int): Unit = {
      val idx = ids.length
      ids += id; vecs += vec; levels += level
      adj += Array.fill(level + 1)(mutable.ArrayBuffer.empty[Int])
      if (entry < 0) { entry = idx; maxLevel = level; return }
      var eps = Seq(entry)
      var l = maxLevel
      while (l > level) { // greedy descend through upper layers
        eps = Seq(searchLayer(vec, eps, 1, l).head.idx)
        l -= 1
      }
      l = math.min(level, maxLevel)
      while (l >= 0) {
        val w = searchLayer(vec, eps, efC, l)
        // simple neighbor selection: top-M by (sim, id) — deterministic
        val neighbors = w.take(m)
        val cap = if (l == 0) mmax0 else m
        neighbors.foreach { nb =>
          adj(idx)(l) += nb.idx
          adj(nb.idx)(l) += idx
          if (adj(nb.idx)(l).length > cap) {
            val kept = adj(nb.idx)(l)
              .map(x => Cand(cos(vecs(nb.idx), vecs(x)), ids(x), x))
              .sorted(bestFirst.reverse).take(cap).map(_.idx)
            adj(nb.idx)(l) = mutable.ArrayBuffer(kept.toSeq: _*)
          }
        }
        eps = w.map(_.idx).toSeq
        l -= 1
      }
      if (level > maxLevel) { entry = idx; maxLevel = level }
    }

    /** Descend to layer 0 and beam-search it; returns best-first
      * candidates (the caller filters self-matches and truncates). */
    def search(qv: Array[Float], ef: Int): Array[Cand] = {
      if (entry < 0) return Array.empty
      var eps = Seq(entry)
      var l = maxLevel
      while (l > 0) {
        eps = Seq(searchLayer(qv, eps, 1, l).head.idx)
        l -= 1
      }
      searchLayer(qv, eps, ef, 0)
    }

    def toNodes(shard: Int): Iterator[HnswNode] =
      ids.indices.iterator.map { i =>
        HnswNode(shard, ids(i), levels(i), vecs(i),
          adj(i).map(_.map(ids(_)).toArray))
      }
  }

  // ---------------------------------------------------------------------
  // Spark surface
  // ---------------------------------------------------------------------

  /** `(shard, vec_id, level, embedding, nbrs|null)` rows, shard-contiguous
    * and vec_id-sorted, folded into per-shard graphs. Rows with non-null
    * `nbrs` are preloaded (resume); null-nbrs rows are freshly inserted. */
  private def buildShards(rows: DataFrame, nShards: Int, m: Int,
                          efC: Int): Dataset[HnswNode] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .repartition(nShards, col("shard"))
      .sortWithinPartitions("shard", "vec_id")
      .select(col("shard"), col("vec_id"), col("level"), col("embedding"),
        col("nbrs"))
      .as[(Int, Long, Int, Array[Float], Array[Array[Long]])]
      .mapPartitions { it =>
        val rows = it.buffered
        new Iterator[Iterator[HnswNode]] {
          def hasNext: Boolean = rows.hasNext
          def next(): Iterator[HnswNode] = {
            val shard = rows.head._1
            val g = new ShardGraph(m, efC)
            var lastOld = Long.MinValue
            var loading = true
            while (rows.hasNext && rows.head._1 == shard) {
              val (_, id, level, vec, nbrs) = rows.next()
              if (nbrs != null) {
                require(loading, s"shard $shard: stored node $id sorts " +
                  "after a new node — incremental insert requires batch " +
                  "vec_ids greater than every indexed vec_id in the shard")
                g.load(id, vec, level, nbrs); lastOld = id
              } else {
                if (loading) { g.finishLoad(); loading = false }
                require(id > lastOld, s"shard $shard: batch id $id not " +
                  "greater than indexed id " + lastOld)
                g.insert(id, vec, level)
              }
            }
            if (loading) g.finishLoad()
            g.toNodes(shard)
          }
        }.flatten
      }
  }

  private def keyed(corpus: DataFrame, nShards: Int): DataFrame =
    corpus.select(shardCol(col("vec_id"), nShards).as("shard"),
      col("vec_id"), levelCol(col("vec_id")).as("level"),
      col("embedding"),
      lit(null).cast("array<array<bigint>>").as("nbrs"))

  /** Corpus-scaled shard count for standing indexes: ceil(n / 16384),
    * floor 1. A FIXED shard count caps build parallelism — the r16
    * full-suite sf10 sweep billed q137 181.6 s cold, almost all of it
    * the 1-shard 200k-vector sequential construction (one core builds
    * the whole graph while 31 idle, and per-insert cost grows with the
    * graph). Scaling shards keeps per-shard graphs bounded (~16k nodes)
    * so build wall-clock stays ~flat per core as the corpus grows — the
    * production posture for a 100 TB standing index. At sf1 (20k
    * vectors) this is 2 shards of ~10k nodes, past any fixed efSearch
    * literal's exact regime — which is why the exact-regime queries
    * (q137/q138/q204) take their efSearch from [[certifiedExactEf]]
    * (max shard size + per-shard strong-connectivity certificate)
    * instead of a constant: the exactness contract then holds at EVERY
    * sf and shard count, and q137 can sit in sf1+ oracle subsets. One
    * column-pruned count at plan-build time (a bounded decision, the
    * scaledSeedCutoff discipline). */
  def scaledShards(corpus: DataFrame, target: Long = 16384L): Int =
    math.max(1L, (corpus.count() + target - 1) / target).toInt

  /** Certified exact-regime `efSearch` for a standing index — the
    * multi-shard re-derivation of the q137/q138/q204 exactness contract
    * (r18 verdict task 6), which previously held only where a 4096
    * literal happened to exceed the corpus size (sf ≤ 0.1, 1 shard).
    *
    * One pass over the index computes, per shard, the node count and
    * BOTH BFS reach counts (forward and reverse, over the layer-0
    * DIRECTED adjacency — neighbor-list pruning keeps the new node's
    * out-edge while trimming the reverse edge, so connectivity must be
    * certified on the digraph, not its undirected shadow) from the
    * shard's lowest-vec_id node. fwd == n and rev == n certify the
    * layer-0 digraph STRONGLY connected: every node reaches node 0 and
    * node 0 reaches every node, hence any node reaches any other.
    *
    * Exactness derivation: `searchLayer` with `ef >= |shard|` never
    * fills its result set, so its early-termination test never fires
    * and the beam is a full traversal of every layer-0 node reachable
    * from the (query-dependent) entry the upper-layer descent lands on;
    * strong connectivity makes that reachable set the WHOLE shard from
    * ANY landing point, so each node's true cosine enters the per-shard
    * ranking — the per-shard result IS brute force, and the window
    * merge of exact per-shard rankings is the exact global top-k.
    * Returns the max shard node count (the smallest ef with that
    * guarantee for every shard); throws naming the first offender if
    * any shard's certificate fails — an uncertified index must be
    * probed in the recall-gated approximate regime instead of
    * masquerading as exact.
    *
    * Cost: O(n·M) local edge-walking + a one-row-per-shard collect
    * (bounded: ceil(n/16384) rows — the scaledSeedCutoff
    * bounded-decision discipline). */
  def certifiedExactEf(index: Dataset[HnswNode]): Int = {
    val stats = shardReachStats(index)
    require(stats.nonEmpty, "certifiedExactEf on an empty index")
    stats.foreach { case (shard, n, fwd, rev) =>
      require(fwd == n && rev == n,
        s"HNSW shard $shard layer-0 digraph is not strongly connected " +
          s"($fwd/$n forward, $rev/$n reverse reachable from its first " +
          "node) — the exact-regime certificate does not hold; probe " +
          "this index in the recall-gated approximate regime")
    }
    stats.map(_._2).max
  }

  /** Certify-or-degrade ef selection — what the standing-index queries
    * (q137/q138/q204) actually call: [[certifiedExactEf]]'s bound when
    * every shard certifies strongly connected, else `fallbackEf` (the
    * recall-gated approximate regime, HnswSpec's ≥0.9 recall pin) with
    * a stderr note naming the offending shard. Measured reality behind
    * the split (r19): the certificate HOLDS at every oracle-checked sf
    * (1 shard ≤2048 nodes at sf ≤ 0.1; 2×~10.2k sf1 shards; q138's
    * 4×~5.1k) but FAILS at sf10 — neighbor-list pruning strands 1 of
    * 15,334 nodes in one 13-shard q137 shard and 6 of 49,816 in a
    * q138 shard. That is the correct production posture, made
    * mechanical: at 100 TB an HNSW probe is approximate and
    * recall-gated, and the exact regime is a per-index CERTIFICATE the
    * oracle-checked tiers actually pass, not an assumption a literal
    * happened to satisfy. */
  def certifiedEfOr(index: Dataset[HnswNode], fallbackEf: Int): Int =
    certifiedEfOr(index, fallbackEf, None)

  /** [[certifiedEfOr]] with the certificate MEMOIZED per (session,
    * memoKey) — r19 verdict task 2. The certificate is a pure function
    * of the index topology, and every query-path index is either a
    * standing memoTable (q137/q204 — immutable for the session by the
    * Tables.memoTable contract) or rebuilt deterministically from
    * immutable test tables (q138's folded index): re-running the
    * index-wide BFS + collect on EVERY query invocation re-derived the
    * same rows each time (the measured q138 1.61→2.10 s regression in
    * r19). Lifetime: [[graft.sources.SessionMemo]]. */
  def certifiedEfOr(index: Dataset[HnswNode], fallbackEf: Int,
                    memoKey: Option[String]): Int = {
    val stats = reachStatsMemo(index, memoKey)
    require(stats.nonEmpty, "certifiedEfOr on an empty index")
    stats.find { case (_, n, fwd, rev) => fwd != n || rev != n } match {
      case Some((shard, n, fwd, rev)) =>
        System.err.println(s"[hnsw] exact-regime certificate failed " +
          s"(shard $shard: $fwd/$n fwd, $rev/$n rev) — probing in the " +
          s"recall-gated approximate regime, ef=$fallbackEf")
        fallbackEf
      case None => stats.map(_._2).max
    }
  }

  /** Per-(session, key) certificate memo — see [[certifiedEfOr]]'s
    * memoKey overload. Values are the bounded per-shard stat rows
    * (ceil(n/16384) tuples), not query results. */
  private val certCache =
    new graft.sources.SessionMemo[String, Array[(Int, Int, Int, Int)]]

  private def reachStatsMemo(index: Dataset[HnswNode],
                             memoKey: Option[String])
      : Array[(Int, Int, Int, Int)] = memoKey match {
    case Some(k) => certCache(index.sparkSession, k)(shardReachStats(index))
    case None => shardReachStats(index)
  }

  /** One bounded-decision pass: per shard `(shard, n, fwdReach,
    * revReach)` over the layer-0 digraph (ceil(n/16384) rows). */
  private def shardReachStats(
      index: Dataset[HnswNode]): Array[(Int, Int, Int, Int)] = {
    val spark = index.sparkSession
    import spark.implicits._
    index.mapPartitions { it =>
      it.toArray.groupBy(_.shard).iterator.map { case (shard, nodes) =>
        val (n, fwd, rev) = layer0ReachCounts(nodes)
        (shard, n, fwd, rev)
      }
    }.collect()
  }

  /** (n, forward-reach, reverse-reach) over one shard's layer-0
    * directed adjacency, BFS'd from the lowest-vec_id node. */
  private[graft] def layer0ReachCounts(
      nodes: Array[HnswNode]): (Int, Int, Int) = {
    val sorted = nodes.sortBy(_.vec_id)
    val n = sorted.length
    val idToIdx = mutable.LongMap.empty[Int]
    var i = 0
    while (i < n) { idToIdx(sorted(i).vec_id) = i; i += 1 }
    val fwd = Array.tabulate(n)(j =>
      if (sorted(j).nbrs.nonEmpty) sorted(j).nbrs(0).map(idToIdx)
      else Array.empty[Int])
    val rev = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
    i = 0
    while (i < n) { fwd(i).foreach(rev(_) += i); i += 1 }
    def bfs(adj: Int => Iterable[Int]): Int = {
      val seen = new Array[Boolean](n)
      val queue = mutable.Queue(0)
      seen(0) = true; var reached = 0
      while (queue.nonEmpty) {
        val u = queue.dequeue(); reached += 1
        adj(u).foreach { v =>
          if (!seen(v)) { seen(v) = true; queue.enqueue(v) }
        }
      }
      reached
    }
    if (n == 0) (0, 0, 0)
    else (n, bfs(fwd(_).toSeq), bfs(rev(_)))
  }

  /** Build a standing index from scratch: ONE shuffle (the shard
    * repartition), then construction is embarrassingly parallel across
    * shards. Persist the result with Tables.memoTable for reuse. */
  def buildIndex(corpus: DataFrame, nShards: Int = 4, m: Int = 8,
                 efConstruction: Int = 64): Dataset[HnswNode] =
    buildShards(keyed(corpus, nShards), nShards, m, efConstruction)

  /** Incremental ingestion: resume construction per TOUCHED shard —
    * O(touched shards) shuffle + O(batch·log) inserts; untouched shards
    * pass through without entering an exchange. Batch vec_ids must exceed
    * every indexed vec_id (append-only ingestion — enforced per shard),
    * which makes the resumed insertion order identical to a from-scratch
    * build's, hence merged ≡ rebuilt EXACTLY (q138 pins this end-to-end,
    * HnswSpec row-for-row). */
  def insertIncremental(index: Dataset[HnswNode], batch: DataFrame,
                        nShards: Int = 4, m: Int = 8,
                        efConstruction: Int = 64): Dataset[HnswNode] = {
    val spark = index.sparkSession
    import spark.implicits._
    val batchKeyed = keyed(batch, nShards)
    val touched = batchKeyed.select("shard").distinct()
    val idx = index.toDF()
    val untouched = idx
      .join(broadcast(touched), Seq("shard"), "left_anti")
      .as[HnswNode]
    val touchedOld = idx.join(broadcast(touched), Seq("shard"), "left_semi")
      .select(col("shard"), col("vec_id"), col("level"), col("embedding"),
        col("nbrs"))
    untouched.union(
      buildShards(touchedOld.unionByName(batchKeyed), nShards, m,
        efConstruction))
  }

  /** Hard cap on the broadcast query side of [[searchIndex]]. 64k
    * 64-dim float queries ≈ 16 MB broadcast — comfortably inside a
    * driver/executor budget; a query set past this is no longer a
    * "probe" workload and belongs in a bucketed join
    * (Similarity.annTopK / lshNeighbors), not a broadcast beam search. */
  val MaxBroadcastQueries: Int = 65536

  /** Probe a standing index: queries (broadcast-sized by contract, the
    * Similarity.cosinePairs contract) are collected once and broadcast;
    * every shard task reconstructs its graph and beam-searches each query
    * — the corpus-sized side never enters an exchange. Per-shard top-ef
    * results merge with one window into the global top-k (ranked on the
    * ROUNDED sim, ties by vec_id — the q28 oracle's order).
    *
    * The broadcast contract is ENFORCED, not assumed: a size-gated
    * limit+count probe (the connectedComponents bounded-decision
    * pattern) fails fast when the query side exceeds
    * [[MaxBroadcastQueries]], instead of letting a corpus-sized collect
    * OOM the driver. */
  def searchIndex(index: Dataset[HnswNode], queries: DataFrame, k: Int,
                  efSearch: Int): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val qSide = queries.select(col("vec_id"), col("embedding"))
    val probed = qSide.limit(MaxBroadcastQueries + 1).count()
    if (probed > MaxBroadcastQueries)
      throw new IllegalStateException(
        s"searchIndex broadcast contract violated: query side exceeds " +
          s"$MaxBroadcastQueries rows — route bulk scoring through a " +
          "bucketed join (Similarity.annTopK / lshNeighbors) instead of " +
          "a broadcast beam search")
    val qs = qSide
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val qb = spark.sparkContext.broadcast(qs)
    val perShard = index
      .mapPartitions { it =>
        val byShard = it.toArray.groupBy(_.shard)
        byShard.iterator.flatMap { case (_, nodes) =>
          val g = new ShardGraph(1, 1) // m/efC unused on the read path
          nodes.sortBy(_.vec_id)
            .foreach(n => g.load(n.vec_id, n.embedding, n.level, n.nbrs))
          g.finishLoad()
          qb.value.iterator.flatMap { case (qid, qv) =>
            // ef+1: the query's own vector may occupy a result slot
            g.search(qv, efSearch + 1).iterator
              .filter(_.id != qid)
              .take(efSearch)
              .map(c => (qid, c.id, round6(c.sim)))
          }
        }
      }
      .toDF("query_id", "vec_id", "sim")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("sim"), asc("vec_id"))
    perShard.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Build + probe in one call (the q137 shape). */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
           nShards: Int = 4, m: Int = 8, efConstruction: Int = 64,
           efSearch: Int = 64): DataFrame =
    searchIndex(buildIndex(corpus, nShards, m, efConstruction), queries,
      k, efSearch)
}
