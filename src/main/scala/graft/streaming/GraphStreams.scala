package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.functions.Graph

/** Streaming degree-table maintenance: the graph-side member of the
  * versioned standing-artifact family (index — IndexStreams, dimension —
  * DimensionStreams, heavy hitters — SketchStreams, now node degrees).
  * Each micro-batch of NEW distinct edges folds into the standing
  * (id, deg) table by count addition (Graph.mergeDegrees) — batch-sized
  * work per batch, edge history never re-read — and the live table feeds
  * Graph.triangles' orientation (where even a slightly-stale version
  * still yields the exact triangle set) and Graph.pagerank's
  * contribution split.
  *
  * Contract: the edge stream delivers each canonical (id_a, id_b) edge
  * once (the DocumentStreams dup-id discipline); a repeated edge
  * double-counts exactly as it would in a batch rebuild over the
  * concatenated pair lists.
  *
  * Exactly-once: the [[VersionedState]] fold.
  */
object GraphStreams {

  /** One micro-batch of the degree merge (public so tests and any
    * foreachBatch caller run the exact same code path). */
  def degreeBatch(batch: DataFrame, batchId: Long,
                  stateDir: String): Unit =
    VersionedState.fold(stateDir, batchId, Graph.degrees(batch).limit(0))(
      Graph.mergeDegrees(_, batch))
}
