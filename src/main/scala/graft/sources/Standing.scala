package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Lifecycle registry for standing persisted frames.
  *
  * The engine memoizes a handful of computed-once tables per (session,
  * data dir) — the near-dup cluster table, the entity-resolution component
  * table, the replayed net_demand materialization — as MEMORY_AND_DISK
  * frames that every downstream consumer reads instead of recomputing
  * (the reference's own shape: net_demand is INSERT INTO'd once,
  * docker/dags/sql/net_demand_insert.sql:4, and all dashboard cards read
  * the result table). Persisted frames previously lived until session
  * stop; a long-lived session cycling many dirs would accumulate storage
  * with no way to let go. This registry is the single owner of those
  * frames: modules build through [[frame]], and operators (or a bench
  * harness wanting a clean storage pool) call [[release]] to drop every
  * standing frame for a dir and have the next consumer rebuild.
  *
  * Scale posture: the registry holds only already-bounded artifacts
  * (cluster table = candidate-pair-sized, entity table = dim-sized,
  * net_demand = product-grain). Nothing corpus-sized is ever persisted —
  * corpus-scale standing state goes through [[Tables.memoTable]] as
  * on-disk catalog tables, which don't occupy the executor storage pool.
  */
object Standing {
  /** Lifetime and build-once: [[SessionMemo]] — builders localCheckpoint
    * inside (mmrPoolTop, clustersTable), so a duplicate build would leave
    * checkpoint blocks no unpersist reaches. */
  private val frames = new SessionMemo[(String, String), DataFrame]

  /** Build-once accessor: first call per (session, dir, name) runs
    * `build`, persists MEMORY_AND_DISK and registers the frame; later
    * calls return the registered frame. */
  def frame(spark: SparkSession, dir: String, name: String)
           (build: => DataFrame): DataFrame =
    frames(spark, (dir, name))(build.persist(StorageLevel.MEMORY_AND_DISK))

  /** Release every standing frame registered for (session, dir):
    * blocking unpersist (the storage pool is actually free when this
    * returns, which is the point for callers that want a clean pool) and
    * registry removal, so the next [[frame]] call rebuilds. Returns the
    * number of frames released.
    */
  def release(spark: SparkSession, dir: String): Int =
    unpersist(frames.remove(spark)(_._1 == dir))

  /** Release all standing frames for a session, any dir. */
  def releaseAll(spark: SparkSession): Int =
    unpersist(frames.remove(spark)(_ => true))

  private def unpersist(released: Seq[DataFrame]): Int = {
    released.foreach(_.unpersist(blocking = true))
    released.size
  }

  /** Registered frame names for a (session, dir) — introspection for
    * specs and reports. */
  def registered(spark: SparkSession, dir: String): Seq[String] =
    frames.keys(spark).collect { case (d, n) if d == dir => n }.sorted

  /** Bytes currently held by the session's block-manager storage pool
    * (memory, disk) across ALL persisted RDDs — the standing frames plus
    * any transient persists in flight. This is the number a bench line
    * reports alongside query groups: it shows whether standing state is
    * squeezing the pool an iterative query's own persists live in.
    */
  def storageBytes(spark: SparkSession): (Long, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.memSize).sum, infos.map(_.diskSize).sum)
  }
}
