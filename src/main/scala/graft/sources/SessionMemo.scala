package graft.sources

import scala.util.Try

import org.apache.spark.sql.SparkSession

/** Per-session memo, the one owner of the lifetime rule for the engine's
  * session-scoped caches:
  *  - entries are per JVM and keyed on `(SparkSession, K)`;
  *  - entries whose `sparkContext.isStopped` are swept on the next access;
  *  - a build runs AT MOST ONCE per key: racing first callers
  *    `putIfAbsent` an unbuilt holder and only the registered one builds,
  *    under its lock, while the others wait for its value
  *    (`TrieMap.getOrElseUpdate` would run a side-effecting build — a
  *    `saveAsTable`, a persist, a checkpoint — in every racing caller);
  *  - a build that throws leaves no entry: its waiters see the failure
  *    and the next call builds again.
  * Owners keep their own contract for what a value may be and their own
  * release policy over what [[remove]] returns.
  */
final class SessionMemo[K, V] {
  private final class Holder(private var build: () => V) {
    private var outcome: Option[Try[V]] = None
    def force(): V = synchronized {
      // drop the thunk once run: it may capture whole input plans
      if (outcome.isEmpty) { outcome = Some(Try(build())); build = null }
      outcome.get.get
    }
    /** The built value; waits for a build in flight, never starts one. */
    def built: Option[V] = synchronized(outcome.flatMap(_.toOption))
  }

  private val entries =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, K), Holder]

  private def sweep(): Unit =
    entries.keys.filter(_._1.sparkContext.isStopped).foreach(entries.remove)

  /** The value for `key` in `spark`, running `build` on first use. */
  def apply(spark: SparkSession, key: K)(build: => V): V = {
    sweep()
    val k = (spark, key)
    val mine = new Holder(() => build)
    val holder = entries.putIfAbsent(k, mine).getOrElse(mine)
    try holder.force()
    catch { case e: Throwable => entries.remove(k, holder); throw e }
  }

  /** Keys registered for `spark`. */
  def keys(spark: SparkSession): Seq[K] = {
    sweep()
    entries.keys.collect { case (s, k) if s == spark => k }.toSeq
  }

  /** Drop every entry of `spark` whose key matches, so the next access
    * rebuilds; returns the values that were actually built. */
  def remove(spark: SparkSession)(keyPredicate: K => Boolean): Seq[V] =
    keys(spark).filter(keyPredicate)
      .flatMap(k => entries.remove((spark, k)).flatMap(_.built))
}
