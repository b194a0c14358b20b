package graft

import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlShim, Row, SparkSession}

/** The session a [[Scoped]] body plans on, and the way frames reach it. */
final class Scope private[graft] (val session: SparkSession) {

  /** `df` rebound onto the scope's session: it and every frame derived
    * from it plan under the scope's settings. A frame's plan runs on the
    * session of the frame the action is called on (for a join or union,
    * the left side), so a body rebinds every parent frame it reads.
    */
  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession eq session) df
    else GraftSqlShim.ofRows(session, df.queryExecution.analyzed)
}

/** One scoped conf for a loop that needs a narrower conf than the
  * session's — few shuffle partitions, AQE or whole-stage codegen off, the
  * RocksDB state store:
  *
  * {{{
  * Scoped(s, "spark.sql.shuffle.partitions" -> "2") { sc =>
  *   sc(frame).groupBy(...).agg(...).cut
  * }
  * }}}
  *
  * Invariants:
  *  - `settings` are set on one `cloneSession()` of `s`, never on `s`: a
  *    job planned on `s` while the body runs, on any thread, sees the
  *    session's own conf. The clone shares the SparkContext, the block
  *    manager and the catalog, so checkpoints made in the body are the
  *    same blocks either way.
  *  - The body reads parent frames through `sc(df)`; actions on those
  *    frames and on everything derived from them plan on the clone.
  *  - Frames the body returns — alone or as members of a pair or triple —
  *    are rebound onto `s`, so whatever the caller does with them later
  *    plans under the session's conf, as it would after any window.
  *  - The clone never reaches a session-keyed map. [[Fixture]]s,
  *    [[Caches.track]], [[Tables.t]] and the stream source caches stay
  *    keyed on `s`: the body calls them with `s` (a fixture therefore
  *    builds under the session's conf wherever it is first called), and
  *    [[Caches.memo]] and [[Caches.track]] refuse a clone — a tracked
  *    key would never see a `keyDone`, so its blocks would stay pinned.
  *  - A streaming query only needs `start()` on the clone: the query
  *    snapshots the starting session's conf at `start()`, and a memory
  *    sink registers its table in the starting session's catalog, so the
  *    sink is read through the clone and the result rebound onto `s`.
  *    Those queries report to the clone's listeners, not to listeners
  *    added through `s.streams`; the clone's listener bus is detached from
  *    the context when the body returns.
  */
object Scoped {
  private val clones = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** True for a session made by [[apply]]. */
  def isClone(s: SparkSession): Boolean = clones.containsKey(s)

  def apply[T](s: SparkSession, settings: (String, String)*)(body: Scope => T): T = {
    val clone = GraftSqlShim.cloneSession(s)
    clones.put(clone, java.lang.Boolean.TRUE)
    settings.foreach { case (k, v) => clone.conf.set(k, v) }
    def toParent(v: Any): Any = v match {
      case df: Dataset[_] if df.sparkSession eq clone =>
        require(df.encoder.clsTag.runtimeClass == classOf[Row],
          "Scoped: a typed Dataset cannot leave the scope; return it as a DataFrame")
        GraftSqlShim.ofRows(s, df.queryExecution.analyzed)
      case (a, b)    => (toParent(a), toParent(b))
      case (a, b, c) => (toParent(a), toParent(b), toParent(c))
      case other     => other
    }
    try toParent(body(new Scope(clone))).asInstanceOf[T]
    finally GraftSqlShim.dropStreamListenerBus(clone)
  }
}
