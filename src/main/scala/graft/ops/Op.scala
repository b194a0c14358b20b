package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator of the SURVEY.md §2 inventory: the Spark implementation and
  * its DuckDB oracle SQL co-located as a single source of truth per key.
  * `oracle = None` marks the non-oracle ops (checked by ScalaTest
  * equivalence instead). `fn` is `body` run under the key's cut owner
  * ([[graft.Cut.keyed]]).
  */
final case class Op(
    key: String,
    body: (SparkSession, String) => DataFrame,
    oracle: Option[String]) {
  val fn: (SparkSession, String) => DataFrame = graft.Cut.keyed(key)(body)
}

trait OpGroup {
  def ops: Seq[Op]
}

/** Small driver-side thread pools for overlapping independent Spark jobs
  * (guide §2.6). DAEMON threads (round-19 advice item 2): a leaked or
  * hung pool thread must never delay JVM exit, and the failure paths can
  * abandon a wedged sibling job without waiting on it. Each thread runs
  * under the [[graft.Cut]] owner of the thread that created the pool.
  */
private[graft] object DriverPool {
  def apply(n: Int): java.util.concurrent.ExecutorService = {
    val owner = graft.Cut.owner
    java.util.concurrent.Executors.newFixedThreadPool(n,
      new java.util.concurrent.ThreadFactory {
        def newThread(r: Runnable): Thread = {
          val t = new Thread(() => graft.Cut.under(owner)(r.run()))
          t.setDaemon(true)
          t
        }
      })
  }
}
