package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the `private[sql]` calls graft needs: `Dataset.ofRows`,
  * which hands a custom [[LogicalPlan]] node (graft.plans.AsOfJoinPlan) or
  * an already-analyzed plan back to the public Dataset API, and
  * `SparkSession.cloneSession`, which [[graft.Scoped]] uses to give a loop
  * its own conf. Placing this object inside the `org.apache.spark.sql`
  * package is the standard extension-library technique (table formats and
  * query accelerators that add operators all ship an equivalent shim);
  * everything else in graft uses only public seams
  * (`SparkSessionExtensions`, `experimental.extraStrategies` /
  * `extraOptimizations`).
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A session sharing `spark`'s SparkContext, cached data and catalog
    * state, with a copy of its conf, functions and planner extensions.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Detach a session's streaming listener bus from the shared
    * SparkContext. A session's StreamingQueryManager registers one on its
    * first use and never removes it, so every clone that started a query
    * would leave one behind on the context. For a session whose queries
    * have all stopped; a no-op for one that never started a query.
    */
  def dropStreamListenerBus(spark: SparkSession): Unit = {
    def field(c: Class[_], name: String) = {
      val f = c.getDeclaredField(name)
      f.setAccessible(true)
      f
    }
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    Option(field(classOf[internal.SessionState], "streamingQueryManager").get(state))
      .foreach { m =>
        spark.sparkContext.listenerBus.removeListener(
          field(classOf[classic.StreamingQueryManager], "listenerBus").get(m)
            .asInstanceOf[org.apache.spark.scheduler.SparkListenerInterface])
      }
  }

  /** Wait for `q` to stop, then detach the listener bus of the internal
    * session it ran on. Each query runs on its own clone of the session
    * that started it (`sparkSessionForStream`), whose manager registers
    * a bus on the context like any other; without this every query run
    * leaves one behind. Detaches also when the query died.
    */
  def awaitAndDetach(q: streaming.StreamingQuery): Unit =
    try q.awaitTermination()
    finally q match {
      case w: execution.streaming.runtime.StreamingQueryWrapper =>
        dropStreamListenerBus(w.streamingQuery.sparkSessionForStream)
      case _ => ()
    }
}
