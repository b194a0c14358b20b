package graft

import org.apache.spark.sql.SparkSession

/** The `local[n]` session shape of the command-line mains.
  *
  *  - `SPARK_GRAFT_CPUS` is n and the shuffle-partition count, default 4
  *    for every main ([[Bench]], [[Verify]], [[BenchOne]], [[PlanDump]],
  *    [[CodegenProbe]]).
  *  - `SPARK_GRAFT_CONF="k=v;k=v"` adds confs to the dev mains' builder
  *    ([[builder]]), so static confs such as
  *    `spark.sql.codegen.cache.maxEntries` take effect too. [[Bench]] and
  *    [[Verify]] never read it: the contract runs keep their own conf.
  */
object LocalSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `SPARK_GRAFT_CONF` parsed; an entry that is not `k=v` is an error. */
  def envConf: Seq[(String, String)] =
    sys.env.getOrElse("SPARK_GRAFT_CONF", "").split(';').toSeq
      .filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => (k, v)
          case _ => sys.error(s"SPARK_GRAFT_CONF entry '$kv' is not of the form k=v")
        }
      }

  /** The dev mains' builder: `local[cpus]`, as many shuffle partitions,
    * no UI, shuffle scratch on tmpfs when available
    * ([[Tables.scratchLocalDir]]), then [[envConf]].
    */
  def builder(): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    Tables.scratchLocalDir.foreach(d => b.config("spark.local.dir", d))
    envConf.foreach { case (k, v) => b.config(k, v) }
    b
  }
}
