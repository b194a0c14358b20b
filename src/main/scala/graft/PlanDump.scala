package graft

/** Dev utility: write `.explain("formatted")` for the named keys to
  * `plans/<tag>/<key>_<suffix>.txt` (optimization-round evidence; the judge
  * reads these files instead of running Spark). Usage:
  *
  *   SPARK_GRAFT_PLAN_DIR=plans/r19 SPARK_GRAFT_PLAN_SUFFIX=before \
  *     sbt "runMain graft.PlanDump key1 key2 ..."
  *
  * Mirrors Bench's session shape (same master/shuffle-partitions/scratch
  * dir; [[LocalSession]]) so the dumped plan is the plan the bench
  * actually runs; `SPARK_GRAFT_CONF="k=v;k=v"` dumps a key's plan under
  * other confs (e.g. spark.sql.adaptive.enabled=false). Fixture layouts
  * are built untimed via Setups.warm, exactly as in Bench.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r19")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "plan")
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    for (key <- args) {
      Setups.warm(spark, sfDir, Set(key))
      // Loop-family INNER-round probes (round-19 verdict item 2) live in
      // a side registry — the declared keys' dumps explain only the final
      // frame, hiding the per-round joins behind localCheckpoints.
      val fn = SparkEntry.queries.getOrElse(key, ops.PipelineOps.innerProbes(key))
      val df = fn(spark, sfDir)
      val txt =
        try df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"explain failed: $e" }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"${key}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      Caches.keyDone(spark, sfDir, key)
      println(s"[plandump] $dir/${key}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
