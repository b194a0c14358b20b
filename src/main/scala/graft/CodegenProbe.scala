package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Dev utility for the one-shot-codegen-floor experiment (PERF_NOTES):
  * run the full key sweep under a configurable conf set and report wall
  * total alongside the JVM-wide janino compilation metrics
  * (`CodegenMetrics`: compilations, mean compile ms, generated source
  * bytes), so the compile share of the suite total is measured, not
  * inferred. `SPARK_GRAFT_CONF="k=v;k=v"` ([[LocalSession]]) lets one
  * run pin STATIC confs (e.g. `spark.sql.codegen.cache.maxEntries`) that
  * must be set at session build time.
  *
  * `runMain graft.CodegenProbe` — env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_CONF.
  */
object CodegenProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Same untimed warm-ups as Bench so the probe measures the same loop.
    try SparkEntry.queries.head._2(spark, sfDir).count()
    catch { case _: Throwable => () }
    try {
      val warm = spark.range(2).selectExpr("id", "CAST(id AS STRING) AS s")
      warm.write.mode("overwrite").parquet(Tables.tmpDir("graft_warm_pq"))
      warm.write.mode("overwrite").csv(Tables.tmpDir("graft_warm_csv"))
    } catch { case _: Throwable => () }
    Setups.warm(spark, sfDir, SparkEntry.queries.keySet)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val s0 = snapshotTotalMs
    val t0 = System.nanoTime()
    SparkEntry.queries.foreach { case (name, fn) =>
      try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
      Caches.keyDone(spark, sfDir, name)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val nCompile = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    val compileMs = snapshotTotalMs - s0
    val srcKb = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getSnapshot.getMean *
      CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount / 1024
    val confStr = LocalSession.envConf.map { case (k, v) => s"$k=$v" }.mkString(";")
    println(f"""{"wall_sec":$wall%.2f,"compilations":$nCompile,"compile_sec_approx":${compileMs / 1000}%.2f,"gen_source_kb_total":$srcKb%.0f,"conf":"$confStr"}""")
    spark.stop()
  }

  /** Approx total compile ms: histogram mean × count (reservoir-sampled
    * mean — exact count, approximate mean; good to a few % at this n).
    */
  private def snapshotTotalMs: Double =
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean *
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
