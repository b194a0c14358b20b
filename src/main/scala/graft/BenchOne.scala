package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev utility: time a subset of keys in isolation (same session shape as
  * [[Bench]], plus `SPARK_GRAFT_CONF`; see [[LocalSession]]).
  * `runMain graft.BenchOne key1 key2 ...` — each key is run
  * `SPARK_GRAFT_REPS` times (default 2) so first-run codegen/IO warm-up is
  * visible separately from steady state. Each rep also reports the Spark
  * jobs, stages and tasks its timed window ran.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (jobs, stages, tasks) = (new AtomicInteger, new AtomicInteger, new AtomicInteger)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(st: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(st.stageInfo.numTasks)
      }
    })
    // Listener delivery is asynchronous: wait until the counts hold still.
    def settled(): (Int, Int, Int) = {
      var last = (-1, -1, -1)
      var stable = 0
      while (stable < 3) {
        Thread.sleep(50)
        val now = (jobs.get, stages.get, tasks.get)
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      last
    }
    try SparkEntry.queries.head._2(spark, sfDir).count()
    catch { case _: Throwable => () }
    // The warm-up key may have registered a shared checkpoint cache;
    // report it done (mirroring Bench) so its blocks don't stay pinned
    // across every measured rep — that residency distortion is the very
    // thing this tool exists to measure in isolation.
    Caches.keyDone(spark, sfDir, SparkEntry.queries.head._1)
    // SPARK_GRAFT_KEEP_CACHES=1 keeps caches across keys and reps,
    // measuring the family-shared residency the full Bench sequence sees;
    // otherwise every rep pays its own cache build.
    val keepCaches = sys.env.get("SPARK_GRAFT_KEEP_CACHES").contains("1")
    for (key <- args; r <- 1 to reps) {
      // Mirror Bench's untimed fixture build — keyDone below releases the
      // layout after each rep, so every rep rebuilds it here, untimed.
      Setups.warm(spark, sfDir, Set(key))
      settled()
      Seq(jobs, stages, tasks).foreach(_.set(0))
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(key)(spark, sfDir).count()
      val secs = (System.nanoTime() - t0) / 1e9
      val (j, st, tk) = settled()
      println(f"$key rep$r: $secs%.3f s ($n rows, $j jobs, $st stages, $tk tasks)")
      // Outside the timer, mirroring Bench: release any shared cache
      // whose consumer set this rep completed. With kept caches the key
      // is done only after its last rep, so reps 2+ of a fixture's last
      // consumer still find the fixture built.
      if (!keepCaches || r == reps) Caches.keyDone(spark, sfDir, key)
      // Then drop EVERY tracked cache regardless of consumer-set state:
      // a multi-consumer checkpoint (token_tf, mutual_knn_edges) would
      // otherwise stay pinned after rep 1 and make rep2+ measure
      // warm-cache times — this tool measures keys in ISOLATION, so each
      // rep pays its own cache build (Bench's full pass is where the
      // build amortizes across consumers).
      if (!keepCaches) Caches.releaseAll(spark, sfDir)
    }
    spark.stop()
  }
}
