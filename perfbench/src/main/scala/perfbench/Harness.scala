package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Caches, Setups, SparkEntry, Tables}

/** Closed-loop benchmark harness: one client thread runs a workload's keys
  * in registry order, pass after pass, for a fixed number of seconds, and
  * writes the raw measurements as JSON for `run.py` to reduce.
  *
  * Every layer is timed from outside, around the harness's own calls into
  * the engine's public entry points (`Op.fn`, `queryExecution`, the noop
  * write, `Caches.keyDone`, `Setups.warm`), and from Spark's listener bus.
  *
  * Arguments: `--data DIR --keys K1,K2,.. --seconds S --trace 0|1
  * --workload NAME --out FILE --dump DIR --spans FILE --work DIR`.
  */
object Harness {
  /** Set-ups per run; `setup_s` is their median. */
  private val SetupRuns = 3
  private val MarkerTag = "perfbench-marker"
  private val TagProp = "perfbench.tag"

  private type Obj = mutable.LinkedHashMap[String, Any]
  private def obj(kv: (String, Any)*): Obj = mutable.LinkedHashMap(kv: _*)
  private def json(v: AnyRef): String = Serialization.write(v)(DefaultFormats)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = opt("data")
    val cpus = Runtime.getRuntime.availableProcessors()
    val keySet = opt("keys").split(',').filter(_.nonEmpty).toSet
    val keys = SparkEntry.all.filter(o => keySet(o.key))
    val missing = keySet -- keys.map(_.key)
    require(missing.isEmpty, s"unknown keys: ${missing.mkString(",")}")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = obj()

    // --- set-up, repeated so its median is steady -----------------------
    val setupS = mutable.ArrayBuffer.empty[Double]
    val warmS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 1 to SetupRuns) {
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      jitWarm(spark, dir, keySet.exists(_.startsWith("stream_")))
      warmS += prepare(spark, dir, keySet)
      setupS += secs(t0)
    }
    out("setup_s") = setupS.toSeq
    out("warm_s") = warmS.toSeq
    out("cpus") = cpus

    // --- passes -------------------------------------------------------
    // Pass 0 runs every key once, writing each oracle key's result as
    // parquet for the DuckDB check; it is the first run of each query
    // shape in this JVM (codegen, JIT) and is not timed. The timed passes
    // follow; a traced run alternates traced and untraced ones, so the
    // tracing overhead is measured under the same conditions.
    val scratch = new Scratch(work)
    val spans = new Spans
    val passes = mutable.ArrayBuffer.empty[Obj]
    val ops = keys.map(o => o.key -> o.fn)
    val dump = keys.filter(_.oracle.isDefined).map(o => o.key -> s"${opt("dump")}/${o.key}").toMap
    passes += runPass(spark, dir, ops, 0, false, 0, spans, scratch, dump)
    val root = if (trace) spans.open("workload", 0, opt("workload")) else 0
    val t0 = System.nanoTime()
    var p = 1
    while (p < (if (trace) 5 else 4) || secs(t0) < seconds) {
      val traced = trace && p % 2 == 1
      val w = if (traced) spans.open("setups.warm", root, p.toString) else 0
      prepare(spark, dir, keySet)
      if (traced) spans.close(w)
      passes += runPass(spark, dir, ops, p, traced, root, spans, scratch, Map.empty)
      p += 1
    }
    if (trace) spans.close(root)
    out("passes") = passes.toSeq
    // The oracle SQL of the dumped keys, where `scripts/diff.py` reads it.
    Files.createDirectories(Paths.get(opt("dump")))
    Files.writeString(Paths.get(opt("dump"), "oracle_sql.json"),
      json(obj(keys.collect { case o if o.oracle.isDefined => o.key -> o.oracle.get }: _*)))
    if (trace) Files.writeString(Paths.get(opt("spans")), spans.render)
    Files.writeString(Paths.get(opt("out")), json(out))
    stop(spark)
  }

  /** The timed action: a noop write computes every output column of every
    * row, where `count()` would let column pruning skip the projections.
    */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The session shape of the engine's own bench: `local[nproc]` with as
    * many shuffle partitions. Spark's scratch stays inside the work dir.
    */
  private def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** The engine bench's untimed JIT warm-ups: the first registry key, a
    * tiny parquet and CSV write, and (for streaming workloads) one
    * stateful micro-batch query. The bench also warms the RocksDB state
    * store; no workload here runs a key that uses it.
    */
  private def jitWarm(spark: SparkSession, dir: String, stream: Boolean): Unit = {
    val (k, fn) = SparkEntry.queries.head
    try materialize(fn(spark, dir))
    catch { case _: Throwable => () }
    Caches.keyDone(spark, dir, k)
    try {
      val w = spark.range(2).selectExpr("id", "CAST(id AS STRING) AS s")
      w.write.mode("overwrite").parquet(Tables.tmpDir("graft_warm_pq"))
      w.write.mode("overwrite").csv(Tables.tmpDir("graft_warm_csv"))
    } catch { case _: Throwable => () }
    if (stream) {
      def run(name: String): Unit = {
        val src = Tables.tmpDir(s"graft_warm_$name")
        spark.range(2).selectExpr("id", "timestamp_micros(id * 1000000) AS ts")
          .write.mode("overwrite").parquet(src)
        spark.readStream.schema("id LONG, ts TIMESTAMP").parquet(src)
          .withWatermark("ts", "1 hour")
          .groupBy(org.apache.spark.sql.functions.window(
            org.apache.spark.sql.functions.col("ts"), "1 hour"))
          .count()
          .writeStream.outputMode("complete").format("memory").queryName(name)
          .option("checkpointLocation", Tables.tmpDir(s"graft_warm_${name}_ckpt"))
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      }
      try run("perfbench_warm_stream") catch { case _: Throwable => () }
    }
  }

  /** Cold start for a pass: drop every shared fixture, declare the pass's
    * key set so fixtures release at their last scheduled consumer, and
    * build the setup layouts. Returns the seconds spent in `Setups.warm`.
    */
  private def prepare(spark: SparkSession, dir: String, keys: Set[String]): Double = {
    Caches.releaseAll(spark, dir)
    Caches.schedule(spark, dir, keys)
    val t0 = System.nanoTime()
    Setups.warm(spark, dir, keys)
    secs(t0)
  }

  /** Heap in use after a full collection: the live set of driver and
    * executors (they share this heap in local mode), i.e. what the pass
    * retains between keys — pinned fixtures, block-manager storage,
    * broadcasts — without the garbage a collector has yet to reclaim.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def runPass(spark: SparkSession, dir: String,
      keys: Seq[(String, (SparkSession, String) => DataFrame)], p: Int,
      traced: Boolean, root: Int, spans: Spans, scratch: Scratch,
      dump: Map[String, String]): Obj = {
    val sc = spark.sparkContext
    val ledger = if (traced) Some(new Ledger) else None
    ledger.foreach(sc.addSparkListener)
    val cg0 = Codegen.snapshot
    val host0 = Host.snapshot
    val rows = mutable.ArrayBuffer.empty[Obj]
    var pinned, pinnedMb, entries, scratchMb, heapMb = 0.0
    val passSpan = if (traced) spans.open("pass", root, p.toString) else 0
    val t0 = System.nanoTime()
    for ((key, fn) <- keys) {
      val row = obj("key" -> key)
      Caches.noteRunningKey(spark, dir, key)
      val id = s"$p/$key"
      val keySpan = if (traced) spans.open("key", passSpan, id) else 0
      def phase[T](name: String)(body: => T): T =
        if (!traced) body
        else {
          sc.setLocalProperty(TagProp, s"$id/$name")
          val s = spans.open(name, keySpan, id)
          try body finally { row(name) = spans.close(s); sc.setLocalProperty(TagProp, null) }
        }
      val k0 = System.nanoTime()
      try {
        val df = phase("ops.build")(fn(spark, dir))
        if (traced) phase("plans.plan")(df.queryExecution.executedPlan)
        val a0 = System.currentTimeMillis()
        dump.get(key) match {
          case Some(path) => df.write.mode("overwrite").parquet(path)
          case None       => phase("exec.action")(materialize(df))
        }
        row("action_ms") = Seq(a0, System.currentTimeMillis())
        row("ok") = true
      } catch { case e: Throwable =>
        row("ok") = false
        row("err") = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
      row("wall_s") = secs(k0)
      if (traced) {
        val r = spans.open("caches.release", keySpan, id)
        Caches.keyDone(spark, dir, key)
        row("release_s") = spans.close(r)
        spans.close(keySpan)
        pinned = pinned max Caches.pinnedRddCount(spark)
        pinnedMb = pinnedMb max sc.getRDDStorageInfo
          .map(i => (i.memSize + i.diskSize) / 1048576.0).sum
        entries = entries max Caches.activeEntries(spark, dir).size
        scratchMb = scratchMb max scratch.mb
      } else Caches.keyDone(spark, dir, key)
      // The untimed correctness pass also samples the live heap after
      // each key; the timed passes stay free of forced collections.
      if (p == 0) heapMb = heapMb max liveHeapMb()
      rows += row
    }
    val passS = secs(t0)
    // Untimed: every pass starts from the same live set.
    System.gc()
    val pass = obj("pass" -> p, "traced" -> traced, "pass_s" -> passS)
    if (p == 0) pass("heap_peak_mb") = heapMb
    pass("host") = Host.delta(host0)
    if (traced) {
      spans.close(passSpan)
      val l = ledger.get
      l.drain(sc)
      sc.removeSparkListener(l)
      rows.foreach(r => l.annotate(r, p))
      pass("codegen") = Codegen.delta(cg0)
      pass("stream") = l.streamJson
      pass("peaks") = obj("pinned_rdds" -> pinned, "pinned_mb" -> pinnedMb,
        "entries" -> entries, "scratch_mb" -> scratchMb)
    }
    pass("keys") = rows.toSeq
    pass
  }

  /** Job/stage/task counts and task metrics from the listener bus, keyed
    * by the `perfbench.tag` local property of the submitting thread
    * (`pass/key/phase`); stages and tasks inherit their job's tag.
    */
  private final class Ledger extends SparkListener {
    final class Acc {
      var jobs, stages, tasks = 0L
      var runMs, cpuNs, gcMs, shW, shR, spill = 0L
      val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    }
    private val byTag = mutable.Map.empty[String, Acc]
    private val stageTag = mutable.Map.empty[Int, String]
    private val jobTag = mutable.Map.empty[Int, (String, Long)]
    private val done = new java.util.concurrent.CountDownLatch(1)
    private var batches, inputRows, stateRows = 0L
    private var planMs, commitMs, batchMs = 0L

    private def acc(tag: String) = byTag.getOrElseUpdate(tag, new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagProp)))
        .getOrElse("untagged")
      jobTag(e.jobId) = (tag, e.time)
      if (tag != MarkerTag) {
        acc(tag).jobs += 1
        e.stageIds.foreach(stageTag(_) = tag)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobTag.remove(e.jobId).foreach { case (tag, start) =>
        if (tag == MarkerTag) done.countDown()
        else acc(tag).jobSpans += ((start, e.time))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageTag.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (tag <- stageTag.get(e.stageId); m <- Option(e.taskMetrics)) {
        val a = acc(tag)
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shW += m.shuffleWriteMetrics.bytesWritten
        a.shR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => synchronized {
        val q = p.progress
        def d(k: String): Long = Option(q.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        batches += 1
        inputRows += q.numInputRows
        stateRows += q.stateOperators.map(_.numRowsTotal).sum
        planMs += d("queryPlanning")
        commitMs += d("walCommit") + d("commitOffsets")
        batchMs += d("triggerExecution")
      }
      case _ => ()
    }

    /** Wait until every event posted before now has been delivered: the
      * bus delivers in order, so seeing a marker job's end is enough.
      */
    def drain(sc: org.apache.spark.SparkContext): Unit = {
      sc.setLocalProperty(TagProp, MarkerTag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(TagProp, null)
      done.await(30, java.util.concurrent.TimeUnit.SECONDS)
    }

    /** Add the key's ledger to its row: per phase counts, eager jobs (those
      * started inside `Op.fn`), and action time no running job covered.
      */
    def annotate(row: Obj, p: Int): Unit = synchronized {
      val id = s"$p/${row("key")}"
      val phases = Seq("ops.build", "plans.plan", "exec.action")
      val accs = phases.flatMap(ph => byTag.get(s"$id/$ph"))
      def sum(f: Acc => Long): Long = accs.map(f).sum
      row("eager_jobs") = byTag.get(s"$id/ops.build").map(_.jobs).getOrElse(0L)
      row("jobs") = sum(_.jobs)
      row("stages") = sum(_.stages)
      row("tasks") = sum(_.tasks)
      row("task_run_s") = sum(_.runMs) / 1e3
      row("task_cpu_s") = sum(_.cpuNs) / 1e9
      row("gc_s") = sum(_.gcMs) / 1e3
      row("shuffle_write_mb") = sum(_.shW) / 1048576.0
      row("shuffle_read_mb") = sum(_.shR) / 1048576.0
      row("spill_mb") = sum(_.spill) / 1048576.0
      row.get("action_ms").foreach { case Seq(a0: Long, a1: Long) =>
        val jobs = byTag.get(s"$id/exec.action").map(_.jobSpans.toSeq).getOrElse(Nil)
        row("driver_gap_s") = (a1 - a0 - covered(jobs, a0, a1)) / 1e3
      case _ => () }
    }

    def streamJson: Obj = synchronized(obj(
      "batches" -> batches, "input_rows" -> inputRows, "state_rows" -> stateRows,
      "plan_s" -> planMs / 1e3, "commit_s" -> commitMs / 1e3, "batch_s" -> batchMs / 1e3))
  }

  /** Milliseconds of [a0, a1] covered by the union of the intervals. */
  private def covered(spans: Seq[(Long, Long)], a0: Long, a1: Long): Long = {
    var total = 0L
    var end = a0
    for ((s, e) <- spans.sortBy(_._1)) {
      val lo = s max end
      val hi = e min a1
      if (hi > lo) { total += hi - lo; end = hi }
    }
    total
  }

  /** JVM-wide janino counters (the engine's CodegenProbe pattern): exact
    * compile count; compile ms and source bytes as histogram mean x count.
    */
  private object Codegen {
    def snapshot: (Long, Double, Double) = (
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean *
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getSnapshot.getMean *
        CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount)
    def delta(s0: (Long, Double, Double)): Obj = {
      val s1 = snapshot
      obj("compiles" -> (s1._1 - s0._1), "compile_s" -> (s1._2 - s0._2) / 1e3,
        "source_kb" -> (s1._3 - s0._3) / 1024)
    }
  }

  /** Host window: steal jiffies from /proc/stat and the 1-minute load. */
  private object Host {
    private def line(p: String): Array[String] =
      try Files.readAllLines(Paths.get(p)).get(0).trim.split("\\s+")
      catch { case _: Throwable => Array.empty }
    def snapshot: Long = {
      val f = line("/proc/stat")
      if (f.length > 8 && f(0) == "cpu") f(8).toLong else -1L
    }
    def delta(steal0: Long): Obj = {
      val s1 = snapshot
      val load = line("/proc/loadavg").headOption.map(_.toDouble).getOrElse(-1.0)
      obj("steal_jiffies" -> (if (s1 >= 0 && steal0 >= 0) s1 - steal0 else -1L),
        "load1" -> load)
    }
  }

  /** Bytes under the engine's scratch root that this process created
    * (the entries missing from the root when the harness started), plus
    * Spark's own local dir.
    */
  private final class Scratch(work: Path) {
    private val root = Paths.get(Tables.tmpDir("perfbench_probe")).getParent
    private val before = list(root).toSet
    private def list(p: Path): Seq[Path] =
      try { val s = Files.list(p); try s.iterator.asScala.toSeq finally s.close() }
      catch { case _: Throwable => Nil }
    private def bytes(p: Path): Long =
      try {
        val s = Files.walk(p)
        try s.iterator.asScala.map(f =>
          try if (Files.isRegularFile(f)) Files.size(f) else 0L
          catch { case _: Throwable => 0L }).sum
        finally s.close()
      } catch { case _: Throwable => 0L }
    def mb: Double = {
      val mine = list(root).filterNot(before) :+ work.resolve("spark-local")
      mine.map(bytes).sum / 1048576.0
    }
  }

  /** In-memory spans (name, parent, id shared by one key's spans, start,
    * end), written out when the run ends.
    */
  private final class Spans {
    private val t0 = System.nanoTime()
    private val open_ = mutable.Map.empty[Int, (String, Int, String, Long)]
    private val closed = mutable.ArrayBuffer.empty[Obj]
    private var next = 0
    def open(name: String, parent: Int, id: String): Int = {
      next += 1
      open_(next) = (name, parent, id, System.nanoTime())
      next
    }
    /** Closes the span and returns its duration in seconds. */
    def close(span: Int): Double = {
      val end = System.nanoTime()
      val (name, parent, id, start) = open_.remove(span).get
      closed += obj("span" -> span, "name" -> name, "parent" -> parent, "id" -> id,
        "start_s" -> (start - t0) / 1e9, "end_s" -> (end - t0) / 1e9)
      (end - start) / 1e9
    }
    def render: String = json(closed.toSeq)
  }
}
