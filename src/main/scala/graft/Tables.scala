package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, TimestampNTZType, TimestampType}

/** Central table loader. Owns the session confs every query depends on
  * (the driver's Verify/Bench sessions are built without them — see
  * SURVEY.md §1.4) and the `events` nanosecond-timestamp recipe.
  *
  * Scale note: at 100 TB these reads become partitioned/bucketed scans;
  * the single-file layout here is the driver's test harness, not a design
  * choice. All downstream operators are pure DataFrame transforms, so the
  * swap is a loader-only change.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** √‖x‖² guarded for the zero vector: under ANSI mode (the Spark 4
    * default — no session here disables it) a 0.0 cosine denominator
    * raises DIVIDE_BY_ZERO instead of producing NaN, so one zero
    * embedding (an empty document's vector — routine in a real corpus)
    * would kill every similarity query. greatest(·, 1e-300) is EXACTLY
    * identity for any nonzero float vector (min float² ≈ 2e-90) and
    * turns the zero vector's cosine into 0.0 — finite, deterministic,
    * ranks last. Output-side norms (vec_norm, multimodal_join meta) stay
    * unguarded: there the true 0.0 is the correct answer.
    */
  def safeNorm(e: String): org.apache.spark.sql.Column =
    sqrt(greatest(expr(s"vec_norm_sq($e)"), lit(1e-300)))

  /** Idempotent session confs required for determinism vs the DuckDB oracle. */
  def conf(spark: SparkSession): Unit = {
    // events.ts is parquet timestamp[ns]; Spark has no ns type — read as Long.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Written timestamps must be µs (DuckDB's native unit).
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    graft.functions.FunctionTable.register(spark)
    // Driver-built sessions don't set spark.sql.extensions — attach the
    // optimizer rule at runtime (idempotent; extraOptimizations run at
    // the end of the optimizer batch list).
    if (!spark.experimental.extraOptimizations.contains(graft.plans.VecSelfDotRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.VecSelfDotRule
    // Physical planning seam for the whole-operator extensions (asof join).
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
  }

  /** Epoch-microseconds SQL for a TIMESTAMP_NTZ column WITHOUT the
    * NTZ→LTZ round-trip: `unix_micros(CAST(c AS TIMESTAMP))` reinterprets
    * the wall clock in the SESSION time zone, so it is only correct under
    * the [[conf]] UTC pin — a caller bypassing conf() would silently
    * shift every downstream gap/staleness/as-of distance (round-8
    * advice). This form reads only wall-clock fields (epoch day, hour,
    * minute, fractional second), which are time-zone-independent on NTZ;
    * arithmetic is exact (SECOND extracts as DECIMAL(8,6), ×10⁶ is
    * integral) and handles pre-epoch values (unix_date < 0 composes with
    * the non-negative time-of-day, the floor decomposition).
    */
  def ntzMicrosSql(c: String): String =
    s"(unix_date(CAST($c AS DATE)) * 86400000000 + BIGINT(hour($c)) * 3600000000" +
      s" + BIGINT(minute($c)) * 60000000 + CAST(date_part('SECOND', $c) * 1000000 AS BIGINT))"

  /** Column form of [[ntzMicrosSql]]. */
  def ntzMicros(c: String): org.apache.spark.sql.Column = expr(ntzMicrosSql(c))

  /** All timestamps are normalized to TimestampNTZ so parquet output is
    * naive-µs — exactly what the DuckDB oracle produces. (Session tz is
    * UTC, so LTZ→NTZ casts are wall-clock identities.)
    *
    * The analyzed frame is cached per (session, sfDir, table): a fresh
    * `spark.read.parquet` re-lists the path and re-reads the footer for
    * schema inference on EVERY call, and a 132-key pass makes hundreds of
    * them against static test data. The cached object is an immutable
    * logical plan — reuse across queries is exactly how a shared metastore
    * table behaves on a real cluster.
    */
  private val tableCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), DataFrame]

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    conf(spark)
    // Evict entries of stopped sessions: a long-lived JVM cycling sessions
    // (sbt interactive, per-suite sessions) must not retain dead
    // SessionStates/file indexes through cached plans.
    tableCache.keys.foreach { k =>
      if (k._1.sparkContext.isStopped) tableCache.remove(k)
    }
    graft.Caches.memo(tableCache, (spark, sfDir, name), {
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      df.schema.fields.foldLeft(df) { (d, f) =>
        if (f.dataType == TimestampType)
          d.withColumn(f.name, col(f.name).cast(TimestampNTZType))
        else d
      }
    })
  }

  /** `events` with `ts` normalized to µs TimestampNTZ regardless of how the
    * driver generated the file. Two formats have been observed across
    * rounds: parquet timestamp[ns] (arrives as Long under `nanosAsLong` —
    * convert with integer division; double division would lose the final
    * µs digit, SURVEY.md §1.4) and parquet timestamp[µs] (arrives as
    * TIMESTAMP_NTZ already — `t()` has normalized any LTZ reading). The
    * DuckDB oracle's `CAST(ts AS TIMESTAMP)` is the identity/truncation
    * under both formats, so the two engines stay aligned either way.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val df = t(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)").cast(TimestampNTZType))
      case _ => df
    }
  }

  /** Money/value columns arrive as 2-dp doubles; exact order-insensitive
    * aggregation requires decimal (SURVEY.md §2.0.2).
    */
  def dec2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast(DecimalType(18, 2))

  /** Temp dir recursively deleted at JVM exit — a Verify+Bench+test cycle
    * must leave /tmp net-unchanged (round-1 runs stranded ~300 dirs).
    * ONE shutdown hook drains a queue of registered paths; per-call hooks
    * would all start as concurrent threads at exit.
    */
  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val tmpHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var p = tmpDirs.poll()
      while (p != null) {
        deleteRecursively(p)
        p = tmpDirs.poll()
      }
    }))

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = try {
    val walk = java.nio.file.Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => java.nio.file.Files.deleteIfExists(f))
    finally walk.close()
  } catch { case _: Throwable => () }

  /** A scratch directory layout as a [[Fixture]]: the demo datasets the
    * write-shaped ops (DPP fact layout, z-order layout, compaction input,
    * bucketed tables, txn log) read. `write` fills a fresh tmp dir once
    * per (session, sfDir); the release deletes the dir and runs
    * `extraRelease` (catalog state the write created), so scratch space
    * is bounded by the keys in flight and a later call rebuilds.
    * [[Setups.warm]] builds layouts before their consumers are timed.
    */
  def layout(name: String, consumers: Set[String],
      extraRelease: SparkSession => Unit = _ => ())(
      write: (SparkSession, String, String) => Unit): Fixture[String] =
    new Fixture[String](name, consumers, layout = true,
      (s, dir) => {
        val out = tmpDir(s"graft_$name")
        write(s, dir, out)
        out
      },
      (s, out) => {
        extraRelease(s)
        deleteRecursively(java.nio.file.Paths.get(out))
      })

  /** Scratch root: prefer the tmpfs at /dev/shm (java.io.tmpdir is on a
    * disk-backed filesystem in this container, and the round-trip /
    * partitioned-write / streaming-checkpoint ops otherwise pay its
    * fsyncs — measured ~0.5-1 s per write-path key at sf0.1). On a real
    * cluster this role is played by local SSD scratch; the choice is
    * harness-local and changes no query semantics.
    */
  private lazy val tmpRoot: Option[java.nio.file.Path] = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    // Capacity gate, not just writability: a full 167-key pass parks
    // write-op outputs + stream checkpoints here until JVM exit, and
    // shuffle spills (scratchLocalDir) share the same tmpfs. A small
    // /dev/shm would hit ENOSPC mid-run with no fallback — require
    // ≥ 4 GiB usable (sf0.1 pass peaks well under 1 GiB measured;
    // 4 GiB leaves headroom for spills) before electing it.
    try {
      if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm) &&
          java.nio.file.Files.getFileStore(shm).getUsableSpace >= (4L << 30))
        Some(shm)
      else None
    } catch { case _: java.io.IOException => None }
  }

  def tmpDir(prefix: String): String = {
    tmpHook
    val p = tmpRoot match {
      case Some(root) => java.nio.file.Files.createTempDirectory(root, prefix)
      case None       => java.nio.file.Files.createTempDirectory(prefix)
    }
    tmpDirs.add(p)
    p.toString
  }

  /** tmpfs-backed `spark.local.dir` for shuffle/spill scratch, when
    * available — Spark manages (and deletes) its own spark-* subdirs
    * under it. None → leave Spark's default. Session builders opt in
    * BEFORE getOrCreate (the conf is fixed at SparkContext start).
    */
  def scratchLocalDir: Option[String] = tmpRoot.map { r =>
    java.nio.file.Files.createDirectories(r.resolve("graft_spark_local")).toString
  }
}
