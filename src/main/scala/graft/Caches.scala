package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import scala.jdk.CollectionConverters._

/** Lifecycle registry for the artifacts the op groups share per
  * (session, sfDir): checkpointed frames (signature tables, kNN graphs,
  * trained quantizers) and scratch directory layouts. A shared artifact
  * is declared once as a [[Fixture]]; the cuts a key makes for itself
  * are registered by their owner ([[Cut]]), one entry per key run.
  *
  * A `localCheckpoint` pins block-manager blocks until the session dies,
  * so every tracked artifact carries its consumer-key set and a release
  * closure. The harness reports each finished key through [[keyDone]];
  * the release fires the moment the artifact's last consumer has run.
  * The invariants:
  *
  *  - Release happens at the last SCHEDULED consumer. A pass that
  *    declares its key set ([[schedule]]) intersects every consumer set
  *    with it, so a restricted run never waits on keys it will not run.
  *    Without a schedule the full consumer set applies.
  *  - The completion ledger is monotone. A key reported done stays done
  *    for the (session, sfDir) until [[releaseAll]] or session stop, so
  *    an artifact built late (by a later consumer, after an earlier one
  *    ran or failed) is seeded with the consumers that already ran.
  *  - The first build wins payer attribution. Each artifact name records
  *    the key that was running ([[noteRunningKey]]) when it was first
  *    registered; a rebuild never overwrites it ([[cachePayers]]).
  *  - A throwing builder can be retried. [[memo]] caches only a returned
  *    value, and a failed build registers nothing.
  *  - Nothing pins a stopped session. Every registration sweeps the
  *    registry, the memo locks and the session-keyed side maps
  *    ([[sweepWith]], which includes every fixture's memo map, and
  *    [[sweepOnStop]]) of sessions whose context has stopped.
  *  - Every key names a parent session. [[memo]] and [[track]] refuse a
  *    [[Scoped]] clone: a clone shares its parent's context, so the sweep
  *    would never drop its entries, and no `keyDone` would ever reach it.
  */
object Caches {

  /** getOrElseUpdate with the builder run under a PER-KEY monitor.
    * TrieMap.getOrElseUpdate may evaluate the thunk twice under a
    * concurrent first use, and the shared-artifact builders have side
    * effects (an eager localCheckpoint plus a [[track]] registration
    * whose replacement would release the winner's blocks). The monitor
    * is per (cache, key), not per map: a build is a full Spark job, and
    * serializing two different keys' builds behind one lock would convoy
    * concurrent library callers. Builder chains nest in one direction
    * only (op fixture → Tables cache), each on its own key, so the
    * monitors cannot deadlock.
    *
    * The lock cell is self-cleaning: once the value is cached the fast
    * path never consults [[memoLocks]] again, so the winner retires its
    * cell on the way out. Retirement is a tombstone: the winner sets
    * `dead` under the cell's monitor before unmapping it, and every
    * acquirer re-checks `dead` after entering the monitor, so a waiter
    * parked across the removal joins a fresh cell instead of building
    * under the retired one. That bounds [[memoLocks]] for any key shape.
    * A throwing builder leaves its cell live and mapped, so waiters
    * retry the build one at a time behind the same monitor; cells of
    * stopped sessions are reaped by the sweep in [[track]].
    */
  def memo[K, V](cache: scala.collection.concurrent.TrieMap[K, V], key: K, build: => V): V = {
    cache.get(key) match {
      case Some(v) => return v
      case None    => ()
    }
    key match {
      case k: Product => require(!k.productIterator.exists {
          case ls: SparkSession => Scoped.isClone(ls)
          case _                => false
        }, "Caches.memo: a key holds a Scoped clone; key the cache on the parent session")
      case _ => ()
    }
    val lk = new LockKey(cache, key)
    while (true) {
      // putIfAbsent (not getOrElseUpdate) so all racers observe the SAME
      // lock cell — a loser's fresh cell is discarded before anyone can
      // synchronize on it.
      val fresh = new LockCell
      val cell = memoLocks.putIfAbsent(lk, fresh).getOrElse(fresh)
      cell.synchronized {
        if (!cell.dead) {
          val v = cache.get(key) match {
            case Some(v) => v
            case None    => val v = build; cache.put(key, v); v
          }
          // Success only (a throw skips this, leaving the cell live and
          // mapped for serialized retries). Tombstone BEFORE unmapping,
          // both under the monitor — see the scaladoc contract above.
          cell.dead = true
          memoLocks.remove(lk, cell)
          return v
        }
        // Retired cell: its winner already unmapped it (and the cached
        // value may since have been evicted) — loop onto a live cell.
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Monitor cell for [[memo]] — `dead` flips true (under the cell's own
    * monitor) when its winner retires it, telling late-parked waiters to
    * re-acquire instead of trusting a possibly-evicted cache entry.
    */
  private final class LockCell { var dead: Boolean = false }

  /** Lock-map key hashing the CACHE by reference identity. Scala maps
    * hash by contents, so a `(cache, key)` tuple would rehash after any
    * cache mutation: two threads memoizing the same key could take
    * different locks, and the sweep's remove would miss the bucket.
    * The logical key keeps its value equality.
    */
  private final class LockKey(val cache: AnyRef, val key: Any) {
    override def hashCode: Int = System.identityHashCode(cache) ^ key.##
    override def equals(o: Any): Boolean = o match {
      case k: LockKey => (k.cache eq cache) && k.key == key
      case _          => false
    }
  }

  /** One monitor per (cache identity, key) — see [[memo]]. Entries for
    * stopped sessions are purged alongside [[track]]'s registry sweep.
    */
  private val memoLocks = scala.collection.concurrent.TrieMap
    .empty[LockKey, LockCell]

  /** Test hook: live lock-entry count (CacheReleaseSuite pins the
    * self-cleaning bound for session-less key shapes).
    */
  private[graft] def memoLockCount: Int = memoLocks.size

  private final class Entry(val consumers: Set[String], val release: () => Unit) {
    var done: Set[String] = Set.empty
  }

  private val entries = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), Entry]

  // Session-keyed maps cleared per (session, sfDir) by releaseAll and,
  // through sweepOnStop, purged of stopped sessions by track's sweep: the
  // completion ledger, the schedule, every fixture's memo map and the
  // ops' test seams.
  private val sweepables = new java.util.concurrent.CopyOnWriteArrayList[
    scala.collection.concurrent.TrieMap[(SparkSession, String), _]]()

  /** Register a session-keyed side map for the stopped-session sweep and
    * return it — call at map creation: `Caches.sweepWith(TrieMap.empty)`.
    */
  def sweepWith[V](m: scala.collection.concurrent.TrieMap[(SparkSession, String), V])
      : scala.collection.concurrent.TrieMap[(SparkSession, String), V] = {
    sweepables.add(m)
    sweepOnStop(m)
  }

  // Every map the stopped-session sweep visits: the sweepables and the
  // maps registered with sweepOnStop, which releaseAll leaves alone.
  private val stopSweepables = new java.util.concurrent.CopyOnWriteArrayList[
    scala.collection.concurrent.TrieMap[Product, _]]()

  /** Register a map whose keys lead with a session for the stopped-session
    * sweep only and return it. Unlike [[sweepWith]], [[releaseAll]] does
    * not clear it: for caches a pass keeps across its cold starts (table
    * footers, stream source layouts).
    */
  def sweepOnStop[K <: Product, V](
      m: scala.collection.concurrent.TrieMap[K, V]): scala.collection.concurrent.TrieMap[K, V] = {
    stopSweepables.add(m.asInstanceOf[scala.collection.concurrent.TrieMap[Product, _]])
    m
  }

  // Keys reported via keyDone for a (session, sfDir) pass — the monotone
  // ledger that seeds a late registration's done-set.
  private val completed = sweepWith(scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Set[String]])

  // Keys scheduled for a (session, sfDir) pass; absent = full consumer sets.
  private val scheduled = sweepWith(scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Set[String]])

  /** Declare the exact key set this pass will run for (session, sfDir).
    * Subsequent track() registrations release at their last scheduled
    * consumer. Call before the first key runs (a cache registered before
    * the schedule keeps its full consumer set).
    */
  def schedule(s: SparkSession, dir: String, keys: Set[String]): Unit =
    scheduled.put((s, dir), keys)

  // The running bench key and the first-build payer per artifact name.
  // Deliberately NOT sweepables: Bench's isolated reruns call releaseAll
  // per key, and the main pass's attribution must survive that.
  private val runningKey = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]
  private val payers = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String),
      scala.collection.mutable.LinkedHashMap[String, String]]

  /** Mark `key` as the currently running bench key for (session, sfDir) —
    * cache builds it triggers (on any thread) are attributed to it.
    */
  def noteRunningKey(s: SparkSession, dir: String, key: String): Unit =
    runningKey.put((s, dir), key)

  /** First-build payer per artifact name for (session, sfDir), in
    * registration order. Advisory telemetry (Bench's `cache_payer`): a
    * shared build lands on whichever consumer runs first, so per-key
    * times must be read against it. No query path reads it.
    */
  def cachePayers(s: SparkSession, dir: String): Seq[(String, String)] =
    payers.get((s, dir)).map(m => m.synchronized(m.toSeq)).getOrElse(Nil)

  /** Unpersist the block-manager blocks behind a checkpointed frame. The
    * frame's plan has a [[LogicalRDD]] leaf over each internally cached
    * checkpoint RDD; unpersisting that RDD frees the blocks. Inside a
    * [[Cut]] owner only the owner's own cuts among those leaves are
    * released; outside one, every leaf no owner holds is.
    */
  def releaseCheckpoint(df: Dataset[_]): Unit = {
    val owner = Cut.owner
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => owner match {
          case Some(o) => o.release(lr.rdd)
          case None    => if (!Cut.isHeld(lr.rdd)) lr.rdd.unpersist(blocking = false)
        }
      case _ => ()
    }
  }

  /** Register `release` to fire once every key in `consumers` has been
    * reported via [[keyDone]] for this (session, sfDir). Re-registering
    * the same name (the cache was rebuilt after a release, or a key ran
    * again before its `keyDone`) resets the progress set and releases the
    * replaced artifact immediately.
    */
  def track(s: SparkSession, dir: String, name: String,
            consumers: Set[String], release: () => Unit): Unit = {
    require(!Scoped.isClone(s),
      s"Caches.track($name): called with a Scoped clone; register under the parent session")
    // Drop state of stopped sessions — their blocks died with the
    // session; retaining the closures would pin dead SessionStates.
    def stopped(ls: SparkSession) = ls.sparkContext.isStopped
    entries.keys.foreach(k => if (stopped(k._1)) entries.remove(k))
    runningKey.keys.foreach(k => if (stopped(k._1)) runningKey.remove(k))
    payers.keys.foreach(k => if (stopped(k._1)) payers.remove(k))
    stopSweepables.forEach(m => m.keys.foreach(k => k.productElement(0) match {
      case ls: SparkSession if stopped(ls) => m.remove(k)
      case _                               => ()
    }))
    // Memo keys are tuples of any arity with the session in some slot,
    // so scan the product. The removal skips memo's tombstone handshake:
    // a retried builder of a stopped session throws on its first Spark
    // call, so a duplicate run has no side effect left to duplicate.
    memoLocks.keys.foreach { lk =>
      lk.key match {
        case k: Product if k.productIterator.exists {
              case ls: SparkSession => stopped(ls)
              case _                => false
            } =>
          memoLocks.remove(lk)
        case _ => ()
      }
    }
    // Restricted consumer view. The building key is scheduled whenever a
    // schedule exists, so the intersection is empty only for a library
    // call made outside the schedule — which keeps the full set.
    val eff0 = scheduled.get((s, dir)).map(consumers.intersect).getOrElse(consumers)
    val eff = if (eff0.isEmpty) consumers else eff0
    val e = new Entry(eff, release)
    // Seed with consumers that already ran this pass. The builder itself
    // is never in the seed: its keyDone fires after its query fn returns.
    e.done = eff.intersect(completed.getOrElse((s, dir), Set.empty))
    runningKey.get((s, dir)).foreach { k =>
      val m = payers.getOrElseUpdate((s, dir),
        scala.collection.mutable.LinkedHashMap.empty[String, String])
      m.synchronized { if (!m.contains(name)) m(name) = k }
    }
    entries.put((s, dir, name), e).foreach(_.release())
  }

  /** Report `key` finished for (session, sfDir); fires any cache release
    * whose consumer set is now fully done.
    */
  def keyDone(s: SparkSession, dir: String, key: String): Unit = {
    completed.updateWith((s, dir)) {
      case Some(ks) => Some(ks + key)
      case None     => Some(Set(key))
    }
    entries.foreach { case (id @ (es, edir, _), e) =>
      if (es == s && edir == dir && e.consumers(key)) {
        e.synchronized { e.done += key }
        if (e.done == e.consumers) {
          // The ledger keeps this entry's keys: clearing them would starve
          // a later registration with an overlapping consumer set. A
          // rebuild after its pass completed therefore seeds full and
          // releases at its next consumer's report — perf-only.
          entries.remove(id).foreach(_.release())
        }
      }
    }
  }

  /** Count of localCheckpoint/cache blocks currently pinned in the block
    * manager — the residency metric BenchBudgetSuite-style tests assert
    * does not grow monotonically across a full pass.
    */
  def pinnedRddCount(s: SparkSession): Int =
    s.sparkContext.getPersistentRDDs.size

  /** Names of caches still tracked (= still pinned) for (session, sfDir).
    * Test-facing: lets a suite assert "this family's caches are gone"
    * without racing other suites' concurrent checkpoints the way a global
    * block count would.
    */
  def activeEntries(s: SparkSession, dir: String): Set[String] =
    entries.keys.collect { case (es, edir, name) if es == s && edir == dir => name }.toSet

  /** Release every cache tracked for (session, sfDir) immediately and
    * reset its ledger and schedule. Lets a pass or a suite start from a
    * clean slate regardless of what ran before it.
    */
  def releaseAll(s: SparkSession, dir: String): Unit = {
    entries.keys.foreach { case id @ (es, edir, _) =>
      if (es == s && edir == dir) entries.remove(id).foreach(_.release())
    }
    sweepables.forEach(_.remove((s, dir)))
  }
}

/** One shared artifact per (session, sfDir), declared once: its name, its
  * consumer keys and its builder. `apply(s, dir)` is the whole lifecycle —
  * the first call builds under [[Caches.memo]]'s per-key monitor and a
  * fresh [[Cut]] owner, and registers one [[Caches.track]] entry (which
  * also records the payer); when the last scheduled consumer reports
  * done, the entry evicts the memo, runs `release` and releases every cut
  * the build made, and the next call rebuilds. A build that throws
  * releases its cuts at once and registers nothing. The memo map is
  * registered with [[Caches.sweepWith]], so stopped sessions are purged
  * and [[Caches.releaseAll]] clears it.
  *
  * Every fixture registers itself in [[Fixture.all]]: the consumer sets
  * are checked against the key registry, and [[Setups.warm]] builds the
  * `layout` fixtures (scratch directories written before their consumer
  * runs) from it.
  */
final class Fixture[V] private[graft] (
    val name: String,
    val consumers: Set[String],
    val layout: Boolean,
    build: (SparkSession, String) => V,
    release: (SparkSession, V) => Unit) {

  private val built = Caches.sweepWith(
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), V])

  def apply(s: SparkSession, dir: String): V =
    Caches.memo(built, (s, dir), {
      val (v, cuts) = Cut.owned(build(s, dir))
      Caches.track(s, dir, name, consumers, () => {
        built.remove((s, dir), v)
        release(s, v)
        cuts.releaseAll()
      })
      v
    })

  Fixture.registered.add(this)
}

object Fixture {
  private val registered = new java.util.concurrent.CopyOnWriteArrayList[Fixture[_]]()

  /** A checkpoint fixture: its release is the release of its cuts. */
  def apply[V](name: String, consumers: Set[String])(
      build: (SparkSession, String) => V): Fixture[V] =
    new Fixture(name, consumers, layout = false, build, (_: SparkSession, _: V) => ())

  /** Every declared fixture, in declaration order. Fixtures are members
    * of the op groups, so this loads the key registry first.
    */
  def all: Seq[Fixture[_]] = {
    locally(SparkEntry.all)
    registered.asScala.toSeq
  }
}
