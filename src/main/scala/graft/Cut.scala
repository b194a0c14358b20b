package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage cuts and their owners. `df.cut` is `df.localCheckpoint(true)`
  * and `df.cut(eager = false)` is `df.localCheckpoint(false)`, so plans
  * are the same; the checkpoint's RDD, which pins block-manager blocks
  * until it is unpersisted, is also added to the thread's current owner.
  *
  * The rule:
  *  - A key owns the cuts its body makes. [[ops.Op]]`.fn` runs the body under
  *    a fresh owner ([[keyed]]). If anything was cut, that owner is
  *    registered as ONE [[Caches.track]] entry, `cuts:<key>`, whose only
  *    consumer is the key, so the key's [[Caches.keyDone]] releases every
  *    cut the owner still holds. It registers whether the body returns or
  *    throws, so no release leg is needed for a failure.
  *  - A [[Fixture]] owns the cuts its build makes: the build runs under a
  *    fresh owner, the fixture's release releases it, and a build that
  *    throws releases it at once and registers nothing.
  *  - [[Caches.releaseCheckpoint]] inside an owner releases only that
  *    owner's cuts among the frame's checkpoint leaves, matched by RDD id;
  *    a fixture's or another key's cut under the same frame stays pinned.
  *    Outside any owner (a helper called directly, as tests do) it
  *    unpersists every checkpoint leaf that no owner holds, so it never
  *    frees a fixture either.
  *  - Superseded loop state is still released where the loop supersedes
  *    it: [[Loop.fixpoint]] releases each superseded state of the
  *    iterative loops, so block residency while a key runs is what its
  *    body makes it.
  *  - Threads of a [[ops.DriverPool]] run under the owner of the thread
  *    that created the pool: the pool captures it at creation and binds
  *    it in each thread it starts. The current owner is a plain (not
  *    inheritable) thread-local, so no other thread ever sees it.
  */
object Cut {

  /** The cuts one key run or one fixture build made and has not released.
    * Once released as a whole it stays closed: a cut added later (by a
    * pool thread its key abandoned) is released at once.
    */
  final class Owner private[graft] {
    private val held = scala.collection.mutable.LinkedHashMap.empty[Int, RDD[_]]
    private var closed = false
    private var used = false

    private[graft] def add(rdd: RDD[_]): Unit = synchronized {
      used = true
      if (closed) rdd.unpersist(blocking = false)
      else { held(rdd.id) = rdd; heldIds.add(rdd.id) }
    }

    /** True once anything was cut under this owner. */
    private[graft] def cutAny: Boolean = synchronized(used)

    /** Unpersist `rdd` if this owner holds it. */
    private[graft] def release(rdd: RDD[_]): Unit = synchronized {
      held.remove(rdd.id).foreach(unpersist)
    }

    /** Unpersist every cut still held. */
    private[graft] def releaseAll(): Unit = synchronized {
      closed = true
      held.values.foreach(unpersist)
      held.clear()
    }

    private def unpersist(rdd: RDD[_]): Unit = {
      heldIds.remove(rdd.id)
      rdd.unpersist(blocking = false)
    }
  }

  // Ids of the cuts some owner holds.
  private val heldIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** True while an owner holds `rdd`. */
  private[graft] def isHeld(rdd: RDD[_]): Boolean = heldIds.contains(rdd.id)

  private val current = new ThreadLocal[Owner]

  /** The calling thread's owner, if any. */
  private[graft] def owner: Option[Owner] = Option(current.get)

  /** Run `body` with `o` as the calling thread's owner. */
  private[graft] def under[T](o: Option[Owner])(body: => T): T = {
    val prev = current.get
    current.set(o.orNull)
    try body finally current.set(prev)
  }

  /** Run `body` under a fresh owner and return its value with the owner;
    * a throwing body releases the owner before the throw propagates.
    */
  private[graft] def owned[T](body: => T): (T, Owner) = {
    val o = new Owner
    try (under(Some(o))(body), o)
    catch { case e: Throwable => o.releaseAll(); throw e }
  }

  /** `fn` run under a fresh owner that [[Caches.keyDone]] of `key`
    * releases (see the rule above).
    */
  def keyed(key: String)(fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = (s, dir) => {
    val o = new Owner
    try under(Some(o))(fn(s, dir))
    finally if (o.cutAny) Caches.track(s, dir, s"cuts:$key", Set(key), () => o.releaseAll())
  }

  implicit class CutOps[T](private val ds: Dataset[T]) extends AnyVal {
    def cut: Dataset[T] = cut(eager = true)

    def cut(eager: Boolean): Dataset[T] = {
      val c = ds.localCheckpoint(eager)
      owner.foreach(o => c.queryExecution.analyzed.foreach {
        case lr: LogicalRDD => o.add(lr.rdd)
        case _              => ()
      })
      c
    }
  }
}
