package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.storage.StorageLevel

/** Session-storage hygiene: who releases a pinned frame, and when.
  *
  * Within a call, every pin (a `.cache()` or a `localCheckpoint()`) is
  * freed by one rule, [[release]], mostly through a [[pinned]] scope.
  * Across queries, a long-lived Bench/Verify JVM accumulates state no
  * single query can release:
  *
  *   - `localCheckpoint` blocks behind a RETURNED lazy frame (Blocking's
  *     pairs, Dedup's results and cluster labels, `inferIncremental`'s
  *     batch, `Ann.route`'s probes, DocStreams' per-batch frames), which
  *     must outlive the call for that frame to stay executable;
  *   - `.cache()`d frames a query materialized and nothing else shares;
  *   - per-run parquet stores under target/qtmp keyed by an incrementing
  *     counter (streaming dedup stores, IVF stores, export shards), which
  *     the next run cannot find to delete.
  *
  * Left alone these fill the block manager and the disk until every later
  * query pays GC: storage that only ever grows is a leak, whatever the
  * cluster size.
  *
  * Protocol: Bench and Verify call [[drop]] after every query. Memo
  * builders that deliberately share materialized state across queries
  * ([[queries.SessionMemo]]) wrap their builds in [[retainNew]], which
  * registers every RDD the build leaves persisted as sweep-exempt.
  * Everything else persisted at sweep time is, by construction, garbage:
  * its query has already been consumed.
  */
object Sweep {

  /** RDD ids that survive [[drop]] — the deliberately session-shared memos. */
  private val retained = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Per-run qtmp paths awaiting deletion once their query is consumed. */
  private val ephemerals = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** The handle of one [[pinned]] scope: `pin(df)` registers a frame the
    * body pinned, `pin.release(df)` frees one early (a round loop's
    * previous round), and `pin.keep(df)` hands one out behind the caller's
    * lazily returned result, where [[drop]] and the ContextCleaner own it.
    * A cached frame whose plan an earlier one already cached shares that
    * frame's cache entry (a self-join's two sides), so it is not
    * registered a second time. */
  final class Pins private[Sweep] () {
    private[Sweep] val held = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    def apply[T](ds: Dataset[T]): Dataset[T] = {
      if (!cached(ds) || !held.exists(h => cached(h) && h.toDF().sameSemantics(ds.toDF()))) held += ds
      ds
    }
    def release(ds: Dataset[_]): Unit = { held -= ds; Sweep.release(ds) }
    def keep[T](ds: Dataset[T]): Dataset[T] = { held -= ds; ds }
  }

  /** Run `body`, releasing every frame it registers, last pinned first,
    * when it returns or throws. The body keeps its own materialization (a
    * `.cache()` stays lazy, a `localCheckpoint()` eager); the scope owns
    * only the release, so nothing the result reads lazily may stay
    * registered. */
  def pinned[A](body: Pins => A): A = {
    val pins = new Pins
    val out = try body(pins) catch { case t: Throwable =>
      pins.held.reverseIterator.foreach { p =>
        try release(p) catch { case e: Throwable => t.addSuppressed(e) }
      }
      throw t
    }
    pins.held.reverseIterator.foreach(release)
    out
  }

  /** THE release rule for one pin: a cached frame drops its cache-manager
    * entry; a `localCheckpoint()` leaf frees its RDD's blocks, which
    * `Dataset.unpersist` never touches. A frame that holds neither throws,
    * so a release that frees nothing cannot be written. */
  def release(ds: Dataset[_]): Unit =
    if (cached(ds)) ds.unpersist(blocking = false)
    else require(Shim.releaseCheckpoint(ds),
      "release of a frame that holds no pin (neither cached nor a live localCheckpoint)")

  private def cached(ds: Dataset[_]): Boolean = ds.storageLevel != StorageLevel.NONE

  /** Run `build`, registering every RDD it leaves persisted as retained.
    * The build must MATERIALIZE what it wants kept (localCheckpoint is
    * eager; a lazy `.cache()` registers nothing until first execution, so
    * memo builders force a count). */
  def retainNew[A](s: SparkSession)(build: => A): A = {
    val before = s.sparkContext.getPersistentRDDs.keySet
    val out = build
    s.sparkContext.getPersistentRDDs.keySet.diff(before)
      .foreach(id => retained.add(id))
    out
  }

  /** Register a per-run qtmp path for deletion at the next [[drop]] (i.e.
    * after the registering query's result has been consumed — deletion
    * inside the query would race the caller's read of the returned,
    * still-lazy frame). Returns the path for inline use. */
  def ephemeral(path: String): String = { ephemerals.add(path); path }

  /** Ids currently registered as sweep-exempt (for the regression spec). */
  def retainedIds: Set[Int] = {
    val it = retained.iterator()
    val b = Set.newBuilder[Int]
    while (it.hasNext) b += it.next()
    b.result()
  }

  /** Unpersist every non-retained RDD and delete registered ephemeral
    * stores. Cached frames recompute if some later query reuses the plan;
    * checkpoint blocks of completed queries are dead weight. */
  def drop(s: SparkSession): Unit = {
    s.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!retained.contains(id)) rdd.unpersist(blocking = false)
    }
    var p = ephemerals.poll()
    while (p != null) { graft.io.IO.deletePath(p); p = ephemerals.poll() }
  }
}
