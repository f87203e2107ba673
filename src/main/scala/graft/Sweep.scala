package graft

import org.apache.spark.sql.SparkSession

/** Between-query session hygiene for the long-lived Bench/Verify JVMs.
  *
  * A 129-query run in ONE SparkSession accumulates state no individual
  * query can release:
  *
  *   - lineage-truncating `localCheckpoint` blocks whose DataFrames died
  *     with the query that built them (Blocking, IO.upsert, Dedup's
  *     materialize, DocStreams' per-batch frames each leave one per call —
  *     necessarily, since the blocks must outlive the call for the
  *     RETURNED frame to stay executable);
  *   - `.cache()`d frames a query materialized and nothing else shares;
  *   - per-run parquet stores under target/qtmp keyed by an incrementing
  *     counter (streaming dedup stores, IVF stores, export shards), which
  *     the next run cannot find to delete.
  *
  * Left alone these fill the block manager and the disk until every later
  * query pays GC — the round-5 driver bench inflated trivial projections
  * 4–10× exactly this way (231 s total vs 139 s in round 4). The same
  * failure mode would hit a long-lived 100 TB job: storage that only ever
  * grows is a leak, whatever the cluster size.
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

  /** Full release including the retained memos — end-of-run teardown and
    * the regression spec's clean-slate assertion. */
  def releaseAll(s: SparkSession): Unit = {
    retained.clear()
    drop(s)
  }
}
