package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-(session, key) memo of state that several registered queries share:
  * exact baselines (the brute-force ANN top-k, the exact shingle-Jaccard
  * pair set), shared stores, and MatchQueries' fitted flagship stages.
  * Keyed on the session UUID, entries of stopped sessions evicted on
  * access; [[frame]] values are materialized via localCheckpoint so reuse
  * replays no lineage. */
object SessionMemo {
  private val frames =
    scala.collection.concurrent.TrieMap[(String, String), DataFrame]()

  def frame(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    frames.filterInPlace((_, df) => !df.sparkSession.sparkContext.isStopped)
    val uuid = org.apache.spark.sql.graftshim.Shim.sessionUuid(s)
    // retainNew: the checkpoint blocks must survive the between-query
    // sweep (graft.Sweep.drop) — they back every later query sharing the
    // memo, and a swept localCheckpoint cannot recompute
    frames.getOrElseUpdate((uuid, key),
      graft.Sweep.retainNew(s)(build.localCheckpoint()))
  }

  private val values =
    scala.collection.concurrent.TrieMap[(String, String), (SparkSession, Any)]()

  /** Arbitrary fitted-state memo (models, stats) with the same
    * per-(session, key) lifecycle as [[frame]]; entries die with their
    * SparkSession. */
  def value[A](s: SparkSession, key: String)(build: => A): A = {
    values.filterInPlace((_, v) => !v._1.sparkContext.isStopped)
    val uuid = org.apache.spark.sql.graftshim.Shim.sessionUuid(s)
    values.getOrElseUpdate((uuid, key),
      (s, graft.Sweep.retainNew(s)(build)))._2.asInstanceOf[A]
  }
}
