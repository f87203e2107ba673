package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import graft.io.IO

/** Model-based test of the partitioned store: a SEEDED random sequence of
  * upserts / keyed deletes / appends / compactions / trusted-routing moves
  * / routed deletes runs against both the store and an in-memory reference
  * model. After every commit the store must equal the model, with every
  * key in the bucket the model routes it to; afterwards every retained
  * version must time-travel to its recorded snapshot, every version-pair
  * change feed must apply back to the later snapshot, and a mirror synced
  * stepwise must converge at each commit. One spec, the whole
  * table-format contract. */
class StoreModelSpec extends SparkSpec {
  import spark.implicits._

  private val path = "/root/repo/target/test_tmp/model_store"
  private val mirror = "/root/repo/target/test_tmp/model_mirror"

  test("random op sequence: store == model at every version; time travel, " +
       "feed apply, and mirror sync all reconstruct history") {
    val rnd = new Random(20260814L)
    var model = (1 to 40).map(i => i.toLong -> i.toDouble).toMap
    var nextId = 1000L
    IO.deletePath(mirror)
    IO.deletePath(mirror + ".__graft_tmp")
    IO.writePartitionedStore(model.toSeq.toDF("id", "v"), path, Seq("id"),
      nBuckets = 8)
    def storeMap() = IO.readPartitionedStore(spark, path)
      .as[(Long, Double)].collect().toMap
    assert(storeMap() == model)
    var snapshots = Map(1 -> model)
    IO.syncMirror(spark, path, mirror, Seq("id"))

    // keys a trusted-routing move left outside their hash bucket, with
    // the bucket they live in: the keyed (hash-located) ops only pick
    // keys that still live at their hash
    var routed = Map.empty[Long, Int]
    def hashBucket(ids: Seq[Long]): Map[Long, Int] = ids.toDF("id")
      .select(col("id"), IO.bucketExpr(Seq("id"), 8))
      .as[(Long, Int)].collect().toMap
    def hashed() = model.keys.filterNot(routed.contains).toSeq.sorted
    // the routed ops' locate: each key's CURRENT bucket, from a scan
    def locate(ids: Seq[Long]) = () =>
      IO.readStoreBuckets(spark, path, (0 until 8).toSet)
        .select(col("id"), col(IO.BucketCol)).join(ids.toDF("id"), "id")
    def storeBuckets() = IO.readStoreBuckets(spark, path, (0 until 8).toSet)
      .select(col("id"), col(IO.BucketCol)).as[(Long, Int)].collect().toMap

    var kinds = Set.empty[Int]
    for (step <- 1 to 14) {
      val kind = rnd.nextInt(6)
      kinds += kind
      kind match {
        case 0 => // upsert: update some existing + insert some new
          val updates = rnd.shuffle(hashed()).take(1 + rnd.nextInt(5))
            .map(k => k -> (rnd.nextInt(1000).toDouble))
          val inserts = (1 to rnd.nextInt(3)).map { _ =>
            nextId += 1; nextId -> rnd.nextInt(1000).toDouble
          }
          val src = (updates ++ inserts).toDF("id", "v")
          IO.upsertPartitionedStore(spark, path, src, Seq("id"), Seq("v"))
          model = model ++ updates ++ inserts
        case 1 => // delete existing and (no-op) missing keys
          val dels = rnd.shuffle(hashed()).take(rnd.nextInt(4)) :+ 999999L
          IO.deleteFromPartitionedStore(spark, path, dels.toDF("id"), Seq("id"))
          model = model -- dels
        case 2 => // append brand-new keys only (append never merges)
          val rows = (1 to 1 + rnd.nextInt(4)).map { _ =>
            nextId += 1; nextId -> rnd.nextInt(1000).toDouble
          }
          IO.appendPartitionedStore(spark, path, rows.toDF("id", "v"), Seq("id"))
          model = model ++ rows
        case 3 => // compaction: content must be invisible to readers
          IO.compactPartitionedStore(spark, path)
        case 4 => // trusted-routing move: new value AND a new bucket
          val cur = storeBuckets()
          val moved = rnd.shuffle(model.keys.toSeq).take(1 + rnd.nextInt(2)).map { k =>
            (k, rnd.nextInt(1000).toDouble, (cur(k) + 1 + rnd.nextInt(7)) % 8)
          }
          IO.routedRewrite(spark, path, locate(moved.map(_._1)),
            Some(moved.toDF("id", "v", IO.BucketCol)), Seq("id"))
          model = model ++ moved.map(m => m._1 -> m._2)
          val home = hashBucket(moved.map(_._1))
          moved.foreach { case (k, _, b) =>
            routed = if (home(k) == b) routed - k else routed + (k -> b)
          }
        case 5 => // routed delete of any keys, moved ones included
          val dels = rnd.shuffle(model.keys.toSeq).take(1 + rnd.nextInt(3)) :+ 999999L
          IO.routedRewrite(spark, path, locate(dels), None, Seq("id"))
          model = model -- dels
          routed = routed -- dels
      }
      val v = IO.storeVersions(spark, path).last
      snapshots += v -> model
      assert(storeMap() == model, s"store diverged from model at step $step (v$v)")
      assert(storeBuckets() == hashBucket(model.keys.toSeq) ++ routed,
        s"a key sits outside its modelled bucket at step $step (v$v)")
      // mirror syncs to exactly this commit
      assert(IO.syncMirror(spark, path, mirror, Seq("id")) == v)
      assert(spark.read.parquet(mirror).as[(Long, Double)].collect().toMap == model,
        s"mirror diverged at step $step (v$v)")
    }

    assert(kinds == (0 to 5).toSet, s"the seeded sequence skipped an op kind: $kinds")

    // time travel: every retained version serves its recorded snapshot
    val versions = IO.storeVersions(spark, path)
    versions.foreach { v =>
      assert(IO.readPartitionedStoreAt(spark, path, v)
        .as[(Long, Double)].collect().toMap == snapshots(v),
        s"time travel diverged at v$v")
    }
    // change feeds: applying feed(v1, v2) to snapshot v1 yields snapshot v2
    // for a sample of version pairs (including non-adjacent ranges)
    val pairs = versions.zip(versions.tail) ++
      Seq((versions.head, versions.last),
          (versions.head, versions(versions.size / 2)))
    pairs.foreach { case (a, b) if a <= b =>
      val applied = IO.applyChangeFeed(
          snapshots(a).toSeq.toDF("id", "v"),
          IO.storeChangeFeed(spark, path, a, b, Seq("id")), Seq("id"))
        .as[(Long, Double)].collect().toMap
      assert(applied == snapshots(b), s"feed apply diverged for v$a -> v$b")
    }
    // CLONE FORK: an O(files) clone of the full history behaves as an
    // independent store — both sides evolve separately off the shared
    // immutable data files, the fork time-travels the pre-fork history,
    // and vacuuming the fork never disturbs the source (hardlink safety)
    val fork = "/root/repo/target/test_tmp/model_store_fork"
    IO.deletePath(fork)
    IO.cloneStore(spark, path, fork)
    var forkModel = model
    def forkMap() = IO.readPartitionedStore(spark, fork)
      .as[(Long, Double)].collect().toMap
    assert(forkMap() == model, "fresh clone must equal the source")
    val forkUps = Seq(hashed().head -> 4242.0, 424242L -> 1.0)
    IO.upsertPartitionedStore(spark, fork, forkUps.toDF("id", "v"),
      Seq("id"), Seq("v"))
    forkModel = forkModel ++ forkUps
    val forkDels = forkModel.keys.filterNot(routed.contains).toSeq.sorted.take(3)
    IO.deleteFromPartitionedStore(spark, fork, forkDels.toDF("id"), Seq("id"))
    forkModel = forkModel -- forkDels
    IO.compactPartitionedStore(spark, fork)
    assert(forkMap() == forkModel, "fork diverged from its model")
    assert(storeMap() == model, "fork mutations leaked into the source")
    // diverge the SOURCE too; the fork must not see it
    IO.upsertPartitionedStore(spark, path, Seq(31337L -> 9.0).toDF("id", "v"),
      Seq("id"), Seq("v"))
    model = model + (31337L -> 9.0)
    snapshots += IO.storeVersions(spark, path).last -> model
    assert(storeMap() == model && forkMap() == forkModel,
      "source mutation leaked into the fork")
    // the fork time-travels the SHARED pre-fork history through its
    // copied manifests
    versions.foreach { v =>
      assert(IO.readPartitionedStoreAt(spark, fork, v)
        .as[(Long, Double)].collect().toMap == snapshots(v),
        s"fork time travel diverged at v$v")
    }
    // vacuuming the fork unlinks only ITS directory entries: the source
    // still serves every retained version off the shared inodes
    IO.vacuumPartitionedStore(spark, fork, orphanGraceMs = 0L)
    assert(forkMap() == forkModel)
    versions.foreach { v =>
      assert(IO.readPartitionedStoreAt(spark, path, v)
        .as[(Long, Double)].collect().toMap == snapshots(v),
        s"source history lost after fork vacuum at v$v")
    }

    // vacuum: history trims to exactly the pre-vacuum current version,
    // current content intact
    val cur = IO.storeVersions(spark, path).last
    IO.vacuumPartitionedStore(spark, path, orphanGraceMs = 0L)
    assert(IO.storeVersions(spark, path) == Seq(cur))
    assert(storeMap() == model)
  }
}
