package graft

import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import graft.io.IO

/** S2/S3/S5 — IO layer; upsert must leave unmatched target rows
  * byte-identical (SURVEY §7.5). */
class IOSpec extends SparkSpec {
  import spark.implicits._

  private val tmp = "/root/repo/target/test_tmp"

  test("csv scan: explicit schema round-trip, no inference") {
    val df = Seq((1L, "a", 10), (2L, "b,with,commas", -3)).toDF("k", "s", "n")
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType), StructField("n", IntegerType)))
    val back = IO.readCsv(spark, s"$tmp/csv", schema)
    assert(back.schema == schema)
    assert(back.as[(Long, String, Int)].collect().toSet ==
      Set((1L, "a", 10), (2L, "b,with,commas", -3)))
  }

  test("upsert: matched rows update only updateCols; unmatched target " +
       "rows byte-identical; new rows inserted") {
    val target = Seq((1, "one", 10.0), (2, "two", 20.0), (3, "three", 30.0))
      .toDF("id", "name", "price")
    val source = Seq((2, "TWO-RENAMED", 99.0), (4, "four", 40.0))
      .toDF("id", "name", "price")
    val out = IO.upsert(target, source, Seq("id"), Seq("price"))
      .as[(Int, String, Double)].collect().toSet
    assert(out == Set(
      (1, "one", 10.0),          // unmatched target: untouched
      (2, "two", 99.0),          // matched: price updated, name NOT (updateCols only)
      (3, "three", 30.0),        // unmatched target: untouched
      (4, "four", 40.0)))        // not-matched source: inserted
  }

  test("upsert: composite keys") {
    val target = Seq(("abt", 1, 1.0), ("abt", 2, 2.0), ("buy", 1, 3.0))
      .toDF("table", "id", "v")
    val source = Seq(("abt", 1, 9.0)).toDF("table", "id", "v")
    val out = IO.upsert(target, source, Seq("table", "id"), Seq("v"))
      .as[(String, Int, Double)].collect().toSet
    assert(out == Set(("abt", 1, 9.0), ("abt", 2, 2.0), ("buy", 1, 3.0)))
  }

  test("upsertPartitionedStore: merges correctly and never touches unaffected buckets") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val path = s"$tmp/bucketed_store"
    val nBuckets = 8
    val target = (1 to 64).map(i => (i.toLong, s"name$i", i.toDouble))
      .toDF("id", "name", "v")
    IO.writePartitionedStore(target, path, Seq("id"), nBuckets)

    // snapshot every data file (path -> mtime) per bucket directory
    def files(): Map[String, Long] = Files.walk(Paths.get(path)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    val before = files()

    // delta: update two ids, insert one new — touches at most 3 buckets
    val source = Seq((5L, "ignored", 500.0), (17L, "ignored", 1700.0),
      (999L, "new", 9.9)).toDF("id", "name", "v")
    val touched = source.select(IO.bucketExpr(Seq("id"), nBuckets).as("b"))
      .distinct().as[Int].collect().toSet
    Thread.sleep(20) // ensure rewritten files get a later mtime
    assert(IO.storeBuckets(path) == nBuckets) // persisted by the writer
    IO.upsertPartitionedStore(spark, path, source, Seq("id"), Seq("v"))

    // merge semantics: WHEN MATCHED update v only, NOT MATCHED insert
    val out = IO.readPartitionedStore(spark, path)
      .as[(Long, String, Double)].collect()
      .map { case (i, n, v) => i -> ((n, v)) }.toMap
    assert(out(5L) == (("name5", 500.0)))   // v updated, name retained
    assert(out(17L) == (("name17", 1700.0)))
    assert(out(999L) == (("new", 9.9)))     // inserted
    assert(out(6L) == (("name6", 6.0)))     // untouched row intact
    assert(out.size == 65)

    // pruning: files in untouched bucket dirs are byte-identical (same
    // paths, same mtimes); only touched buckets were rewritten
    val after = files()
    def bucketOf(f: String): Int =
      f.split(s"${IO.BucketCol}=")(1).split("/")(0).toInt
    val untouchedBefore = before.filter { case (f, _) => !touched.contains(bucketOf(f)) }
    val untouchedAfter = after.filter { case (f, _) => !touched.contains(bucketOf(f)) }
    assert(untouchedBefore.nonEmpty)
    assert(untouchedAfter == untouchedBefore)
    // and the touched buckets WERE rewritten (new file sets)
    assert(after.keySet.filter(f => touched.contains(bucketOf(f))) !=
      before.keySet.filter(f => touched.contains(bucketOf(f))))
  }

  test("upsertPartitionedStore: crash before the commit marker leaves the " +
       "pre-merge state readable; a retry completes the merge") {
    val path = s"$tmp/atomic_store"
    val target = (1 to 32).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    IO.writePartitionedStore(target, path, Seq("id"), nBuckets = 8)
    val source = Seq((3L, 300.0), (500L, 5.0)).toDF("id", "v")
    // injected crash in the window AFTER all data + manifest files are
    // written, BEFORE the atomic commit-marker create — the widest
    // possible loss window of the old dynamic-overwrite design
    val boom = intercept[RuntimeException] {
      IO.upsertPartitionedStoreImpl(spark, path, source, Seq("id"), Seq("v"),
        beforeCommit = () => throw new RuntimeException("injected crash"))
    }
    assert(boom.getMessage == "injected crash")
    val afterCrash = IO.readPartitionedStore(spark, path)
      .as[(Long, Double)].collect().toMap
    assert(afterCrash == (1 to 32).map(i => i.toLong -> i.toDouble).toMap,
      "crashed merge must be invisible: readers resolve the old manifest")
    // a plain retry re-derives the generation, overwrites the orphan
    // files, and commits
    IO.upsertPartitionedStore(spark, path, source, Seq("id"), Seq("v"))
    val out = IO.readPartitionedStore(spark, path).as[(Long, Double)].collect().toMap
    assert(out(3L) == 300.0 && out(500L) == 5.0 && out.size == 33)
  }

  test("vacuumPartitionedStore: reclaims superseded bucket files; " +
       "post-vacuum reads identical, one generation per bucket") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val path = s"$tmp/vacuum_store"
    IO.writePartitionedStore(
      (1 to 32).map(i => (i.toLong, i.toDouble)).toDF("id", "v"),
      path, Seq("id"), nBuckets = 8)
    IO.upsertPartitionedStore(spark, path,
      Seq((3L, 300.0), (7L, 700.0)).toDF("id", "v"), Seq("id"), Seq("v"))
    val before = IO.readPartitionedStore(spark, path)
      .as[(Long, Double)].collect().toSet
    IO.vacuumPartitionedStore(spark, path)
    val after = IO.readPartitionedStore(spark, path)
      .as[(Long, Double)].collect().toSet
    assert(after == before)
    // every bucket now lives in exactly one generation directory
    val genBuckets = Files.walk(Paths.get(path)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet"))
      .map { f =>
        val b = f.split(s"${IO.BucketCol}=")(1).split("/")(0).toInt
        val g = f.split(s"${IO.GenCol}=")(1).split("/")(0)
        (b, g)
      }.toSet
    assert(genBuckets.groupMap(_._1)(_._2).forall(_._2.size == 1),
      s"bucket present in two generations after vacuum: $genBuckets")
  }

  test("time travel: every committed version stays readable until vacuum; " +
       "vacuum trims history to the current version") {
    val path = s"$tmp/tt_store"
    val v1 = (1 to 16).map(i => (i.toLong, i.toDouble))
    IO.writePartitionedStore(v1.toDF("id", "v"), path, Seq("id"), nBuckets = 4)
    IO.upsertPartitionedStore(spark, path,
      Seq((3L, 300.0), (100L, 1.0)).toDF("id", "v"), Seq("id"), Seq("v"))
    IO.upsertPartitionedStore(spark, path,
      Seq((100L, 2.0)).toDF("id", "v"), Seq("id"), Seq("v"))
    assert(IO.storeVersions(spark, path) == Seq(1, 2, 3))
    assert(IO.readPartitionedStoreAt(spark, path, 1)
      .as[(Long, Double)].collect().toSet == v1.toSet)
    val atV2 = IO.readPartitionedStoreAt(spark, path, 2)
      .as[(Long, Double)].collect().toMap
    assert(atV2(3L) == 300.0 && atV2(100L) == 1.0 && atV2.size == 17)
    val cur = IO.readPartitionedStore(spark, path)
      .as[(Long, Double)].collect().toMap
    assert(cur(100L) == 2.0 && cur.size == 17)
    IO.vacuumPartitionedStore(spark, path)
    // post-vacuum: old manifests gone, v1 no longer readable, current intact
    assert(IO.storeVersions(spark, path) == Seq(3))
    intercept[IllegalArgumentException] {
      IO.readPartitionedStoreAt(spark, path, 1)
    }
    assert(IO.readPartitionedStore(spark, path)
      .as[(Long, Double)].collect().toMap == cur)
  }

  test("deleteFromPartitionedStore: keyed delete prunes to touched buckets; " +
       "fully-emptied buckets drop out of the manifest") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val path = s"$tmp/delete_store"
    val nBuckets = 8
    IO.writePartitionedStore(
      (1 to 64).map(i => (i.toLong, i.toDouble)).toDF("id", "v"),
      path, Seq("id"), nBuckets)
    def files(): Map[String, Long] = Files.walk(Paths.get(path)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    val before = files()
    val delKeys = Seq(5L, 17L, 999L) // 999 absent: deleting a missing key is a no-op
    val touched = delKeys.toDF("id")
      .select(IO.bucketExpr(Seq("id"), nBuckets).as("b"))
      .distinct().as[Int].collect().toSet
    Thread.sleep(20)
    IO.deleteFromPartitionedStore(spark, path, delKeys.toDF("id"), Seq("id"))
    val out = IO.readPartitionedStore(spark, path).as[(Long, Double)].collect().toMap
    assert(!out.contains(5L) && !out.contains(17L) && out.size == 62)
    // pruning: untouched buckets byte-identical
    def bucketOf(f: String): Int =
      f.split(s"${IO.BucketCol}=")(1).split("/")(0).toInt
    val untouchedAfter = files().filter { case (f, _) => !touched.contains(bucketOf(f)) }
    assert(untouchedAfter == before.filter { case (f, _) => !touched.contains(bucketOf(f)) })
    // empty a whole bucket: delete every id hashing to one bucket
    val b0 = (1 to 64).map(_.toLong).toDF("id")
      .withColumn("b", IO.bucketExpr(Seq("id"), nBuckets))
      .where(col("b") === 0).select("id")
    val b0Ids = b0.as[Long].collect().toSet
    assert(b0Ids.nonEmpty)
    IO.deleteFromPartitionedStore(spark, path, b0, Seq("id"))
    val out2 = IO.readPartitionedStore(spark, path).as[(Long, Double)].collect().toMap
    assert(out2.keySet.intersect(b0Ids).isEmpty)
    assert(out2.size == 62 - (b0Ids -- Set(5L, 17L)).size)
  }

  test("a delete whose keys are all NULL commits no version") {
    val path = s"$tmp/null_delete_store"
    IO.writePartitionedStore(
      (1 to 16).map(i => (i.toLong, i.toDouble)).toDF("id", "v"),
      path, Seq("id"), nBuckets = 4)
    // a NULL key never matches a row, so it touches no bucket
    IO.deleteFromPartitionedStore(spark, path,
      Seq(Option.empty[java.lang.Long], None).toDF("id"), Seq("id"))
    assert(IO.storeVersions(spark, path) == Seq(1))
    // mixed with a real key, only the real key's bucket is rewritten
    IO.deleteFromPartitionedStore(spark, path,
      Seq(Some(3L), None).toDF("id"), Seq("id"))
    assert(IO.storeVersions(spark, path) == Seq(1, 2))
    assert(IO.readPartitionedStore(spark, path).as[(Long, Double)].collect().toMap ==
      (1 to 16).filter(_ != 3).map(i => i.toLong -> i.toDouble).toMap)
  }

  test("a store write with AQE off still clusters each bucket into one file") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    val path = s"$tmp/no_aqe_store"
    val rows = noAqe.range(0, 400, 1, 8).select(col("id"), (col("id") * 2.0).as("v"))
    assert(rows.rdd.getNumPartitions >= 4)
    def filesPerBucket(): Map[String, Int] =
      Files.walk(Paths.get(path)).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .toSeq.groupBy(_.getParent.toString).view.mapValues(_.size).toMap
    IO.writePartitionedStore(rows, path, Seq("id"), nBuckets = 4)
    assert(filesPerBucket().size == 4 && filesPerBucket().values.forall(_ == 1),
      s"build: ${filesPerBucket()}")
    // a rewrite through the commit loop, from the same AQE-off session
    IO.upsertPartitionedStore(noAqe, path,
      noAqe.range(0, 400, 1, 8).select(col("id"), lit(-1.0).as("v")), Seq("id"), Seq("v"))
    assert(filesPerBucket().values.forall(_ == 1), s"upsert: ${filesPerBucket()}")
  }

  test("store mutations release every checkpoint they pin") {
    import graft.llm.{Ann, Bm25Store}
    def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def leaves(op: String)(body: => Unit): Unit = {
      val before = persisted()
      body
      assert((persisted() -- before).isEmpty, s"$op left pinned RDDs behind")
    }
    val kv = s"$tmp/release_kv_store"
    IO.writePartitionedStore(
      (1 to 32).map(i => (i.toLong, i.toDouble)).toDF("id", "v"), kv, Seq("id"), nBuckets = 4)
    leaves("upsertPartitionedStore")(IO.upsertPartitionedStore(spark, kv,
      Seq((3L, 30.0), (99L, 1.0)).toDF("id", "v"), Seq("id"), Seq("v")))
    leaves("deleteFromPartitionedStore")(IO.deleteFromPartitionedStore(spark, kv,
      Seq(4L, 5L).toDF("id"), Seq("id")))
    val bm = s"$tmp/release_bm25_store"
    Bm25Store.write((1 to 12).map(i => (i.toLong, s"doc $i about item ${i % 3}"))
      .toDF("doc_id", "text"), bm, termBuckets = 4)
    leaves("Bm25Store.upsert")(Bm25Store.upsert(
      Seq((2L, "edited item text"), (50L, "new doc")).toDF("doc_id", "text"), bm))
    leaves("Bm25Store.delete")(Bm25Store.delete(spark, bm, Seq(3L, 50L).toDF("doc_id")))
    val emb = Tables.embeddings(spark, sf)
    val vs = s"$tmp/release_ivfpq_store"
    IO.deletePath(vs)
    Ann.writeIvfPqStore(emb, vs)
    leaves("Ann.upsertVectorStore")(Ann.upsertVectorStore(emb.where("vec_id < 4"), vs))
    leaves("Ann.deleteFromVectorStore")(Ann.deleteFromVectorStore(spark, vs,
      emb.where("vec_id >= 4 and vec_id < 8").select("vec_id")))
  }

  test("storeChangeFeed: net CDC between versions — inserts, updates as " +
       "pre/post image pairs, deletes; unchanged rows in rewritten buckets " +
       "emit nothing") {
    val path = s"$tmp/cdc_store"
    IO.writePartitionedStore(
      (1 to 32).map(i => (i.toLong, s"n$i", i.toDouble)).toDF("id", "name", "v"),
      path, Seq("id"), nBuckets = 4)
    // v2: update v of 3 (same bucket carries other, unchanged rows), insert 100
    IO.upsertPartitionedStore(spark, path,
      Seq((3L, "ignored", 300.0), (100L, "hundred", 1.0)).toDF("id", "name", "v"),
      Seq("id"), Seq("v"))
    // v3: delete 7
    IO.deleteFromPartitionedStore(spark, path, Seq(7L).toDF("id"), Seq("id"))
    val feed12 = IO.storeChangeFeed(spark, path, 1, 2, Seq("id"))
      .as[(String, Long, String, Double)].collect().toSet
    assert(feed12 == Set(
      ("update_preimage", 3L, "n3", 3.0),
      ("update_postimage", 3L, "n3", 300.0), // updateCols=v only: name retained
      ("insert", 100L, "hundred", 1.0)))
    val feed23 = IO.storeChangeFeed(spark, path, 2, 3, Seq("id"))
      .as[(String, Long, String, Double)].collect().toSet
    assert(feed23 == Set(("delete", 7L, "n7", 7.0)))
    // net range diff: insert→survives, update→collapsed, delete→emitted
    val feed13 = IO.storeChangeFeed(spark, path, 1, 3, Seq("id"))
      .as[(String, Long, String, Double)].collect().toSet
    assert(feed13 == Set(
      ("update_preimage", 3L, "n3", 3.0),
      ("update_postimage", 3L, "n3", 300.0),
      ("insert", 100L, "hundred", 1.0),
      ("delete", 7L, "n7", 7.0)))
    // identical versions: empty feed, nothing scanned
    assert(IO.storeChangeFeed(spark, path, 2, 2, Seq("id")).isEmpty)
    // consumer round-trip: applying the net feed to a v1 mirror yields
    // exactly v3 — CDC apply is the inverse of the diff
    val applied = IO.applyChangeFeed(
        IO.readPartitionedStoreAt(spark, path, 1),
        IO.storeChangeFeed(spark, path, 1, 3, Seq("id")), Seq("id"))
      .as[(Long, String, Double)].collect().toSet
    val v3 = IO.readPartitionedStoreAt(spark, path, 3)
      .as[(Long, String, Double)].collect().toSet
    assert(applied == v3)
  }

  test("merge clauses: conditional update/delete, conditional insert, " +
       "not-matched-by-source delete; NULL conditions never fire") {
    import graft.io.IO.MergeClauses
    val target = Seq((1, 10.0, "keep"), (2, 20.0, "upd"), (3, 30.0, "del"),
      (4, 40.0, "stale"), (5, 50.0, Option.empty[String].orNull))
      .toDF("id", "v", "tag")
    val source = Seq((2, 99.0), (3, -1.0), (5, 77.0), (6, 60.0), (7, -7.0))
      .toDF("id", "v")
    val out = IO.merge(target, source, Seq("id"), MergeClauses(
        updateCols = Seq("v"),
        updateCondition = Some(col("t.tag") === "upd"),
        deleteCondition = Some(col("s.v") < 0),
        insertCondition = Some(col("s.v") > 0),
        deleteNotMatchedBySource = true))
      .as[(Int, Double, Option[String])].collect().toSet
    assert(out == Set(
      (2, 99.0, Some("upd")),   // matched + update condition → updated
      (5, 50.0, None),          // matched, update cond NULL (tag null) → kept as-is
      (6, 60.0, None)))         // not matched + insert condition → inserted
    // 1: not matched by source → deleted; 3: delete condition → deleted;
    // 4: not matched by source → deleted; 7: insert condition false → skipped
    // clause order: delete checked before update (id=3 had both)
    val both = IO.merge(target, source, Seq("id"), MergeClauses(
        updateCols = Seq("v"),
        deleteCondition = Some(col("s.v") < 0)))
      .as[(Int, Double, Option[String])].collect()
      .map { case (i, v, _) => i -> v }.toMap
    assert(!both.contains(3) && both(2) == 99.0 && both(1) == 10.0)
  }

  test("schema evolution: new source columns widen the merge output; " +
       "matched rows take the value, unmatched target rows read NULL") {
    val target = Seq((1, 10.0), (2, 20.0)).toDF("id", "v")
    val source = Seq((2, 99.0, "b2"), (3, 30.0, "b3")).toDF("id", "v", "w")
    val out = IO.upsert(target, source, Seq("id"), Seq("v"), evolveSchema = true)
      .as[(Int, Double, Option[String])].collect().toSet
    assert(out == Set(
      (1, 10.0, None),        // unmatched target: new column NULL
      (2, 99.0, Some("b2")),  // matched: update col + evolved col
      (3, 30.0, Some("b3")))) // insert carries the evolved col
    // without the flag, evolution is refused by the narrower projection
    val legacy = IO.upsert(target, source, Seq("id"), Seq("v"))
    assert(legacy.columns.toSeq == Seq("id", "v"))
  }

  test("schema evolution in the partitioned store: untouched generations " +
       "read back as NULL; time travel keeps the pre-evolution schema") {
    val path = s"$tmp/evolve_store"
    IO.writePartitionedStore(
      (1 to 32).map(i => (i.toLong, i.toDouble)).toDF("id", "v"),
      path, Seq("id"), nBuckets = 4)
    IO.upsertPartitionedStore(spark, path,
      Seq((3L, 300.0, "tag3"), (100L, 1.0, "tag100")).toDF("id", "v", "w"),
      Seq("id"), Seq("v"), evolveSchema = true)
    val cur = IO.readPartitionedStore(spark, path)
    assert(cur.columns.toSeq.sorted == Seq("id", "v", "w"))
    val m = cur.as[(Long, Double, Option[String])].collect()
      .map { case (i, v, w) => i -> ((v, w)) }.toMap
    assert(m(3L) == ((300.0, Some("tag3"))))
    assert(m(100L) == ((1.0, Some("tag100"))))
    // a row in an untouched bucket predates the column entirely
    assert(m.size == 33 && m.exists(_._2._2.isEmpty))
    // time travel: v1 has no `w` — old generations were never rewritten
    assert(!IO.readPartitionedStoreAt(spark, path, 1).columns.contains("w"))
    // change feed across the evolved boundary: preimages read NULL for `w`
    val feed = IO.storeChangeFeed(spark, path, 1, 2, Seq("id"))
      .as[(String, Long, Double, Option[String])].collect().toSet
    assert(feed == Set(
      ("update_preimage", 3L, 3.0, None),
      ("update_postimage", 3L, 300.0, Some("tag3")),
      ("insert", 100L, 1.0, Some("tag100"))))
  }

  test("optimistic concurrency: a merge that loses the commit race retries " +
       "against the winner's version — both writers' effects serialize") {
    val path = s"$tmp/occ_store"
    IO.writePartitionedStore(
      (1 to 32).map(i => (i.toLong, i.toDouble)).toDF("id", "v"),
      path, Seq("id"), nBuckets = 8)
    // writer A computes its merge against v1; in A's pre-CLAIM window a
    // competing writer B runs a FULL merge (B commits v2 first). A's
    // claim check must then detect the lost race and retry against v2.
    val competed = new java.util.concurrent.atomic.AtomicBoolean(false)
    IO.upsertPartitionedStoreImpl(spark, path,
      Seq((3L, 300.0), (100L, 1.0)).toDF("id", "v"), Seq("id"), Seq("v"),
      beforeCommit = () => (),
      beforeClaim = () =>
        if (competed.compareAndSet(false, true)) {
          IO.upsertPartitionedStore(spark, path,
            Seq((5L, 500.0), (200L, 2.0)).toDF("id", "v"), Seq("id"), Seq("v"))
        })
    val out = IO.readPartitionedStore(spark, path)
      .as[(Long, Double)].collect().toMap
    // BOTH merges landed, serialized B then A
    assert(out(3L) == 300.0 && out(100L) == 1.0, "loser's merge must land on retry")
    assert(out(5L) == 500.0 && out(200L) == 2.0, "winner's merge must survive")
    assert(out.size == 34)
    assert(IO.storeVersions(spark, path) == Seq(1, 2, 3))
    // time travel shows the serialization order: v2 = B only, v3 = B + A
    val v2 = IO.readPartitionedStoreAt(spark, path, 2)
      .as[(Long, Double)].collect().toMap
    assert(v2(5L) == 500.0 && !v2.contains(100L))
  }

  test("routed ops re-locate on a lost race: a key MOVED by the winning " +
       "writer is neither resurrected nor duplicated by the loser's retry") {
    val path = s"$tmp/occ_routed_store"
    // trusted-routing store: bucket is a layout column, NOT a key hash —
    // key 3 starts in bucket 0
    IO.writePartitionedStore(
      (1 to 8).map(i => (i.toLong, i.toDouble, (i - 1) / 4)).toDF("id", "v", IO.BucketCol),
      path, Seq("id"), nBuckets = 4)
    def locate(ids: Set[Long]) = () =>
      IO.readPartitionedStore(spark, path)
        .where(col("id").isin(ids.toSeq: _*))
        .select(col("id"),
          // re-derive the routing from current content: v decides the bucket
          when(col("v") >= 100.0, lit(3))
            .otherwise(floor((col("id") - 1) / 4).cast("int"))
            .as(IO.BucketCol))
    // loser = routed DELETE of key 3; in its pre-claim window the winner
    // MOVES key 3 to bucket 3 (delete old + reinsert with v=300 routed
    // to bucket 3, one routed-upsert commit). Without the per-attempt
    // re-locate, the loser's retry would anti-join only key 3's OLD
    // bucket and the moved row would survive the delete.
    val competed = new java.util.concurrent.atomic.AtomicBoolean(false)
    IO.routedRewrite(spark, path, locate(Set(3L)), None, Seq("id"),
      beforeClaim = () =>
        if (competed.compareAndSet(false, true)) {
          IO.routedRewrite(spark, path, locate(Set(3L)),
            Some(Seq((3L, 300.0)).toDF("id", "v")
              .withColumn(IO.BucketCol, lit(3))),
            Seq("id"))
        })
    val out = IO.readPartitionedStore(spark, path)
      .as[(Long, Double)].collect().toMap
    assert(!out.contains(3L),
      s"moved key resurrected after the lost-race retry: $out")
    assert(out.size == 7, s"wrong survivor set: $out")
    // serialization visible in history: v2 = winner's move, v3 = delete
    assert(IO.storeVersions(spark, path) == Seq(1, 2, 3))
    val v2 = IO.readPartitionedStoreAt(spark, path, 2)
      .as[(Long, Double)].collect().toMap
    assert(v2(3L) == 300.0, s"winner's move missing at v2: $v2")
  }

  test("optimistic concurrency: a stale claim lock from a crashed writer " +
       "is broken and the merge proceeds") {
    import org.apache.hadoop.fs.{Path => HPath}
    val path = s"$tmp/stale_claim_store"
    IO.writePartitionedStore(
      (1 to 16).map(i => (i.toLong, i.toDouble)).toDF("id", "v"),
      path, Seq("id"), nBuckets = 4)
    // simulate a claimant that died mid-commit: lock for v2 exists with an
    // mtime far past the lease
    val lockPath = new HPath(path, "_graft_manifests/v2.lock")
    val fs = lockPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lockPath, false)
    out.write("dead-writer".getBytes("UTF-8")); out.close()
    fs.setTimes(lockPath, System.currentTimeMillis() - IO.ClaimLeaseMs - 60000, -1)
    IO.upsertPartitionedStore(spark, path,
      Seq((3L, 300.0)).toDF("id", "v"), Seq("id"), Seq("v"))
    val res = IO.readPartitionedStore(spark, path)
      .as[(Long, Double)].collect().toMap
    assert(res(3L) == 300.0 && res.size == 16)
    assert(IO.storeVersions(spark, path) == Seq(1, 2))
  }

  test("compactPartitionedStore: appends fragment buckets across " +
       "generations; compaction collapses only those, content identical") {
    val path = s"$tmp/compact_store"
    IO.writePartitionedStore(
      (1 to 32).map(i => (i.toLong, i.toDouble)).toDF("id", "v"),
      path, Seq("id"), nBuckets = 4)
    // two appends: every touched bucket accumulates delta generations
    IO.appendPartitionedStore(spark, path,
      Seq((101L, 1.0), (102L, 2.0)).toDF("id", "v"), Seq("id"))
    IO.appendPartitionedStore(spark, path,
      Seq((103L, 3.0)).toDF("id", "v"), Seq("id"))
    val before = IO.readPartitionedStore(spark, path)
      .as[(Long, Double)].collect().toSet
    def gensPerBucket(): Map[Int, Int] = {
      val v = IO.storeVersions(spark, path).last
      spark.read.text(s"$path/_graft_manifests/v$v").collect()
        .map(_.getString(0).split('\t')).map(a => a(0).toInt -> a(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.length).toMap
    }
    assert(gensPerBucket().values.max > 1, "appends should fragment buckets")
    IO.compactPartitionedStore(spark, path)
    assert(gensPerBucket().values.max == 1, "compaction must collapse generations")
    val after = IO.readPartitionedStore(spark, path)
      .as[(Long, Double)].collect().toSet
    assert(after == before)
    // the compaction commit emits NO change events: rows are identical
    val vs = IO.storeVersions(spark, path)
    assert(IO.storeChangeFeed(spark, path, vs(vs.length - 2), vs.last,
      Seq("id")).isEmpty)
    // already compact: a second call is a no-op commit-wise
    val v0 = IO.storeVersions(spark, path).last
    IO.compactPartitionedStore(spark, path)
    assert(IO.storeVersions(spark, path).last == v0)
  }

  test("syncMirror: cursor-tracked incremental sync; multi-commit catch-up; " +
       "no-op when current; full-resync fallback after vacuum") {
    val store = s"$tmp/mirror_store"
    val mirror = s"$tmp/mirror_copy"
    IO.deletePath(mirror)
    IO.deletePath(mirror + ".__graft_tmp")
    IO.writePartitionedStore(
      (1 to 32).map(i => (i.toLong, i.toDouble)).toDF("id", "v"),
      store, Seq("id"), nBuckets = 8)
    def mirrorSet() = spark.read.parquet(mirror).as[(Long, Double)].collect().toSet
    def storeSet() = IO.readPartitionedStore(spark, store)
      .as[(Long, Double)].collect().toSet
    // first sync: full snapshot
    assert(IO.syncMirror(spark, store, mirror, Seq("id")) == 1)
    assert(mirrorSet() == storeSet())
    // two commits, one catch-up
    IO.upsertPartitionedStore(spark, store,
      Seq((3L, 300.0), (500L, 5.0)).toDF("id", "v"), Seq("id"), Seq("v"))
    IO.deleteFromPartitionedStore(spark, store, Seq(7L).toDF("id"), Seq("id"))
    assert(IO.syncMirror(spark, store, mirror, Seq("id")) == 3)
    assert(mirrorSet() == storeSet())
    // caught up: no-op (mirror files untouched)
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def files() = Files.walk(Paths.get(mirror)).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    val before = files()
    assert(IO.syncMirror(spark, store, mirror, Seq("id")) == 3)
    assert(files() == before)
    // vacuum trims the cursor's manifest → next sync falls back to a full
    // snapshot and still converges
    IO.upsertPartitionedStore(spark, store,
      Seq((9L, 900.0)).toDF("id", "v"), Seq("id"), Seq("v"))
    IO.vacuumPartitionedStore(spark, store)
    assert(IO.storeVersions(spark, store) == Seq(4))
    assert(IO.syncMirror(spark, store, mirror, Seq("id")) == 4)
    assert(mirrorSet() == storeSet())
    // schema evolution crosses the incremental path: the feed carries the
    // new column and the mirror must gain it (not project it away)
    IO.upsertPartitionedStore(spark, store,
      Seq((3L, 333.0, "tag")).toDF("id", "v", "w"),
      Seq("id"), Seq("v"), evolveSchema = true)
    assert(IO.syncMirror(spark, store, mirror, Seq("id")) == 5)
    val evolved = spark.read.parquet(mirror)
    assert(evolved.columns.contains("w"), "mirror dropped the evolved column")
    val em = evolved.as[(Long, Double, Option[String])].collect()
      .map { case (i, v, w) => i -> ((v, w)) }.toMap
    assert(em(3L) == ((333.0, Some("tag"))))
    assert(em.size.toLong == IO.readPartitionedStore(spark, store).count())
    assert(em(1L)._2.isEmpty)
    // a later commit touching ONLY pre-evolution buckets yields a feed
    // without `w` — the incremental apply must keep the mirror's existing
    // `w` values, not project them away (two-way union alignment)
    val b3 = Seq(3L).toDF("id")
      .select(IO.bucketExpr(Seq("id"), 8).as("b")).as[Int].head()
    val otherKey = evolved.select("id")
      .withColumn("b", IO.bucketExpr(Seq("id"), 8))
      .where(col("b") =!= b3 && col("id") =!= 3L)
      .select("id").as[Long].head()
    IO.deleteFromPartitionedStore(spark, store, Seq(otherKey).toDF("id"), Seq("id"))
    assert(IO.syncMirror(spark, store, mirror, Seq("id")) == 6)
    val after = spark.read.parquet(mirror)
    assert(after.columns.contains("w"), "pre-evolution-bucket commit dropped w")
    val am = after.as[(Long, Double, Option[String])].collect()
      .map { case (i, v, w) => i -> ((v, w)) }.toMap
    assert(am(3L) == ((333.0, Some("tag"))), "evolved value lost on later sync")
    assert(!am.contains(otherKey))
  }

  test("writePartitionedStore: bucket-clustered write — bounded file count, " +
       "never tasks x buckets") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val path = s"$tmp/fanout_store"
    val nBuckets = 16
    // many input partitions, every partition holding rows of every bucket —
    // the worst case for a naive partitionBy write (ntasks x nBuckets files;
    // measured 2k files / 22 s for a 4k-row store before the rebalance fix)
    val wide = spark.range(0, 2048, 1, 32)
      .selectExpr("id", "cast(id as string) as payload")
    IO.writePartitionedStore(wide.toDF(), path, Seq("id"), nBuckets)
    val nFiles = Files.walk(Paths.get(path)).iterator().asScala
      .count(_.toString.endsWith(".parquet"))
    // one file per bucket (2x is slack; 32 tasks x 16 buckets = 512 is
    // the regression this guards against)
    assert(nFiles <= nBuckets * 2, s"small-file fanout regressed: $nFiles files")
    assert(IO.readPartitionedStore(spark, path).count() == 2048)
  }

  test("raw-text sink roundtrip: a NULL text row survives the oracle " +
       "compare (coalesced to '' symmetrically on both sides)") {
    // the text source writes a NULL row as an empty line and reads it back
    // as "" — the s10_text_roundtrip query coalesces BEFORE the sink and
    // its DuckDB oracle projects coalesce(text, ''), so a null-bearing
    // fixture regeneration cannot split the engines. This pins the rule
    // with an actual null row (the current fixture is null-free).
    val docs = Seq((1L, "alpha"), (2L, null.asInstanceOf[String]), (3L, ""))
      .toDF("doc_id", "text")
    val out = s"$tmp/null_text_sink"
    docs.select(coalesce(col("text"), lit("")).as("text"))
      .write.mode("overwrite").text(out)
    val back = spark.read.text(out).withColumnRenamed("value", "text")
      .as[String].collect().sorted.toSeq
    // what the oracle computes on the same rows
    val oracle = docs.select(coalesce(col("text"), lit("")).as("text"))
      .as[String].collect().sorted.toSeq
    assert(back == oracle, s"roundtrip $back != oracle $oracle")
    assert(back.count(_ == "") == 2, "null and empty must both read back as ''")
  }

  test("merge fails fast on a dup-keyed source — SQL MERGE multi-match, " +
       "never a silent fan-out") {
    val target = Seq((1, "one", 10.0), (2, "two", 20.0)).toDF("id", "name", "price")
    val dupSrc = Seq((2, "A", 1.0), (2, "B", 2.0)).toDF("id", "name", "price")
    val e = intercept[Exception] {
      IO.upsert(target, dupSrc, Seq("id"), Seq("price")).collect()
    }
    assert(e.getMessage.contains("multiple rows"), e.getMessage)
    val e2 = intercept[Exception] {
      IO.merge(target, dupSrc, Seq("id"),
        IO.MergeClauses(updateCols = Seq("price"))).collect()
    }
    assert(e2.getMessage.contains("multiple rows"), e2.getMessage)
    // dup keys among the INSERT side (no target match) are equally fatal:
    // both copies would insert and break downstream key uniqueness
    val dupNew = Seq((7, "X", 1.0), (7, "Y", 2.0)).toDF("id", "name", "price")
    val e3 = intercept[Exception] {
      IO.upsert(target, dupNew, Seq("id"), Seq("price")).collect()
    }
    assert(e3.getMessage.contains("multiple rows"), e3.getMessage)
    // an explicitly deduped source (last-writer-wins chosen by the caller)
    // sails through — the guard only rejects the ambiguous case
    val out = IO.upsert(target, dupSrc.dropDuplicates("id"), Seq("id"), Seq("price"))
      .as[(Int, String, Double)].collect().toSet
    assert(out.map(_._1) == Set(1, 2) && out.size == 2)
  }

  test("plain upsert admits NULL-key source rows as inserts (SQL MERGE: " +
       "NULL never matches), and the guard analyzes for array-typed keys") {
    val target = Seq((Some(1L), 10.0)).toDF("id", "v")
    // two NULL-key rows are NOT a multi-match — neither can pair with any
    // target row; both insert (the uniqueness window exempts NULL keys)
    val src = Seq((None: Option[Long], 1.0), (None: Option[Long], 2.0),
      (Some(1L), 11.0)).toDF("id", "v")
    val out = IO.upsert(target, src, Seq("id"), Seq("v"))
      .as[(Option[Long], Double)].collect()
    assert(out.length == 3 && out.count(_._1.isEmpty) == 2)
    assert(out.find(_._1.contains(1L)).map(_._2).contains(11.0))
    // an array-typed merge key must ANALYZE (the guard renders the key via
    // to_json — a string cast of an array key fails analysis outright)
    val t2 = Seq((Array(1L, 2L), "a")).toDF("k", "v")
    val s2 = Seq((Array(1L, 2L), "b"), (Array(3L), "c")).toDF("k", "v")
    val merged = IO.upsert(t2, s2, Seq("k"), Seq("v"), broadcastSource = false)
      .as[(Array[Long], String)].collect()
      .map { case (k, v) => k.toSeq -> v }.toMap
    assert(merged == Map(Seq(1L, 2L) -> "b", Seq(3L) -> "c"))
    // ... and still raises on a genuine array-key dup
    val dup = Seq((Array(9L), "x"), (Array(9L), "y")).toDF("k", "v")
    val e = intercept[Exception] {
      IO.upsert(t2, dup, Seq("k"), Seq("v"), broadcastSource = false).collect()
    }
    assert(e.getMessage.contains("multiple rows"), e.getMessage)
  }

  test("partitioned store rejects NULL merge keys at the boundary " +
       "(uniqueness can never hold for them)") {
    val path = s"$tmp/nullkey_store"
    IO.deletePath(path)
    val ok = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    IO.writePartitionedStore(ok, path, Seq("id"), 4)
    val withNull = Seq((Some(3L), 30.0), (None, 99.0)).toDF("id", "v")
    val e = intercept[Exception] {
      IO.upsertPartitionedStore(spark, path, withNull, Seq("id"), Seq("v"))
    }
    assert(e.getMessage.contains("NULL merge key"), e.getMessage)
    val e2 = intercept[Exception] {
      IO.appendPartitionedStore(spark, path, withNull, Seq("id"))
    }
    assert(e2.getMessage.contains("NULL merge key"), e2.getMessage)
    // the failed attempts committed nothing
    assert(IO.readPartitionedStore(spark, path).count() == 2)
  }

  test("trusted routing column: an out-of-range or NULL caller-supplied " +
       "__graft_bucket fails the write instead of poisoning reads") {
    // a bad trusted bucket would not fail on its own — it would land rows
    // where no keyed merge or pruned read ever looks (silent data loss),
    // so the range guard must turn it into a write-time error
    val path = s"$tmp/trusted_bucket_store"
    IO.deletePath(path)
    val ok = Seq((1L, 1.0, 0), (2L, 2.0, 3)).toDF("id", "v", IO.BucketCol)
    IO.writePartitionedStore(ok, path, Seq("id"), nBuckets = 4)
    assert(IO.readPartitionedStore(spark, path).count() == 2)
    val tooBig = Seq((3L, 3.0, 4)).toDF("id", "v", IO.BucketCol)
    val e = intercept[Exception] {
      IO.appendPartitionedStore(spark, path, tooBig, Seq("id"))
    }
    assert(e.getMessage.contains("out of range"), e.getMessage)
    val nullBucket = Seq((Some(4L), 4.0, None: Option[Int]))
      .toDF("id", "v", IO.BucketCol)
    val e2 = intercept[Exception] {
      IO.appendPartitionedStore(spark, path, nullBucket, Seq("id"))
    }
    assert(e2.getMessage.contains("out of range"), e2.getMessage)
    // failed appends committed nothing
    assert(IO.readPartitionedStore(spark, path).count() == 2)
  }

  test("applyChangeFeed removes NULL-key rows null-safely (a delete feed " +
       "event matches a NULL-key mirror row)") {
    // mirror/feed arrive from ARBITRARY frames (the public consumer API) —
    // the store itself rejects NULL keys, but the apply must still honor
    // the null-safe pairing rule the feed's own diff join uses
    val mirror = Seq((Some(1L), "a"), (None, "stale")).toDF("id", "v")
    val feed = Seq(
      ("delete", None: Option[Long], "stale"),
      ("insert", Some(2L): Option[Long], "b"))
      .toDF("_change_type", "id", "v")
    val out = IO.applyChangeFeed(mirror, feed, Seq("id"))
      .as[(Option[Long], String)].collect().toSet
    assert(out == Set((Some(1L), "a"), (Some(2L), "b")),
      s"NULL-key delete not applied: $out")
  }

  test("cloneStore: O(files) hardlink clone reads identically with the " +
       "same history; mutating (and vacuuming) the clone leaves the " +
       "source byte-identical") {
    val src = s"$tmp/clone_src"
    val dst = s"$tmp/clone_dst"
    IO.deletePath(src); IO.deletePath(dst)
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
    IO.writePartitionedStore(df, src, Seq("k"), nBuckets = 8)
    IO.appendPartitionedStore(spark, src,
      Seq((101L, "v101")).toDF("k", "v"), Seq("k"))
    IO.cloneStore(spark, src, dst)
    val srcRows = IO.readPartitionedStore(spark, src)
      .as[(Long, String)].collect().toSet
    assert(IO.readPartitionedStore(spark, dst)
      .as[(Long, String)].collect().toSet == srcRows)
    assert(IO.storeVersions(spark, dst) == IO.storeVersions(spark, src),
      "the clone must carry the full committed history")
    val srcVersions = IO.storeVersions(spark, src)
    // mutate the clone: keyed delete + upsert, then VACUUM it — vacuum
    // unlinks the clone's own directory entries; shared inodes must
    // survive for the source (the hardlink-safety claim)
    IO.deleteFromPartitionedStore(spark, dst,
      Seq(1L, 2L).toDF("k"), Seq("k"))
    IO.upsertPartitionedStore(spark, dst,
      Seq((3L, "CHANGED")).toDF("k", "v"), Seq("k"), Seq("v"))
    IO.vacuumPartitionedStore(spark, dst, orphanGraceMs = 0L)
    assert(IO.storeVersions(spark, src) == srcVersions,
      "mutating the clone must not advance the source's history")
    assert(IO.readPartitionedStore(spark, src)
      .as[(Long, String)].collect().toSet == srcRows,
      "the source must read byte-identical after the clone mutated")
    val mutated = IO.readPartitionedStore(spark, dst)
      .as[(Long, String)].collect().toMap
    assert(!mutated.contains(1L) && !mutated.contains(2L) &&
      mutated(3L) == "CHANGED" && mutated(101L) == "v101")

    // linking discipline: immutable parquet data shares inodes (that is
    // the O(files) claim); CONTROL files do not — manifests and sidecars
    // are overwritten IN PLACE by later maintenance (fs.create truncates
    // the inode), so a hardlinked one would let either store silently
    // rewrite the other's
    import java.nio.file.{Files, Paths}
    val dst2 = s"$tmp/clone_dst2"
    IO.deletePath(dst2)
    IO.cloneStore(spark, src, dst2)
    assert(!Files.isSameFile(Paths.get(src, "_graft_buckets"),
      Paths.get(dst2, "_graft_buckets")),
      "control files must be copied, never hardlinked")
    val srcWalk = Files.walk(Paths.get(src)) // must close — holds dir handles
    val srcData =
      try srcWalk.filter(p =>
        p.toString.contains(IO.GenCol + "=") && p.toString.endsWith(".parquet"))
        .findFirst().get()
      finally srcWalk.close()
    val rel = Paths.get(src).relativize(srcData)
    assert(Files.isSameFile(srcData, Paths.get(dst2).resolve(rel)),
      "immutable data files should hardlink (O(files), zero bytes moved)")
    // self/nested-clone guard: the target must be disjoint from the source
    intercept[IllegalArgumentException] { IO.cloneStore(spark, src, src) }
    intercept[IllegalArgumentException] {
      IO.cloneStore(spark, src, s"$src/nested")
    }
  }
}
