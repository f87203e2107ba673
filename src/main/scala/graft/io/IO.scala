package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import org.apache.spark.sql.graftshim.Shim
import graft.obs

/** IO layer: schema-declared CSV scan (S2, ref `01_Feature
  * Engineering.py:62-65`), overwrite parquet sink (S3, `01:67-72` minus the
  * Delta transport), and the MERGE-equivalent upsert (S5, `03_Train & Deploy
  * Model.py:481-495`).
  *
  * Scale notes: the CSV reader keeps the schema explicit (no inference pass
  * over 100 TB); the upsert is a single left-outer join + left-anti join —
  * both shuffle on the merge key once, broadcastable when the source delta is
  * small, and the atomic swap never rewrites unmatched files' *content*
  * (row-identical output is verified in `IOSpec`).
  */
object IO {

  /** S2 — CSV scan with an explicitly declared schema, never inferred. */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true, sep: String = ","): DataFrame =
    spark.read.schema(schema).option("header", header.toString)
      .option("sep", sep).csv(path)

  /** S3 — overwrite sink. Parquet stands in for Delta (dependency absent
    * offline — SURVEY §7.6); `overwriteSchema` is implicit in a parquet
    * overwrite. */
  def writeOverwrite(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Bucketed write: co-locate a table on its join key so repeated joins
    * and aggregations on that key skip the shuffle entirely (bucket
    * pruning + bucketed scan). Bucketing requires the catalog
    * (`saveAsTable`), not a bare path. At 100 TB this is the difference
    * between re-shuffling the fact table per query and shuffling once at
    * write time. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(table)

  /** Fail-fast guard on the MERGE source's key uniqueness: SQL MERGE (and
    * every table format's MERGE) raises when multiple source rows match
    * one target row, because the left-outer join would otherwise fan each
    * matched target row out once per source match — and a dup-keyed
    * source fed to the partitioned store would silently corrupt its
    * key-uniqueness invariant. The check is embedded IN the plan (a
    * window count over the merge keys, raised through the first key
    * column so pruning can never drop it): no extra job, one exchange on
    * the same keys the join shuffles on, and the delta side is the small
    * one by construction. Callers that want last-writer-wins semantics
    * dedupe explicitly (`dropDuplicates(keys)`) before calling — an
    * explicit winner beats a silent fan-out.
    *
    * NULL-bearing keys are EXEMPT from the guard: SQL equality never
    * matches a NULL, so two NULL-key source rows can never multi-match
    * one target row — each is a plain insert (the window still groups
    * them together, but the guarded count skips them). The error message
    * renders the key via `to_json` — a plain string cast would fail
    * analysis outright for array/struct-typed keys, even on dup-free
    * sources. */
  private[graft] def requireUniqueSourceKeys(source: DataFrame,
                                             keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = "__graft_src_keycnt"
    val k0 = keys.head
    val kType = source.schema(k0).dataType
    val allKeysNonNull = keys.map(col(_).isNotNull).reduce(_ && _)
    source
      .withColumn(cnt, count(when(allKeysNonNull, lit(1)))
        .over(Window.partitionBy(keys.map(col): _*)))
      .withColumn(k0,
        when(col(cnt) > 1 && allKeysNonNull,
          raise_error(concat(
            lit("MERGE source has multiple rows for key "),
            to_json(struct(keys.map(col): _*)),
            lit(" — SQL MERGE forbids multi-match; dropDuplicates(keys) " +
              "the source to pick an explicit winner"))).cast(kType))
        .otherwise(col(k0)))
      .drop(cnt)
  }

  /** S5 — MERGE-equivalent upsert, pure DataFrame ops.
    *
    * Semantics of `03:486-494`: `WHEN MATCHED UPDATE SET` only `updateCols`
    * (all other target columns retained byte-identical), `WHEN NOT MATCHED
    * INSERT *`. Implemented as one left-outer join (matched rows pick source
    * values for `updateCols`) plus one left-anti join (new source rows),
    * `unionByName`'d. Source side is broadcast when small (typical for an
    * incremental upsert against a large target).
    */
  def upsert(target: DataFrame, source: DataFrame,
             keys: Seq[String], updateCols: Seq[String],
             broadcastSource: Boolean = true,
             evolveSchema: Boolean = false): DataFrame = {
    val matchFlag = "__graft_matched"
    // SCHEMA EVOLUTION (opt-in, Delta autoMerge-style): source columns the
    // target lacks widen the output schema. A new column has no target
    // value to retain, so it behaves as an implicit update column —
    // matched rows take the source value, unmatched target rows get NULL,
    // inserts carry it through.
    val newCols = if (evolveSchema)
      source.columns.filterNot(target.columns.contains).toSeq else Seq.empty
    val outCols = target.columns.toSeq ++ newCols
    // BOTH join passes read the guarded source: a dup-keyed source fans
    // out matched target rows through the update join AND double-inserts
    // through the anti-join, so the guard must sit upstream of both
    val checkedSource = requireUniqueSourceKeys(source, keys)
    val src = checkedSource.withColumn(matchFlag, lit(1))
    // broadcast the DELTA side only, and only when the caller says it is
    // small (the default incremental-upsert shape); a bulk merge of two
    // large tables passes false and gets a shuffled hash join on the key
    val srcSide = if (broadcastSource) broadcast(src.as("s")) else src.as("s")
    val joined = target.as("t").join(
      srcSide,
      keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _),
      "left_outer")
    val updated = joined.select((target.columns.map { c =>
      if (updateCols.contains(c))
        when(col(matchFlag).isNotNull, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)
      else col(s"t.$c").as(c)
    } ++ newCols.map(c => col(s"s.$c").as(c))).toSeq: _*)
    // No broadcast hint here: the anti-join's build side would be the TARGET
    // key set, which is the large table at scale (broadcasting it OOMs the
    // driver at 100 TB). Let the planner/AQE pick — with a small source and a
    // large target this resolves to a shuffled hash join keyed the same way
    // as the update join above, so the two passes share the exchange.
    val inserts = checkedSource
      .join(target.select(keys.map(col): _*), keys, "left_anti")
      .select(outCols.map(col): _*)
    updated.unionByName(inserts)
  }

  /** The full MERGE clause grammar, beyond [[upsert]]'s unconditional
    * matched-update / not-matched-insert pair. Conditions see both sides
    * through the `t`/`s` aliases (`col("t.x")`, `col("s.x")`), exactly
    * how SQL MERGE conditions reference target and source. */
  final case class MergeClauses(
      /** WHEN MATCHED [AND updateCondition] THEN UPDATE SET updateCols. */
      updateCols: Seq[String],
      updateCondition: Option[Column] = None,
      /** WHEN MATCHED AND deleteCondition THEN DELETE (checked BEFORE the
        * update clause, SQL clause-order semantics). */
      deleteCondition: Option[Column] = None,
      /** WHEN NOT MATCHED [AND insertCondition] THEN INSERT. */
      insertCondition: Option[Column] = None,
      /** WHEN NOT MATCHED BY SOURCE THEN DELETE — makes the target a full
        * mirror of the source's key set. NOTE the scale interplay: this
        * clause must examine EVERY target row, so it is incompatible with
        * the bucket-pruned store merge (which never reads untouched
        * buckets) — it exists at the DataFrame/path level only. */
      deleteNotMatchedBySource: Boolean = false)

  /** MERGE with the full clause grammar. One left-outer join drives every
    * matched/not-matched-by-source decision (same single-exchange shape
    * as [[upsert]]); the insert side is the same anti-join. */
  def merge(target: DataFrame, source: DataFrame, keys: Seq[String],
            clauses: MergeClauses, broadcastSource: Boolean = true): DataFrame = {
    val matchFlag = "__graft_matched"
    // same multi-match fail-fast as [[upsert]] — the clause grammar makes
    // a silent fan-out even worse (a fanned row can take BOTH an update
    // and a delete decision depending on which source row it paired with)
    val checkedSource = requireUniqueSourceKeys(source, keys)
    val src = checkedSource.withColumn(matchFlag, lit(1))
    val srcSide = if (broadcastSource) broadcast(src.as("s")) else src.as("s")
    val joined = target.as("t").join(
      srcSide,
      keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _),
      "left_outer")
    val matched = col(matchFlag).isNotNull
    // a NULL clause condition means the clause does NOT fire (SQL
    // three-valued semantics) — without the coalesce a matched row whose
    // delete condition evaluates NULL would vanish through the filter
    val deleteHit = coalesce(
      clauses.deleteCondition.map(c => matched && c).getOrElse(lit(false)),
      lit(false))
    val updateHit = coalesce(
      clauses.updateCondition.map(c => matched && c).getOrElse(matched) &&
        !deleteHit,
      lit(false))
    val dropUnmatchedTarget =
      if (clauses.deleteNotMatchedBySource) !matched else lit(false)
    val kept = joined
      .where(!deleteHit && !dropUnmatchedTarget)
      .select(target.columns.map { c =>
        if (clauses.updateCols.contains(c))
          when(updateHit, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)
        else col(s"t.$c").as(c)
      }.toSeq: _*)
    // the insert side carries the same `s` alias so insertCondition can
    // reference col("s.x") like the matched-clause conditions (t.* is
    // meaningless in a NOT MATCHED clause). Target columns the source
    // lacks insert as typed NULLs — SQL INSERT-with-column-list semantics
    val inserts = checkedSource.as("s")
      .where(clauses.insertCondition.getOrElse(lit(true)))
      .join(target.select(keys.map(col): _*), keys, "left_anti")
      .select(target.schema.fields.map { f =>
        if (source.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }.toSeq: _*)
    kept.unionByName(inserts)
  }

  /** Partition column used by the bucketed upsert store layout. */
  val BucketCol = "__graft_bucket"

  /** Generation column/directory prefix: each committed merge writes its
    * touched buckets under a fresh `__graft_gen=<v>-<nonce>/` directory,
    * and the manifest maps every bucket to the generation holding its
    * current files. The nonce makes the directory WRITER-UNIQUE: two
    * writers racing the same commit version can never clobber each
    * other's uncommitted data files — only the manifest commit decides,
    * and the loser's directory is unreachable garbage for vacuum. The
    * underscore-free name is deliberate Hive-partition syntax so
    * partition discovery types it for free; it is dropped on every
    * read. */
  val GenCol = "__graft_gen"

  private def newGenName(v: Int): String =
    s"$v-${java.util.UUID.randomUUID.toString.take(8)}"

  private def hfs(spark: SparkSession, path: String): (FileSystem, HPath) = {
    val p = new HPath(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private[graft] def writeSmallFile(fs: FileSystem, p: HPath, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private[graft] def readSmallFile(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def manifestDir(root: HPath) = new HPath(root, "_graft_manifests")

  /** Highest COMMITTED manifest version, i.e. the store's current state.
    * A manifest counts only once its `.committed` marker exists — the
    * marker's atomic create is the commit point, so a crash anywhere
    * before it leaves the previous version current and the half-written
    * generation unreachable garbage. */
  private[graft] def currentManifestVersion(fs: FileSystem, root: HPath): Option[Int] = {
    val dir = manifestDir(root)
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".committed"))
      .map(_.stripPrefix("v").stripSuffix(".committed").toInt)
      .maxOption
  }

  /** (bucket, generation-dir) pairs of manifest version `v`. A bucket may
    * appear with several generations (appends accumulate delta files,
    * LSM-style); an upsert collapses a touched bucket back to one. */
  private[graft] def readManifest(fs: FileSystem, root: HPath, v: Int): Seq[(Int, String)] =
    readSmallFile(fs, new HPath(manifestDir(root), s"v$v")).linesIterator
      .filter(_.nonEmpty).map { line =>
        val Array(b, g) = line.split('\t'); b.toInt -> g
      }.toSeq

  /** Write manifest version `v` (overwrite=true: a retry after a crash
    * that never committed `v` may legitimately rewrite it; the claim
    * lock makes live writers of the same `v` mutually exclusive). NOT
    * the commit — [[commitManifestVersion]] is. */
  private def writeManifestVersion(fs: FileSystem, root: HPath, v: Int,
                                   m: Seq[(Int, String)]): Unit =
    writeSmallFile(fs, new HPath(manifestDir(root), s"v$v"),
      m.distinct.sorted.map { case (b, g) => s"$b\t$g" }.mkString("\n"))

  /** THE commit point: atomically create the `.committed` marker.
    * `create(overwrite=false)` is atomic on HDFS and local filesystems;
    * on an object store without atomic create the equivalent is a
    * conditional PUT. */
  private def commitManifestVersion(fs: FileSystem, root: HPath, v: Int): Unit =
    fs.create(new HPath(manifestDir(root), s"v$v.committed"), false).close()

  private def isCommitted(fs: FileSystem, root: HPath, v: Int): Boolean =
    fs.exists(new HPath(manifestDir(root), s"v$v.committed"))

  /** How long a commit claim may sit unreleased before another writer may
    * break it as a crashed claimant's leftover. */
  private[graft] val ClaimLeaseMs: Long = 15L * 60 * 1000

  /** How long an UNREFERENCED generation directory survives vacuum — a
    * bound on writers' data-write→commit latency, deliberately much
    * larger than the claim lease (which only fences post-claim stalls). */
  private[graft] val OrphanRetentionMs: Long = 24L * 60 * 60 * 1000

  /** Optimistic-concurrency CLAIM of commit version `v`: atomically
    * create `v<v>.lock` (the same create-if-absent primitive as the
    * commit marker) and verify by read-back that the lock carries OUR
    * nonce. While a writer holds an unbroken claim, it is the only one
    * writing manifest `v` — that exclusivity is what lets the manifest
    * content file be rewritten with overwrite=true on a crashed-attempt
    * retry without racing a live peer. A claim older than `leaseMs` is
    * treated as a crashed writer's leftover and broken (delete +
    * re-create; the nonce read-back catches the narrow double-break
    * race). Best-effort by design for the crash case — the COMMIT
    * marker's atomic create remains the single serialization point, and
    * an object-store deployment replaces the whole protocol with a
    * conditional PUT per version (the standard public answer). */
  private def claimVersion(fs: FileSystem, root: HPath, v: Int,
                           leaseMs: Long): Option[String] = {
    val lock = lockPath(root, v)
    val nonce = java.util.UUID.randomUUID.toString
    def tryCreate(): Boolean = {
      val created =
        try { writeSmallFileAtomic(fs, lock, nonce); true }
        catch { case _: java.io.IOException => false }
      created && {
        // read-back: a concurrent lease-breaker may have clobbered us
        try readSmallFile(fs, lock) == nonce
        catch { case _: java.io.IOException =>
          // we created it but can't read it back — reclaim our own lock
          // rather than leaving an unreadable claim that stalls every
          // writer for the full lease
          fs.delete(lock, false); false
        }
      }
    }
    val claimed = tryCreate() || {
      val stale =
        try fs.getFileStatus(lock).getModificationTime <
          System.currentTimeMillis() - leaseMs
        catch {
          // ONLY a truly vanished lock counts as released — a transient
          // stat error (network blip, throttle) must NOT be read as
          // "stale" or this writer would break a LIVE peer's fresh claim
          // and collapse the lease to zero. On any other IOException the
          // claim is simply refused; the caller's optimistic loop retries.
          case _: java.io.FileNotFoundException => true // vanished: released
          case _: java.io.IOException => false
        }
      stale && { fs.delete(lock, false); tryCreate() }
    }
    if (claimed) Some(nonce) else None
  }

  private def lockPath(root: HPath, v: Int): HPath =
    new HPath(manifestDir(root), s"v$v.lock")

  /** True iff the claim lock for `v` still carries `nonce` — the fencing
    * re-check a lease-broken holder fails. Called immediately before the
    * manifest content write and again before the commit marker, so a
    * writer whose claim was broken (stalled past the lease) backs off
    * instead of clobbering the new holder's manifest. The residual window
    * is the instants between a check and its write — the documented
    * best-effort bound of any lease without server-side fencing; the
    * object-store deployment's conditional PUT closes it. */
  private def holdsClaim(fs: FileSystem, root: HPath, v: Int,
                         nonce: String): Boolean =
    try readSmallFile(fs, lockPath(root, v)) == nonce
    catch { case _: java.io.IOException => false }

  private def writeSmallFileAtomic(fs: FileSystem, p: HPath, content: String): Unit = {
    val out = fs.create(p, false) // create-if-absent: the atomic primitive
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def releaseClaim(fs: FileSystem, root: HPath, v: Int,
                           nonce: String): Unit =
    // release only OUR claim: after a lease break the lock belongs to the
    // breaker, and deleting it would cascade the very race it guards
    if (holdsClaim(fs, root, v, nonce))
      fs.delete(lockPath(root, v), false)

  private def bucketDir(path: String, g: String, b: Int): String =
    s"$path/$GenCol=$g/$BucketCol=$b"

  private def listPartDirs(fs: FileSystem, dir: HPath, prefix: String): Seq[Int] =
    fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(_.startsWith(prefix + "="))
      .map(_.stripPrefix(prefix + "=").toInt).toSeq

  /** Deterministic bucket id for a row: pmod(xxhash64(keys), nBuckets).
    * Pure key arithmetic — any writer/reader computes the same bucket, so a
    * merge knows which partitions a source row can possibly live in. */
  def bucketExpr(keys: Seq[String], nBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong)).cast("int")

  /** [[bucketExpr]] with the store-boundary NULL-key rejection folded in:
    * a NULL merge key can never be MATCHED by a later merge (SQL equality
    * never matches NULL), so a NULL-key row admitted once would duplicate
    * on every subsequent merge of the "same" key — silently breaking the
    * store's key-uniqueness invariant. Raised through the bucket column
    * itself so the guard is evaluated exactly where the row is first
    * materialized (the delta's localCheckpoint) and can never be pruned. */
  private def guardedBucketExpr(keys: Seq[String], nBuckets: Int): Column =
    nullKeyGuard(keys, bucketExpr(keys, nBuckets))

  /** Raise on any NULL merge key, otherwise pass `bucket` through —
    * shared by the derive-the-bucket path and the trusted-pre-bucketed
    * path (which must still validate keys: trusting the caller's BUCKET
    * arithmetic does not license admitting a NULL-key row the store can
    * never match again). */
  private def nullKeyGuard(keys: Seq[String], bucket: Column): Column =
    when(keys.map(col(_).isNull).reduce(_ || _),
      raise_error(lit(s"NULL merge key (${keys.mkString(", ")}) — the " +
        "partitioned store's key-uniqueness invariant cannot hold for NULL " +
        "keys; filter or coalesce them upstream")).cast("int"))
    .otherwise(bucket)

  /** Range validation for a TRUSTED caller-supplied [[BucketCol]]: a
    * value outside [0, nBuckets) (or NULL) would not fail the write — it
    * would silently file rows where manifest pruning and keyed merges
    * (which hash with [[storeBuckets]]) can never find them again, or
    * die later in directory-name parsing with an opaque cast error.
    * Raised through the bucket column itself, same pattern as
    * [[nullKeyGuard]], so the check can never be pruned away. */
  private def bucketRangeGuard(nBuckets: Int, bucket: Column): Column =
    when(bucket.isNull || bucket < 0 || bucket >= nBuckets,
      raise_error(concat(
        lit(s"trusted $BucketCol out of range [0, $nBuckets): "),
        coalesce(bucket.cast("string"), lit("NULL")))).cast("int"))
    .otherwise(bucket)

  /** Write a generation directory partitioned by [[BucketCol]] with the
    * FileOutputCommitter redundancy removed: store visibility commits through OUR manifest markers (atomic
    * create of `vN.committed`), so the committer's job-level atomicity
    * buys nothing here — algorithm v2 moves task output at TASK commit
    * instead of a DRIVER-SERIAL merge of every bucket directory at job
    * commit (O(buckets) renames: a √n-bucketed store pays hundreds of
    * sequential driver-side fs calls per build/append/rewrite, and the
    * phase grows with the store at any scale — v2 is the standard cloud
    * default for exactly this reason), and `_SUCCESS` markers are skipped
    * (readers resolve the manifest, never directory markers). A crash
    * mid-write can leave partial files ONLY in an uncommitted,
    * writer-unique generation directory — invisible to every reader,
    * reclaimed by vacuum — the same contract as before.
    *
    * Task-retry caveat (ADVICE r14, MAPREDUCE-7282): v2 task-commits move
    * output immediately, so an attempt retried after a PARTIAL task
    * commit inside a succeeding job relies on deterministic part
    * filenames + overwrite to stay duplicate-free, and SPECULATIVE
    * execution widens that window (two simultaneous attempts of one
    * task). Store writes therefore assert speculation is off — fail
    * loudly rather than risk a duplicated part file in a committed
    * generation. (Plain task-failure retries overwrite the same
    * deterministic part filenames; only speculation runs two attempts
    * concurrently.) */
  private def writeGenDir(df: DataFrame, genPath: HPath): Unit = {
    require(!df.sparkSession.conf.get("spark.speculation", "false").toBoolean,
      "store generation writes use committer v2, whose task-commit is not " +
        "safe under speculative execution — disable spark.speculation for " +
        "store-writing sessions")
    // one writer per bucket directory: a hash repartition on the bucket
    // clusters with AQE on (which still coalesces its partitions) and off
    // (as in every foreachBatch micro-batch, where Spark drops a
    // REBALANCE hint and each task would write into every bucket)
    df.repartition(col(BucketCol)).write.mode("overwrite")
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .partitionBy(BucketCol).parquet(genPath.toString)
  }

  /** Lay a store out partitioned by key-hash bucket under a generation
    * directory (`__graft_gen=1/__graft_bucket=N/…`) with a committed
    * manifest, so merges can prune to touched buckets AND commit
    * atomically ([[upsertPartitionedStore]]). The bucket count is
    * persisted alongside the data ([[storeBuckets]]) — merges MUST hash
    * with the writer's count, never the caller's.
    *
    * If `df` already carries [[BucketCol]] it is TRUSTED (same convention
    * as [[appendPartitionedStore]]): stores whose pruning dimension is
    * not the key hash — a term-bucketed inverted index, a cell-routed
    * vector index — lay out by their own bounded routing column and
    * still get the manifest commit/read machinery. The caller then owns
    * the bucket arithmetic end to end; keyed merges (which hash with
    * [[storeBuckets]]) are only valid when the caller's bucketing IS the
    * key hash. Keys are null-guarded either way. */
  def writePartitionedStore(df: DataFrame, path: String, keys: Seq[String],
                            nBuckets: Int = 64,
                            layoutTag: Option[String] = None): Unit = {
    val spark = df.sparkSession
    val (fs, root) = hfs(spark, path)
    fs.delete(root, true) // fresh-store overwrite semantics
    val gen = newGenName(1)
    // writeGenDir clusters by the layout column before the partitionBy
    // write: without it every input task opens a writer in every bucket
    // directory it has a row for (tasks × nBuckets small files; measured
    // 22 s for a 4k-row store at 32 tasks × 64 buckets, and every later
    // scan of the store pays the file count again). With it each bucket
    // is written by one task — ~one file per bucket.
    val genPath = new HPath(root, s"$GenCol=$gen")
    val bucketed =
      if (df.columns.contains(BucketCol))
        df.withColumn(BucketCol,
          nullKeyGuard(keys, bucketRangeGuard(nBuckets, col(BucketCol))))
      else df.withColumn(BucketCol, guardedBucketExpr(keys, nBuckets))
    writeGenDir(bucketed, genPath)
    writeSmallFile(fs, new HPath(root, "_graft_buckets"), nBuckets.toString)
    // optional caller-declared layout tag (e.g. which reserved-bucket
    // scheme the routing column encodes), written like _graft_buckets
    // BEFORE the commit marker so the pair is atomic with the data: a
    // crash in between leaves an uncommitted store, never a committed
    // one whose readers reject it
    layoutTag.foreach(k =>
      writeSmallFile(fs, new HPath(root, "_graft_store_kind"), k))
    val buckets = listPartDirs(fs, genPath, BucketCol)
    writeManifestVersion(fs, root, 1, buckets.map(_ -> gen))
    commitManifestVersion(fs, root, 1)
  }

  /** The bucket count a partitioned store was written with. */
  def storeBuckets(path: String): Int = {
    val conf = SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val p = new HPath(path, "_graft_buckets")
    val fs = p.getFileSystem(conf)
    require(fs.exists(p),
      s"$path is not a bucketed store (no _graft_buckets marker — " +
        "was it written by writePartitionedStore?)")
    readSmallFile(fs, p).trim.toInt
  }

  /** True iff `path` holds a committed partitioned store. */
  def isPartitionedStore(spark: SparkSession, path: String): Boolean = {
    val (fs, root) = hfs(spark, path)
    currentManifestVersion(fs, root).isDefined
  }

  /** Read a partitioned store back through its committed manifest: only
    * the bucket directories the manifest references are listed or
    * scanned, so superseded generations' files are invisible however many
    * uncommitted or stale files exist on disk. */
  def readPartitionedStore(spark: SparkSession, path: String): DataFrame = {
    val (fs, root) = hfs(spark, path)
    val v = currentManifestVersion(fs, root).getOrElse(
      throw new IllegalArgumentException(
        s"$path has no committed manifest — not a partitioned store"))
    readPartitionedStoreAt(spark, path, v)
  }

  /** All committed manifest versions, ascending — the store's readable
    * history until [[vacuumPartitionedStore]] trims it to the current
    * version. */
  def storeVersions(spark: SparkSession, path: String): Seq[Int] = {
    val (fs, root) = hfs(spark, path)
    val dir = manifestDir(root)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".committed"))
      .map(_.stripPrefix("v").stripSuffix(".committed").toInt)
      .toSeq.sorted
  }

  /** TIME-TRAVEL read: the store exactly as of committed manifest
    * `version`. Free by construction of the manifest-pointer design —
    * every commit writes a NEW generation directory and a NEW manifest,
    * never touching a live file, so any retained manifest still resolves
    * to intact data. Retention is [[vacuumPartitionedStore]]'s contract:
    * vacuum deletes superseded files and old manifests, after which only
    * the current version is readable (same trade as any table format's
    * VACUUM vs time travel). */
  def readPartitionedStoreAt(spark: SparkSession, path: String, version: Int): DataFrame =
    readPartitionedStoreAtTagged(spark, path, version).drop(BucketCol)

  /** [[readPartitionedStoreAt]] variant that KEEPS [[BucketCol]] — for
    * maintenance reports that compare a layout's routing column across
    * versions (e.g. the IVF staleness report's per-cell build-vs-now
    * aggregation), where dropping the column would force re-deriving
    * the routing from data. */
  def readPartitionedStoreAtTagged(spark: SparkSession, path: String,
                                   version: Int): DataFrame = {
    val (fs, root) = hfs(spark, path)
    require(fs.exists(new HPath(manifestDir(root), s"v$version.committed")),
      s"$path has no committed manifest v$version (retained versions: " +
        s"${storeVersions(spark, path).mkString(",")})")
    readBuckets(spark, path, readManifest(fs, root, version))
  }

  /** [[readStoreBuckets]] at a specific committed version — the pruned
    * time-travel read a maintenance report needs to compare one bucket's
    * build-time contents against the present without scanning the whole
    * historical store. Keeps [[BucketCol]]. */
  def readStoreBucketsAt(spark: SparkSession, path: String, version: Int,
                         buckets: Set[Int]): DataFrame = {
    val (fs, root) = hfs(spark, path)
    require(fs.exists(new HPath(manifestDir(root), s"v$version.committed")),
      s"$path has no committed manifest v$version (retained versions: " +
        s"${storeVersions(spark, path).mkString(",")})")
    readManifestBuckets(spark, path, readManifest(fs, root, version), buckets)
  }

  /** Shared pruned-read tail: the manifest's entries filtered to the
    * wanted buckets; an empty overlap (e.g. an incremental batch whose
    * keys all land in never-seen buckets) reads an empty frame WITH the
    * store schema, scanning nothing. */
  private def readManifestBuckets(spark: SparkSession, path: String,
                                  man: Seq[(Int, String)],
                                  buckets: Set[Int]): DataFrame = {
    val pairs = man.filter { case (b, _) => buckets(b) }
    if (pairs.nonEmpty) readBuckets(spark, path, pairs)
    else readBuckets(spark, path, Seq(man.head)).limit(0)
  }

  /** Bucket → distinct-generation count of the CURRENT manifest — the
    * fragmentation signal an append-maintained store's OPTIMIZE decision
    * reads (every append adds a generation to each bucket it touches).
    * MANIFEST-ONLY: no data directory is listed. */
  def storeBucketGenerations(spark: SparkSession, path: String): Map[Int, Int] = {
    val (fs, root) = hfs(spark, path)
    val v = currentManifestVersion(fs, root).getOrElse(
      throw new IllegalArgumentException(
        s"$path has no committed manifest — not a partitioned store"))
    readManifest(fs, root, v)
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
  }

  /** Pruned read of only the given buckets (all their generations),
    * resolved through the manifest — file-list-level pruning for an
    * incremental pipeline's existence checks. Keeps [[BucketCol]]. */
  def readStoreBuckets(spark: SparkSession, path: String,
                       buckets: Set[Int]): DataFrame = {
    val (fs, root) = hfs(spark, path)
    val v = currentManifestVersion(fs, root).getOrElse(
      throw new IllegalArgumentException(
        s"$path has no committed manifest — not a partitioned store"))
    readManifestBuckets(spark, path, readManifest(fs, root, v), buckets)
  }

  private def readBuckets(spark: SparkSession, path: String,
                          buckets: Seq[(Int, String)]): DataFrame = {
    val dirs = buckets.distinct.sorted.map { case (b, g) => bucketDir(path, g, b) }
    // mergeSchema: a schema-evolved merge leaves older generations without
    // the new columns; the union schema reads them back as NULL. Cost is a
    // footer merge over the pruned file list — bounded by the read itself.
    spark.read.option("basePath", path).option("mergeSchema", "true")
      .parquet(dirs: _*).drop(GenCol)
  }

  /** The distinct [[BucketCol]] values of `df`, in ONE job with no
    * exchange: each partition collects its own set (at most nBuckets ×
    * partitions values reach the driver), where `distinct()` would run a
    * shuffle-map job and a result job. */
  private def bucketsOf(df: DataFrame): Set[Int] =
    df.select(BucketCol).rdd
      .mapPartitions(rows => rows.map(_.getInt(0)).toSet.iterator)
      .collect().toSet

  /** S5 at scale — partition-pruned MERGE with an ATOMIC manifest commit.
    * Rewriting the whole store per merge is O(store); an incremental
    * pipeline merging a small delta every batch needs O(delta). This
    * variant buckets the source rows by key hash (same arithmetic as the
    * store layout — ≤ `nBuckets` distinct values, so the driver-side
    * collect of touched buckets is bounded and tiny) and hands
    * [[commitRewrite]] a plan over exactly those buckets whose function is
    * [[upsert]] (WHEN MATCHED UPDATE / NOT MATCHED INSERT) over their
    * current rows. The loop reads ONLY the touched buckets, resolved
    * through the manifest (untouched buckets are never even listed),
    * writes the merged buckets to a NEW generation directory — no live
    * file is overwritten, so the merge streams straight from the old
    * generation into the new one — and commits manifest v+1 by atomically
    * creating its `.committed` marker.
    *
    * Crash-atomicity: the marker create is the single commit point (see
    * [[commitRewrite]]). Superseded files are reclaimed by
    * [[vacuumPartitionedStore]], never by the merge itself, so a reader
    * that resolved the old manifest keeps its files until vacuum (the
    * retention caveat every manifest-pointer table format shares).
    *
    * Hashes with the count the store was WRITTEN with (persisted marker) —
    * a caller-supplied count that disagreed would read the wrong
    * partitions and re-insert keys it failed to find. */
  def upsertPartitionedStore(spark: SparkSession, targetPath: String,
                             source: DataFrame, keys: Seq[String],
                             updateCols: Seq[String],
                             evolveSchema: Boolean = false): Unit =
    upsertPartitionedStoreImpl(spark, targetPath, source, keys, updateCols,
      beforeCommit = () => (), evolveSchema = evolveSchema)

  /** [[upsertPartitionedStore]] with [[commitRewrite]]'s two test seams:
    * `beforeCommit` (IOSpec throws there to prove a crash in the window
    * leaves the pre-merge state readable) and `beforeClaim` (IOSpec runs a
    * competing full merge there to prove the optimistic retry serializes
    * racing writers). */
  private[graft] def upsertPartitionedStoreImpl(
      spark: SparkSession, targetPath: String, source: DataFrame,
      keys: Seq[String], updateCols: Seq[String],
      beforeCommit: () => Unit,
      beforeClaim: () => Unit = () => (),
      evolveSchema: Boolean = false): Unit = {
    val nBuckets = storeBuckets(targetPath)
    val src = source.withColumn(BucketCol, guardedBucketExpr(keys, nBuckets))
      .localCheckpoint()
    try {
      // hash routing is a pure key function, so the touched set cannot
      // move between attempts; only the base rows are re-read per attempt
      val touched = bucketsOf(src)
      commitRewrite(spark, targetPath,
        () => (touched, upsert(_, src, keys, updateCols, evolveSchema = evolveSchema)),
        beforeCommit, beforeClaim = beforeClaim)
    } finally Shim.releaseCheckpoint(src)
  }

  /** THE store-rewrite primitive: every keyed mutation (hash MERGE, keyed
    * and routed delete, routed upsert, compaction, the vector stores'
    * refresh) and the append commit through this optimistic loop. Per
    * attempt it resolves the current manifest version, asks `plan` for
    * the touched buckets and the function from their current rows (with
    * [[BucketCol]]) to their new rows, reads those rows ITSELF from that
    * same version, and writes the result to a WRITER-UNIQUE generation
    * directory (racing writers never clobber each other's data files).
    * It then claims the next version via the atomic lock create,
    * re-checks under the claim that the base is still current, writes
    * manifest `cur`+1 (touched buckets collapse onto the new generation,
    * untouched buckets keep theirs, an emptied bucket drops out) and
    * commits via the atomic marker create.
    *
    * A writer that loses the race — claim refused, or the base advanced —
    * re-plans against the NEW current, so concurrent rewrites serialize
    * like any optimistic table format's commit loop; its orphaned
    * generation is garbage vacuum reclaims. The touched set is re-planned
    * with the rows because trusted routing is not a pure key function: a
    * racing writer can MOVE a key out of the first attempt's touched set,
    * and a retry that kept the stale set would resurrect or duplicate it.
    * A plan whose touched set is empty is a no-op: no version committed.
    * Returns the version THIS call committed (None for the no-op) —
    * callers that record per-commit state (the refresh's staleness
    * baseline) must use it rather than storeVersions.last, which a racing
    * writer's later commit can have advanced past ours.
    *
    * `append` is [[appendPartitionedStore]]'s manifest rule: the plan's
    * rows are base-independent (its function gets no base rows), the new
    * generation's buckets are ADDED next to their existing entries, and
    * the generation is written once however many races the commit loses.
    *
    * Crash contract: the marker create is the single commit point, so a
    * crash anywhere before it — mid data write, mid manifest write, or
    * between them — leaves the previous version current. Test seams:
    * `beforeClaim` runs after the attempt's data write, `beforeCommit`
    * after its manifest write. Each attempt's phases run in `obs` spans:
    * locate (the plan and the base read), write (the generation), claim,
    * and commit (re-check, manifest, marker). */
  private[graft] def commitRewrite(spark: SparkSession, targetPath: String,
                                   plan: () => (Set[Int], DataFrame => DataFrame),
                                   beforeCommit: () => Unit = () => (),
                                   maxAttempts: Int = 5,
                                   beforeClaim: () => Unit = () => (),
                                   append: Boolean = false): Option[Int] = {
    val (fs, root) = hfs(spark, targetPath)
    // reused across attempts when the base hasn't advanced: a refused
    // claim (peer mid-commit, not yet committed) must not cost a second
    // full Spark rewrite of byte-identical data
    var dataBase = -1
    var genName = ""
    var written = Seq.empty[Int]
    var touched = Set.empty[Int]
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val cur = currentManifestVersion(fs, root).getOrElse(
        throw new IllegalArgumentException(
          s"$targetPath has no committed manifest — not a partitioned store"))
      val man = readManifest(fs, root, cur)
      // an append's rows only ADD to whatever manifest is current, so its
      // generation is base-independent and writes once; a rewrite's
      // generation is a function of its base
      if (genName.isEmpty || (!append && dataBase != cur)) {
        val rows = obs.span("locate") {
          val (t, rewrite) = plan()
          touched = t
          if (append) Some(rewrite(spark.emptyDataFrame))
          else if (t.isEmpty) None
          else Some(rewrite(readManifestBuckets(spark, targetPath, man, t)))
        }
        val frame = rows match {
          case Some(f) => f
          case None => return None
        }
        genName = newGenName(cur + 1)
        val genPath = new HPath(root, s"$GenCol=$genName")
        obs.span("write")(writeGenDir(frame, genPath))
        written = listPartDirs(fs, genPath, BucketCol)
        dataBase = cur
      }
      val next = cur + 1
      beforeClaim()
      obs.span("claim")(claimVersion(fs, root, next, ClaimLeaseMs)) match {
        case Some(nonce) =>
          val committed =
            try obs.span("commit") {
              currentManifestVersion(fs, root).contains(cur) &&
                !isCommitted(fs, root, next) &&
                // fencing: a holder whose lease was broken while it
                // stalled must not write the new holder's manifest
                holdsClaim(fs, root, next, nonce) && {
                  // an append keeps every entry; a rewrite collapses the
                  // touched buckets onto its generation
                  val kept = if (append) man else man.filter { case (b, _) => !touched(b) }
                  writeManifestVersion(fs, root, next, kept ++ written.map(_ -> genName))
                  beforeCommit()
                  holdsClaim(fs, root, next, nonce) &&
                    (try { commitManifestVersion(fs, root, next); true }
                    catch { case e: java.io.IOException =>
                      // marker landed from a fenced-off racer in the
                      // residual window: a lost race, not a failure —
                      // loop and recompute
                      if (!isCommitted(fs, root, next)) throw e
                      false
                    })
                }
            } finally releaseClaim(fs, root, next, nonce)
          if (committed) return Some(next)
          // base advanced (or claim fenced off) under us: a rewrite's
          // generation is orphan garbage (vacuum reclaims it); recompute
        case None =>
          // claim refused: an active writer is committing `next`. Its
          // commit/release resolves the base; back off so spins don't
          // exhaust the attempts inside the peer's few-ms commit window.
          Thread.sleep(100L * attempt)
      }
    }
    throw new IllegalStateException(
      s"commit lost $maxAttempts optimistic-concurrency races on $targetPath")
  }

  /** Keyed DELETE — `WHEN MATCHED DELETE` with the same O(delta) pruning
    * as the merge: a [[routedRewrite]] whose locate is each key's hash
    * bucket under the store's persisted count, so only those buckets are
    * read, anti-joined and rewritten as a new generation. The capability
    * every training-data store eventually needs (takedown /
    * right-to-be-forgotten passes), and at scale the pruning is the whole
    * story: a delete of k keys touches ≤ k buckets however large the
    * store is. A bucket whose rows are all deleted drops out of the
    * manifest entirely. A key row with a NULL key is dropped first: SQL
    * equality never matches a NULL, so it deletes nothing and touches no
    * bucket — a delete of only such rows commits no version. */
  def deleteFromPartitionedStore(spark: SparkSession, targetPath: String,
                                 keyRows: DataFrame, keys: Seq[String]): Unit = {
    val located = keyRows.select(keys.map(col): _*)
      .where(keys.map(col(_).isNotNull).reduce(_ && _))
      .withColumn(BucketCol, bucketExpr(keys, storeBuckets(targetPath)))
    routedRewrite(spark, targetPath, () => located, None, keys)
  }

  /** Routed DELETE / UPSERT for stores whose [[BucketCol]] is a TRUSTED
    * routing column rather than the key hash (the vector stores route by
    * IVF cell), and the keyed delete's path too. The caller supplies a
    * LOCATE CLOSURE producing key rows that carry the bucket each key
    * currently lives in (e.g. a column-pruned (key, bucket) projection
    * scan), and optionally `newRows`: full store rows with their trusted
    * routing column. Each [[commitRewrite]] attempt pins the locate,
    * derives touched = new ∪ located ∪ extra-row buckets in one job, and
    * plans one rewrite that anti-joins the keys away from the touched
    * buckets' rows and unions the new and extra rows — a racing reader
    * sees the pre- or post-op version, never the deleted-but-not-yet-
    * reinserted middle a delete-then-append pair would expose. The
    * bucket sets may differ: a re-embedded vector can ROUTE to a
    * different cell, which an in-place per-bucket update cannot express.
    *
    * A closure, not a frame, because routing is NOT a pure function of
    * the key here: when a racing writer moves a key to another bucket
    * and this commit loses the version race, the retry must RE-LOCATE
    * against the new current manifest or it would rewrite stale buckets
    * and resurrect the key. `newRows` is by-name and pinned once, on the
    * first attempt (inside its locate span): its routing never depends on
    * the base. A delete of k keys touches ≤ k buckets however large the
    * store is; an emptied bucket drops out of the manifest. No-op (no new
    * version) when the locate finds nothing and there are no new rows. */
  private[graft] def routedRewrite(spark: SparkSession, targetPath: String,
                                   locateKeyRows: () => DataFrame,
                                   newRows: => Option[DataFrame],
                                   keys: Seq[String],
                                   beforeClaim: () => Unit = () => (),
                                   insertKeys: Seq[String] = Seq.empty,
                                   extraRowsFromLocated: Option[DataFrame => DataFrame] = None): Unit = {
    val nBuckets = storeBuckets(targetPath)
    def guarded(df: DataFrame) = df.withColumn(BucketCol,
      nullKeyGuard(keys, bucketRangeGuard(nBuckets, col(BucketCol))))
    // every pin this op takes is released once the loop returns: a
    // long-lived session doing repeated maintenance (a foreachBatch upsert
    // loop) would otherwise accumulate checkpoint blocks until session end
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { val p = df.localCheckpoint(); pinned += p; p }
    // duplicate new keys (by `insertKeys` — the store's row identity,
    // which may be wider than the locate/anti-join `keys`: an inverted
    // index removes by doc_id but inserts (term, doc_id) rows) would
    // double-insert after the single anti-join, same MERGE rule as every
    // upsert here
    val insKeys = if (insertKeys.nonEmpty) insertKeys else keys
    lazy val ins = newRows.map(r => pin(guarded(requireUniqueSourceKeys(r, insKeys))))
    def plan(): (Set[Int], DataFrame => DataFrame) = {
      // the RAW located frame (keys + BucketCol + whatever side columns
      // the locate projected, e.g. a denormalized doc length) feeds the
      // extra-row derivation; the anti-join side only keeps (keys, bucket)
      val located = pin(locateKeyRows())
      val keyBuckets = guarded(located.select((keys.map(col) :+ col(BucketCol)): _*))
      // extra rows are a FUNCTION OF THE LOCATE (e.g. a compensating
      // stats-delta row derived from the rows being removed), so they are
      // re-derived with it on every attempt — an extra row derived from a
      // stale locate would commit stale compensation after a lost race.
      // Like the anti-join side, they read the pinned locate's blocks
      // instead of taking a pin of their own
      val extra = extraRowsFromLocated.map(f => guarded(f(located)))
      val added = ins.toSeq ++ extra
      // the touched set in ONE job: a union of every side's bucket column
      // (the located rows without the anti-join side's distinct — the same
      // buckets, with no exchange)
      val touched = bucketsOf((keyBuckets +: added).map(_.select(BucketCol)).reduce(_ union _))
      val del = broadcast(keyBuckets.distinct().drop(BucketCol))
      (touched, base => (base.join(del, keys, "left_anti") +: added).reduce(_ unionByName _))
    }
    try commitRewrite(spark, targetPath, () => plan(), beforeClaim = beforeClaim)
    finally pinned.foreach(Shim.releaseCheckpoint)
  }

  /** COMPACT the store's fragmented buckets — the OPTIMIZE step for the
    * LSM trade [[appendPartitionedStore]] makes: each append adds a delta
    * generation to every bucket it touches, and a bucket fragmented
    * across many generations pays a multi-directory list + many small
    * files on every read. Rewrites ONLY buckets spread over more than
    * `maxGensPerBucket` generations (content byte-identical, so served
    * reads cannot change), committing through the same optimistic loop
    * as the merge — cost is O(fragmented buckets' data), never O(store).
    * A no-op when nothing is fragmented. Note CDC semantics: compaction
    * repoints the touched buckets, so a [[storeChangeFeed]] across the
    * boundary scans them — and correctly emits nothing, because every
    * row compares equal. */
  def compactPartitionedStore(spark: SparkSession, path: String,
                              maxGensPerBucket: Int = 1): Unit =
    // ONE definition of "fragmented" (storeBucketGenerations) shared
    // with every maintenance report that decides to call this
    compactStoreBuckets(spark, path, storeBucketGenerations(spark, path)
      .filter(_._2 > maxGensPerBucket).keys.toSet)

  /** Compact exactly the given buckets (collapse each to one generation,
    * content byte-identical: the plan's function is the identity over
    * their current rows) — the seam for stores whose fragmentation
    * criterion is LAYOUT-AWARE (the vector stores exclude their reserved
    * quantizer buckets): the caller's decision set is the one rewritten,
    * so the compaction report can never disagree with the rewrite. An
    * empty set commits nothing. */
  def compactStoreBuckets(spark: SparkSession, path: String,
                          buckets: Set[Int]): Unit =
    commitRewrite(spark, path, () => (buckets, identity[DataFrame]))

  /** CHANGE FEED — the net row-level diff between two committed versions,
    * in CDC shape: `_change_type` ∈ insert / delete / update_preimage /
    * update_postimage ahead of the data columns. Consumers that mirror the
    * store (a downstream index, a feature cache) apply this instead of
    * re-reading 100 TB.
    *
    * Pruned by construction: a commit only ever REPOINTS the buckets it
    * touched, so any bucket whose (bucket → generations) manifest entry is
    * identical at both versions provably holds identical rows and is never
    * listed or read. What remains is one key-keyed full-outer join over
    * just the changed buckets' rows — O(changed data), not O(store) —
    * with unchanged rows inside rewritten buckets suppressed by a
    * null-safe struct compare (a rewrite that copied a row unchanged is
    * not a change event). This is a SNAPSHOT diff (net effect of all
    * commits in the range): a row inserted then deleted inside the range
    * emits nothing, an insert+update emits one insert carrying the final
    * values. */
  def storeChangeFeed(spark: SparkSession, path: String,
                      fromVersion: Int, toVersion: Int,
                      keys: Seq[String]): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val (fs, root) = hfs(spark, path)
    Seq(fromVersion, toVersion).foreach { v =>
      require(fs.exists(new HPath(manifestDir(root), s"v$v.committed")),
        s"$path has no committed manifest v$v")
    }
    val mOld = readManifest(fs, root, fromVersion)
    val mNew = readManifest(fs, root, toVersion)
    def gens(m: Seq[(Int, String)]): Map[Int, Set[String]] =
      m.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val (gOld, gNew) = (gens(mOld), gens(mNew))
    val changed = (gOld.keySet ++ gNew.keySet)
      .filter(b => gOld.get(b) != gNew.get(b))
    def side(man: Seq[(Int, String)]): DataFrame = {
      val pairs = man.filter { case (b, _) => changed(b) }
      if (pairs.nonEmpty) readBuckets(spark, path, pairs).drop(BucketCol)
      else readBuckets(spark, path, Seq((mOld ++ mNew).head)).drop(BucketCol).limit(0)
    }
    val o0 = side(mOld)
    val n0 = side(mNew)
    // schema evolution: align both sides on the UNION of columns (a column
    // a version predates reads as typed NULL on that side), so the image
    // structs compare field-for-field across an evolved boundary
    def aligned(df: DataFrame, other: DataFrame): DataFrame =
      other.schema.fields.filterNot(f => df.columns.contains(f.name))
        .foldLeft(df)((acc, f) => acc.withColumn(f.name, lit(null).cast(f.dataType)))
    val o = aligned(o0, n0)
    val n = aligned(n0, o0)
    val nonKey = (n0.columns.toSeq ++
      o0.columns.toSeq.filterNot(n0.columns.contains)).filterNot(keys.contains)
    def img(df: DataFrame, name: String) =
      df.select(keys.map(col) :+ struct(nonKey.map(col): _*).as(name): _*)
    // NULL-SAFE key equality: plain `===` never matches a NULL key, so a
    // NULL-key row in a rewritten bucket (e.g. after a compaction, which
    // must emit nothing) would pair with nothing on either side and emit
    // a spurious delete + insert — breaking the apply∘feed round-trip
    // law. `<=>` pairs NULL with NULL and still plans as an equi-join.
    val cond = keys.map(k => col(s"p.$k") <=> col(s"q.$k")).reduce(_ && _)
    val j = img(o, "__pre").as("p").join(img(n, "__post").as("q"), cond, "full_outer")
      .select(keys.map(k => coalesce(col(s"p.$k"), col(s"q.$k")).as(k)) ++
        Seq(col("__pre"), col("__post")): _*)
    j.withColumn("__evs",
      when(col("__pre").isNull,
        array(struct(lit("insert").as("t"), col("__post").as("img"))))
      .when(col("__post").isNull,
        array(struct(lit("delete").as("t"), col("__pre").as("img"))))
      .when(!(col("__pre") <=> col("__post")),
        array(struct(lit("update_preimage").as("t"), col("__pre").as("img")),
              struct(lit("update_postimage").as("t"), col("__post").as("img"))))
      // a rewritten bucket's unchanged rows are not change events — the
      // no-event branch is a correctly-typed EMPTY array (an `array()`
      // literal couldn't carry the img struct schema, so slice one down)
      .otherwise(slice(array(struct(lit("x").as("t"), col("__pre").as("img"))), 1, 0)))
      .select(keys.map(col) :+ explode(col("__evs")).as("__e"): _*)
      .select(col("__e.t").as("_change_type") +:
        (keys.map(col) ++ nonKey.map(c => col(s"__e.img.$c").as(c))): _*)
  }

  /** Atomic APPEND to a partitioned store: write the delta rows to a new
    * generation directory, then commit a manifest that ADDS the new
    * (bucket, generation) pairs — existing files are never read, listed,
    * or rewritten, so a batch append costs O(delta) like a raw
    * `mode("append")` but is crash-atomic like the upsert (a raw append's
    * partial files become visible mid-write; here nothing is reachable
    * until the marker lands). Buckets accumulate delta generations until
    * an upsert or [[vacuumPartitionedStore]]-preceded rewrite collapses
    * them — the LSM trade every append-optimized store makes.
    *
    * If `source` already carries [[BucketCol]] it is trusted (callers that
    * pre-bucket for their own pruned reads skip the recompute); otherwise
    * it is derived from `keys` with the store's persisted count. */
  def appendPartitionedStore(spark: SparkSession, targetPath: String,
                             source: DataFrame, keys: Seq[String]): Unit = {
    val src =
      if (source.columns.contains(BucketCol))
        // trusted bucket ARITHMETIC, validated keys AND range: the
        // NULL-key invariant holds regardless of who computed the
        // bucket, and an out-of-range bucket must fail at write time,
        // not corrupt later pruned reads
        source.withColumn(BucketCol, nullKeyGuard(keys,
          bucketRangeGuard(storeBuckets(targetPath), col(BucketCol))))
      else source.withColumn(BucketCol,
        guardedBucketExpr(keys, storeBuckets(targetPath)))
    // appends never truly conflict (base-independent data), so they get
    // more attempts: a refused claim just means a peer is inside its
    // few-ms commit window
    commitRewrite(spark, targetPath, () => (Set.empty[Int], _ => src),
      maxAttempts = 10, append = true)
  }

  /** Reclaim files no committed reader can reach: bucket directories
    * superseded by a later generation, empty generation shells, and
    * manifests older than current. Call OUTSIDE the merge path (a reader
    * that resolved an older manifest races with deletion — same retention
    * contract as any table format's VACUUM; safe when no reader started
    * before the last commit is still running). */
  def vacuumPartitionedStore(spark: SparkSession, path: String,
                             orphanGraceMs: Long = OrphanRetentionMs): Unit = {
    val (fs, root) = hfs(spark, path)
    currentManifestVersion(fs, root).foreach { cur =>
      val live: Set[(String, Int)] =
        readManifest(fs, root, cur).toSeq.map { case (b, g) => (g, b) }.toSet
      // generations referenced by ANY retained manifest were committed —
      // their writers are done, so superseded ones delete immediately. A
      // generation in NO manifest is either a lost attempt's orphan or a
      // LIVE writer's not-yet-committed data: only age can tell them
      // apart, so those wait out `orphanGraceMs` before deletion. NOTE
      // the clock: the gen dir's mtime is set at DATA-WRITE time, and
      // nothing fences the writer's gap between data write and claim
      // (the claim lease only bounds post-claim stalls) — so the grace
      // must exceed the deployment's worst write-to-commit latency, not
      // the claim lease. Default is a day (the usual table-format
      // retention scale); a single-writer pipeline that vacuums in its
      // own quiet window can pass 0.
      val everReferenced: Set[String] = storeVersions(spark, path)
        .flatMap(v => readManifest(fs, root, v).map(_._2)).toSet
      val cutoff = System.currentTimeMillis() - orphanGraceMs
      fs.listStatus(root).filter(_.getPath.getName.startsWith(GenCol + "="))
        .foreach { genSt =>
          val g = genSt.getPath.getName.stripPrefix(GenCol + "=")
          val reclaimable = everReferenced(g) ||
            genSt.getModificationTime < cutoff
          if (reclaimable) {
            fs.listStatus(genSt.getPath)
              .filter(_.getPath.getName.startsWith(BucketCol + "="))
              .foreach { bSt =>
                val b = bSt.getPath.getName.stripPrefix(BucketCol + "=").toInt
                if (!live((g, b))) fs.delete(bSt.getPath, true)
              }
            if (!fs.listStatus(genSt.getPath)
                   .exists(_.getPath.getName.startsWith(BucketCol + "=")))
              fs.delete(genSt.getPath, true)
          }
        }
      // reclaim old manifests, their markers, and stale claim locks —
      // all named v<digits>[.committed|.lock]
      fs.listStatus(manifestDir(root)).foreach { s =>
        val v = s.getPath.getName.stripPrefix("v")
          .stripSuffix(".committed").stripSuffix(".lock")
        if (v.forall(_.isDigit) && v.nonEmpty && v.toInt < cur)
          fs.delete(s.getPath, false)
      }
    }
  }

  /** Apply a [[storeChangeFeed]] to a mirror of the `fromVersion` snapshot,
    * producing exactly the `toVersion` snapshot — the CONSUMER side of CDC
    * (a downstream index or feature cache stays in sync by applying feeds,
    * never re-reading the store). Inverse-by-construction: drop every key
    * the feed deletes or updates, then union the inserts and the update
    * postimages. One anti-join keyed on the merge keys (the feed side is
    * the small one and broadcasts); cost is O(mirror + feed), and the
    * round-trip law `apply(readAt(v1), feed(v1,v2)) == readAt(v2)` is
    * pinned by IOSpec. */
  def applyChangeFeed(mirror: DataFrame, feed: DataFrame,
                      keys: Seq[String]): DataFrame = {
    // TWO-WAY union alignment (the same rule storeChangeFeed applies to
    // its own version pair): the feed may carry columns the mirror
    // predates (a schema-evolved commit) AND the mirror may carry columns
    // the feed lacks (a later commit that touched only pre-evolution
    // buckets reads a feed without the evolved column). Either one-sided
    // projection silently loses data forever; both sides align to the
    // column union with typed NULLs — exactly how the store itself reads
    // pre-evolution generations.
    def align(df: DataFrame, other: DataFrame): DataFrame =
      other.schema.fields
        .filter(f => f.name != "_change_type" && !df.columns.contains(f.name))
        .foldLeft(df)((acc, f) =>
          acc.withColumn(f.name, lit(null).cast(f.dataType)))
    val alignedFeed = align(feed, mirror)
    val dataCols = alignedFeed.columns.toSeq.filterNot(_ == "_change_type")
    val alignedMirror = align(mirror, alignedFeed).select(dataCols.map(col): _*)
    val removedKeys = alignedFeed
      .where(col("_change_type").isin("delete", "update_preimage"))
      .select(keys.map(col): _*).distinct()
    val added = alignedFeed
      .where(col("_change_type").isin("insert", "update_postimage"))
      .select(dataCols.map(col): _*)
    // same null-safe rule as the feed's own diff join: an anti-join on
    // `===` can never remove a NULL-key mirror row, so each sync would
    // re-add its postimage beside the stale copy
    val anti = keys.map(k => col(s"m.$k") <=> col(s"r.$k")).reduce(_ && _)
    alignedMirror.as("m")
      .join(broadcast(removedKeys.as("r")), anti, "left_anti")
      .unionByName(added)
  }

  /** Incrementally SYNC a plain-parquet mirror of a partitioned store —
    * the polling consumer the change feed exists for (a downstream
    * serving copy, a different-format export, a cross-region replica).
    * The mirror records the store version it reflects in a
    * `_graft_cursor` file written INSIDE the mirror directory before the
    * atomic swap, so data and cursor commit together: a crash anywhere
    * leaves the previous (data, cursor) pair intact and the next call
    * simply redoes the delta (idempotent).
    *
    * Catch-up is O(changes): however many commits landed since the
    * cursor, one [[storeChangeFeed]] range diff covers them (net effect),
    * and [[applyChangeFeed]] applies it against the current mirror. If
    * the cursor's manifest has been vacuumed away, falls back to a full
    * snapshot copy — the same retention contract as any table-format
    * streaming read that falls behind VACUUM. Returns the store version
    * the mirror now reflects. */
  def syncMirror(spark: SparkSession, storePath: String, mirrorPath: String,
                 keys: Seq[String]): Int = {
    val (mfs, _) = hfs(spark, mirrorPath)
    // recovery + swap below go through the MIRROR's FileSystem (not
    // java.nio), so an HDFS mirror works; rename is metadata-atomic on
    // HDFS/local, and an object-store mirror should swap a manifest
    // pointer instead
    recoverPathOn(mfs, mirrorPath)
    val (fs, root) = hfs(spark, storePath)
    val cur = currentManifestVersion(fs, root).getOrElse(
      throw new IllegalArgumentException(
        s"$storePath has no committed manifest — not a partitioned store"))
    val cursorFile = new HPath(mirrorPath, "_graft_cursor")
    val cursor: Option[Int] =
      if (mfs.exists(cursorFile)) Some(readSmallFile(mfs, cursorFile).trim.toInt)
      else None
    if (cursor.contains(cur)) return cur
    val retained = storeVersions(spark, storePath).toSet
    val next = cursor match {
      case Some(v) if retained(v) =>
        applyChangeFeed(spark.read.parquet(mirrorPath),
          storeChangeFeed(spark, storePath, v, cur, keys), keys)
      case _ => // first sync, or cursor vacuumed away: full snapshot
        readPartitionedStoreAt(spark, storePath, cur)
    }
    val tmp = mirrorPath + ".__graft_tmp"
    next.write.mode("overwrite").parquet(tmp)
    writeSmallFile(mfs, new HPath(tmp, "_graft_cursor"), cur.toString)
    val tgtP = new HPath(mirrorPath)
    val oldP = new HPath(mirrorPath + ".__graft_old")
    mfs.delete(oldP, true)
    if (mfs.exists(tgtP) && !mfs.rename(tgtP, oldP))
      throw new java.io.IOException(s"could not stage $mirrorPath aside for swap")
    if (!mfs.rename(new HPath(tmp), tgtP))
      throw new java.io.IOException(s"could not commit $tmp -> $mirrorPath")
    mfs.delete(oldP, true)
    cur
  }

  /** Crash recovery for a directory swapped through Hadoop `rename`
    * ([[syncMirror]]): restore the `.__graft_old` backup if a crash
    * between the two renames left no live target. */
  private def recoverPathOn(fs: FileSystem, targetPath: String): Unit = {
    val tgt = new HPath(targetPath)
    val old = new HPath(targetPath + ".__graft_old")
    if (!fs.exists(tgt) && fs.exists(old)) fs.rename(old, tgt)
  }

  /** O(files) CLONE of a committed partitioned store — data files
    * HARDLINKED (metadata-rate, no bytes move), tiny control files
    * (manifests, commit markers, `_graft_buckets`, layout/kind sidecars)
    * copied. Clone and source are fully independent afterwards BECAUSE
    * data files are immutable by the manifest design: every mutation
    * (append, merge, delete, compaction) writes NEW generation
    * directories and a NEW manifest, never rewriting a live file, and
    * vacuum only unlinks a store's own directory entries — so a shared
    * inode is never modified through either name. The store-op that
    * needs this is "mutate a private copy without rebuilding" (e.g. a
    * what-if delete, a test harness, a branch-then-merge workflow) — a
    * from-scratch rebuild costs O(corpus), the clone costs O(files).
    *
    * Stale claim locks (`v*.lock`) do NOT travel: a clone is a new
    * store with no writer history. java.nio hardlinks make this
    * local-filesystem-only; an object store clones with server-side copy (or a manifest pointing at
    * shared immutable objects — the table-format "shallow clone"). */
  def cloneStore(spark: SparkSession, srcPath: String, dstPath: String): Unit = {
    val (fs, root) = hfs(spark, srcPath)
    require(currentManifestVersion(fs, root).isDefined,
      s"$srcPath has no committed manifest — not a partitioned store")
    val src = Paths.get(srcPath).toAbsolutePath.normalize
    val dst = Paths.get(dstPath).toAbsolutePath.normalize
    // self/nested-clone guard: deleteRecursive(dst) on dst == src would
    // destroy the store the manifest check just validated; a dst nested
    // under src would walk into the directories being created
    require(dst != src && !dst.startsWith(src) && !src.startsWith(dst),
      s"clone target $dst must be disjoint from source $src")
    deleteRecursive(dst)
    // HARDLINK only the immutable bytes: parquet data under generation
    // directories, which no commit ever rewrites in place. Everything
    // else — manifests, commit markers, _graft_buckets, the store-kind /
    // probe-curve / staleness-baseline sidecars — is COPIED: those files
    // ARE overwritten in place by later maintenance (fs.create(overwrite)
    // truncates the inode), so a hardlinked sidecar would let a tune or
    // refresh on either store silently rewrite the other's.
    val walk = Files.walk(src) // must close — holds directory handles
    try walk.forEach { p =>
      val rel = src.relativize(p)
      val out = dst.resolve(rel)
      if (Files.isDirectory(p)) Files.createDirectories(out)
      else if (!p.getFileName.toString.endsWith(".lock")) {
        val immutableData = rel.toString.startsWith(GenCol + "=") &&
          p.getFileName.toString.endsWith(".parquet")
        if (immutableData) {
          try Files.createLink(out, p)
          catch { case _: UnsupportedOperationException | _: java.io.IOException =>
            Files.copy(p, out, StandardCopyOption.REPLACE_EXISTING)
          }
        } else Files.copy(p, out, StandardCopyOption.REPLACE_EXISTING)
      }
    } finally walk.close()
  }

  /** Delete a path recursively (idempotent). Callers that own a scratch
    * store call this before first use so a leftover store from a prior
    * run (same deterministic path, different data) can't be silently
    * merged into. */
  def deletePath(path: String): Unit = deleteRecursive(Paths.get(path))

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
}
