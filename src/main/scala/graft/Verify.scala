package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * ADVERSARIAL MODE (`--adversarial` as the first argument, or env
  * `SPARK_GRAFT_ADVERSARIAL=1`): regenerates the null/NaN/empty-row
  * fixture from the given sfDir via `tools/make_null_fixture.py`, dumps
  * every registered query against THAT fixture, then runs the DuckDB
  * oracle compare (`tools/local_check.py`) and exits nonzero on any
  * mismatch — the one-command version of the sweep that pins the
  * engine-wide NULL/NaN semantics (cosine ops exclude null/zero-norm/
  * NaN/NULL-component vectors, time ops exclude NULL ts, keyed state
  * excludes NULL keys, token-less docs have no gram surface):
  *
  *   sbt "runMain graft.Verify --adversarial /root/testdata/sf0.001 target/verify_null"
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val adversarial = args.headOption.contains("--adversarial") ||
      sys.env.get("SPARK_GRAFT_ADVERSARIAL").contains("1")
    val rest = if (args.headOption.contains("--adversarial")) args.drop(1) else args
    val (Array(srcDir, outDir), onlyNames) = rest.splitAt(2)
    val only = onlyNames.toSet // empty = all (the driver's invocation)
    val sfDir = if (!adversarial) srcDir else {
      val fixture = new java.io.File("target/sfnull_verify").getAbsolutePath
      graft.io.IO.deletePath(fixture)
      val gen = new ProcessBuilder("python3", "tools/make_null_fixture.py",
          srcDir, fixture).inheritIO().start().waitFor()
      if (gen != 0) { System.err.println(s"[verify] fixture generation failed ($gen)"); sys.exit(gen) }
      fixture
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var dumpFailures = 0
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // delete the previous run's dump FIRST: a query that now throws at
      // analysis time (before the overwrite ever starts) must not leave a
      // stale parquet dir for the oracle compare to silently PASS on
      graft.io.IO.deletePath(s"$outDir/$name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        dumpFailures += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // same between-query hygiene as Bench: 173 queries in one session
      // otherwise accrete checkpoint blocks until the block manager fills
      Sweep.drop(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (adversarial) {
      // the oracle compare against the regenerated fixture IS the gate:
      // exit nonzero on any hash/row/schema mismatch — and on any DUMP
      // failure, which leaves no parquet dir for the compare to flag
      // (the per-query pre-delete above guarantees no stale dir can
      // stand in for a query that threw)
      val check = new ProcessBuilder(
          (Seq("python3", "tools/local_check.py", sfDir, outDir)
            ++ onlyNames): _*)
        .inheritIO().start().waitFor()
      if (dumpFailures > 0) {
        System.err.println(s"[verify] $dumpFailures quer(ies) failed to dump")
        sys.exit(if (check != 0) check else 1)
      }
      sys.exit(check)
    }
  }
}
