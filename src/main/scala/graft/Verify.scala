package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Contract hardening (round-2, after CORRECTNESS_r01 came back empty):
  *  - oracle_sql.json is written FIRST, before any query runs, so a
  *    timeout/crash mid-queries still leaves the driver a parseable oracle
  *    map (it then reports per-query "no spark output" instead of {}).
  *  - every query's dest file is deleted up front, so a failed query can
  *    never PASS against a stale parquet from a previous run (ADVICE r1).
  *  - a zero-partition result (legitimately empty) is re-written as
  *    df.limit(0).repartition(1) so an empty parquet with the right schema
  *    exists instead of a missing part file (ADVICE r1).
  *  - recursive deletes use java.nio (no commons-io dependency; ADVICE r1).
  */
object Verify {
  import Bench.jsonString

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  /** [[Bench.jsonString]] escapes ALL control chars (<0x20): a tab or CR
    * in builder-authored SQL would otherwise make the driver's json.load
    * fail and silently zero the round's correctness. */
  def writeOracleJson(outDir: String): Unit = {
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  /** Run one query and land a single parquet FILE at outDir/<name>.parquet.
    * Spark writes a directory of part files; coalesce(1) → one part, moved
    * to the exact contract path. Returns Some(rowCount) on success (counted
    * from the written file's footer — no query re-run), None on failure. */
  def dumpOne(spark: SparkSession, sfDir: String, outDir: String, name: String,
              fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Long] = {
    val dest = Paths.get(s"$outDir/$name.parquet")
    val scratch = Paths.get(s"$outDir/.__$name")
    Files.deleteIfExists(dest)
    deleteRecursive(scratch)
    try {
      val df = fn(spark, sfDir)
      df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      def findPart() = Option(scratch.toFile.listFiles()).getOrElse(Array.empty)
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      val part = findPart().getOrElse {
        // zero-partition plan → no part file; write an explicit empty file
        df.limit(0).repartition(1).write.mode("overwrite").parquet(scratch.toString)
        findPart().getOrElse(sys.error(s"no part file for $name"))
      }
      Files.move(part.toPath, dest)
      deleteRecursive(scratch)
      Some(spark.read.parquet(dest.toString).count())
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      deleteRecursive(scratch)
      None
    }
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name subset (dev iteration
    // only — the driver always runs the full set)
    val subset: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    // a correctness run may come without SPARK_GRAFT_CPUS; such dumps
    // have always been taken on 4 cores, so 4 stays the fallback here
    val spark = Engine.session("graft-verify", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // timestamp the run boundaries into the dump dir so a downstream
    // compare that ran before the dump finished is provable after the fact
    Files.writeString(Paths.get(s"$outDir/verify_started.txt"),
      java.time.Instant.now().toString + "\n")
    writeOracleJson(outDir)
    // queries are independent and write disjoint files; run a few
    // concurrently (Spark schedules concurrent jobs fine) to keep the
    // driver-side wall clock well inside any harness timeout
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Option[Long]]()
    val tasks = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => subset.forall(_.contains(name)) }
      .map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit = results.put(name, dumpOne(spark, sfDir, outDir, name, fn))
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    import scala.jdk.CollectionConverters._
    val sorted = results.asScala.toSeq.sortBy(_._1)
    // `executed` means the query ran and its dump was written; whether
    // the rows match the oracle is for tools/check_oracle.py to say
    val executed = sorted.count(_._2.isDefined)
    val fail = sorted.size - executed
    // ONE bare machine-readable JSON line as the last stdout, mirroring
    // Bench (whose line the driver parses every round), plus a file copy
    // in the dump dir and repo cwd — three paths to the same handshake.
    val qs = sorted.map { case (name, r) =>
      jsonString(name) + ":" + r.map(n => s"""{"executed":true,"rows":$n}""").getOrElse("""{"executed":false}""")
    }.mkString("{", ",", "}")
    val json = s"""{"verify":"done","executed":$executed,"failed":$fail,"sf":${jsonString(sfDir)},"queries":$qs}"""
    Files.writeString(Paths.get(s"$outDir/verify_result.json"), json + "\n")
    try Files.writeString(Paths.get("verify_out.json"), json + "\n")
    catch { case _: Throwable => () }
    Files.writeString(Paths.get(s"$outDir/verify_finished.txt"),
      java.time.Instant.now().toString + "\n")
    System.err.println(s"[verify] done: $executed executed, $fail failed -> $outDir")
    println(json)
    spark.stop()
  }
}
