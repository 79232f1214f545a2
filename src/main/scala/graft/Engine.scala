package graft

import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the engine.
  *
  * One place for every config that affects correctness or scale:
  *  - UTC session timezone (oracle parity; reference normalizes to UTC —
  *    services/training-service/app/db_utils.py:30).
  *  - AQE on: runtime re-planning (skew joins, partition coalescing) is the
  *    100-TB safety net for every shuffle this library emits.
  *  - shuffle partitions sized to the local core count; on a real
  *    cluster this is overridden by spark-submit conf, we only set a
  *    default that is sane for local mode (not 200).
  *  - nanosAsLong: the driver's events.parquet carries TIMESTAMP(NANOS)
  *    which Spark has no native type for; we read it as Long and convert
  *    to microsecond TimestampType in [[Tables.events]].
  */
object Engine {

  val DefaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  /** Warehouse for bucketed/managed tables (Store.saveBucketed, q72):
    * pinned to a fresh per-JVM temp dir instead of the default
    * `$PWD/spark-warehouse`, so saveAsTable works no matter which cwd
    * the harness launches from and never litters the repo. */
  private lazy val warehouseDir: String = tempDir("graft_wh")

  /** Directories to delete, with their contents, when the JVM exits. */
  private lazy val deleteAtExit = {
    val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
    sys.addShutdownHook(dirs.forEach(d => deleteTree(d)))
    dirs
  }

  /** A fresh temporary directory that lives as long as the JVM: the
    * engine's per-JVM state (warehouse, fixture memo) sits in these, and
    * none outlives the process that made it. */
  private[graft] def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    deleteAtExit.add(dir)
    dir.toString
  }

  /** Best effort: runs at exit, where a failure has nowhere to go. */
  private def deleteTree(root: Path): Unit =
    try {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach { p =>
        try Files.deleteIfExists(p) catch { case NonFatal(_) => () }
      } finally paths.close()
    } catch { case NonFatal(_) => () }

  /** Apply engine config to an arbitrary builder (shared by [[session]]
    * and the benchmark so every session behaves identically). */
  def tune(b: SparkSession.Builder, shufflePartitions: String = DefaultCpus): SparkSession.Builder =
    b.withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.shuffledHashJoinFactor", "3")
      .config("spark.ui.enabled", "false")

  /** The local session of every main and test: `local[cpus]`, `cpus`
    * shuffle partitions, WARN logs. */
  def session(appName: String = "graft", cpus: String = DefaultCpus): SparkSession = {
    val s = tune(SparkSession.builder().master(s"local[$cpus]").appName(appName), cpus)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
