package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Table layer over the driver's deterministic parquet testdata
  * (`/root/testdata/sf*` — see TESTDATA.md): TPC-H-ish star schema plus an
  * `events` stream table, a `documents` text table and an `embeddings`
  * vector table.
  *
  * Mirrors the reference's "catalog": fixed, declared schemas
  * (services/airflow/dags/db_utils.py:21-47) plus schema-on-read
  * reflection (db_utils.py:71-75) — here reflection is simply parquet
  * footer schema discovery, which is also what a 1000-executor cluster
  * wants (no driver-side catalog bottleneck, columnar at rest, min/max
  * page stats for predicate pushdown).
  *
  * Each table resolves once per session: the first [[table]] call reads
  * the parquet footer (one Spark job) and later calls reuse that schema
  * (no job), as a catalog table reuses its declared schema. Only the
  * `StructType` is held — never rows, a cached DataFrame or a file
  * index — so every call still lists the files and builds a fresh
  * relation, and every scan runs when the query runs.
  */
object Tables {

  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Footer schema per session and table path. The session is part of
    * the key because the inferred schema follows session SQL conf
    * (nanosAsLong reads `events.ts` as Long). The key is weak: the map
    * never keeps a session alive, and a stopped session's entries go
    * when it is collected. */
  private val schemas =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, StructType]]()

  private def schemasOf(spark: SparkSession): ConcurrentHashMap[String, StructType] =
    schemas.synchronized(schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap()))

  /** Generic scan. Filters/projections applied downstream reach the
    * parquet reader via Catalyst pushdown — verified in plans as
    * PushedFilters/ReadSchema. Every call returns a new relation with
    * fresh expression ids, so self-joins resolve. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val known = schemasOf(spark)
    known.get(path) match {
      case null =>
        val df = spark.read.parquet(path)
        known.putIfAbsent(path, df.schema)
        df
      case schema => spark.read.schema(schema).parquet(path)
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Register every testdata table as a temp view so the `spark.sql`
    * entry point works side by side with the DataFrame API (the
    * reference's users speak SQL through SQLAlchemy; here they can
    * speak it to Spark directly). */
  def registerViews(spark: SparkSession, dir: String): Unit =
    All.foreach { name =>
      val df = if (name == "events") events(spark, dir) else table(spark, dir, name)
      df.createOrReplaceTempView(name)
    }

  /** `events.ts` has shipped in two physical shapes across testdata
    * generations: TIMESTAMP(NANOS) parquet (Spark reads as Long under
    * Engine's nanosAsLong) and plain timestamp[us] (Spark reads as
    * TIMESTAMP_NTZ). Normalise both to microsecond TimestampType in the
    * UTC session so every downstream query sees one schema. Integer
    * `div`, not `/`, for the nanos path — ns-since-epoch exceeds 2^53
    * and double division would lose precision. The NTZ cast is a pure
    * metadata relabel at UTC (same epoch micros), so it costs nothing
    * at scan time and keeps parity with the DuckDB oracle's naive
    * TIMESTAMP reading. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
}
