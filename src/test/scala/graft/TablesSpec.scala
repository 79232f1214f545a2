package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** The session-scoped table catalog in [[Tables]]: one footer-reading
  * job per (session, table), none after; schemas equal to a plain read;
  * fresh relations on every call; sessions kept apart. */
class TablesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session("test")
  val sf = "/root/testdata/sf0.001"

  private lazy val jobs = {
    val n = new AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    })
    n
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Long) = {
    jobs
    ListenerBusDrain(spark.sparkContext)
    val before = jobs.get()
    val out = body
    ListenerBusDrain(spark.sparkContext)
    (out, jobs.get() - before)
  }

  private def resolveJobs(s: SparkSession, name: String): Long =
    jobsDuring(Tables.table(s, sf, name).schema)._2

  test("a table's first resolution in a session runs one job, later ones none") {
    // a new session has an empty catalog whatever ran before in this JVM
    val s = spark.newSession()
    assert(resolveJobs(s, "lineitem") == 1L)
    assert(resolveJobs(s, "lineitem") == 0L)
    assert(resolveJobs(s, "nation") == 1L)
    assert(resolveJobs(s, "lineitem") == 0L)
  }

  test("every table's schema equals a plain parquet read; events.ts stays a timestamp") {
    Tables.All.foreach { t =>
      Tables.table(spark, sf, t)
      assert(Tables.table(spark, sf, t).schema == spark.read.parquet(s"$sf/$t.parquet").schema, t)
    }
    Tables.events(spark, sf)
    assert(Tables.events(spark, sf).schema("ts").dataType == TimestampType)
  }

  test("each call is a fresh relation: a self-join of orders resolves") {
    Tables.orders(spark, sf)
    val a = Tables.orders(spark, sf)
    val b = Tables.orders(spark, sf)
    def ids(df: DataFrame) = df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    val joined = a.join(b, a("o_orderkey") === b("o_orderkey"))
    assert(joined.count() == a.count())
  }

  test("a new session resolves on its own, not from another session's entry") {
    val s1 = spark.newSession()
    assert(resolveJobs(s1, "orders") == 1L)
    val s2 = spark.newSession()
    assert(resolveJobs(s2, "orders") == 1L)
    assert(resolveJobs(s2, "orders") == 0L)
    assert(resolveJobs(s1, "orders") == 0L)
  }

  test("only metadata is held: files added after resolution are read") {
    val dir = Engine.tempDir("graft_tables")
    val part = Tables.nation(spark, sf)
    part.write.parquet(s"$dir/nation.parquet")
    val n = Tables.nation(spark, dir).count()
    part.write.mode("append").parquet(s"$dir/nation.parquet")
    assert(Tables.nation(spark, dir).count() == 2 * n)
  }

  test("no src/main read of a testdata table bypasses Tables") {
    // Source-level lint in the style of WindowSweepSpec's Window.orderBy
    // ban: a direct `spark.read...parquet("<dir>/<table>.parquet")` skips
    // the session catalog and pays the footer-reading job on every call.
    import scala.jdk.CollectionConverters._
    val read = ("""\.read((?:\s*\.\w+\([^()]*\))*)\s*\.(?:parquet|load)\(\s*s?"[^"]*/(""" +
      Tables.All.mkString("|") + """)\.parquet"""").r
    val root = java.nio.file.Paths.get("src/main/scala")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.toString.endsWith("graft/Tables.scala")) // the catalog itself
      .flatMap { p =>
        val src = java.nio.file.Files.readString(p)
        read.findAllMatchIn(src).map { m =>
          s"$p:${src.substring(0, m.start).count(_ == '\n') + 1}: ${m.matched.trim}"
        }
      }.toList
    assert(offenders.isEmpty,
      s"\ndirect table reads (use graft.Tables.table or its named accessors):\n  " +
        offenders.mkString("\n  "))
  }
}
