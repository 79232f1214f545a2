package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.store.Store
import graft.streaming.StreamIngest

/** JDBC passthrough (the reference's actual Postgres store surface,
  * spark_streaming.py:79-90) round-tripped against embedded Derby (the
  * only RDBMS shipped in /opt/spark/jars), and the Kafka-native source
  * construction path (spark_streaming.py:45-53) — the connector jar is
  * absent here, so the test pins exactly where the absence surfaces.
  */
class JdbcKafkaSpec extends AnyFunSuite {

  lazy val spark = Engine.session("jdbc-kafka")
  import spark.implicits._

  System.setProperty("derby.system.home", Engine.tempDir("derby_home"))

  private def derbyProps = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }
  private def freshUrl(name: String) =
    s"jdbc:derby:${Engine.tempDir(name)}/db;create=true"

  test("JDBC roundtrip against embedded Derby: overwrite, append, read back") {
    val url = freshUrl("derby_rt")
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)).toDF("id", "name", "v")
    Store.writeJdbc(df, url, "t1", "overwrite", derbyProps)
    Store.writeJdbc(df.filter(col("id") === 1), url, "t1", "append", derbyProps)
    val back = Store.readJdbc(spark, url, "t1", derbyProps)
    assert(back.count() == 4)
    assert(back.filter(col("id") === 1).count() == 2)
    assert(back.schema.fieldNames.map(_.toLowerCase).toSet == Set("id", "name", "v"))
  }

  test("bounded JDBC read fans out to numPartitions range readers") {
    val url = freshUrl("derby_part")
    Store.writeJdbc((0L until 100L).toDF("id"), url, "t2", "overwrite", derbyProps)
    val part = Store.readJdbc(spark, url, "t2", "id", 0L, 100L, 4, derbyProps)
    assert(part.rdd.getNumPartitions == 4, "one range reader per partition")
    assert(part.count() == 100)
    // every stripe actually carried rows — the range split is real work
    // distribution, not 1 full reader + 3 empties
    assert(part.groupBy(spark_partition_id().as("p")).count()
      .filter(col("count") > 0).count() == 4)
  }

  test("kafkaReader builds the reference's subscribe config; load() pins the jar boundary") {
    val r = StreamIngest.kafkaReader(spark, "broker1:9092,broker2:9092", "sale_rossman_store")
    // construction is valid; format RESOLUTION is what needs the
    // spark-sql-kafka connector jar, absent in this environment — the
    // error must be the canonical missing-data-source failure (proving
    // the option map reached DataSource lookup, not a silent no-op).
    val e = intercept[Exception](r.load())
    assert(e.getMessage.toLowerCase.contains("kafka"), e.getMessage)
  }

  test("kafkaWriter builds the producer-sink config; start() pins the jar boundary") {
    val stream = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
    val ckpt = Engine.tempDir("kafka_ck")
    val w = StreamIngest.kafkaWriter(stream, "broker1:9092", "forecast_topic", ckpt)
    val e = intercept[Exception](w.start())
    assert(e.getMessage.toLowerCase.contains("kafka"), e.getMessage)
  }

  test("parseEnvelope flattens a binary Kafka-shaped value") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    val raw = Seq("""{"id":1,"v":"x"}""").toDF("value")
      .select(col("value").cast("binary").as("value"))
    val out = StreamIngest.parseEnvelope(raw, schema)
    assert(out.columns.toSeq == Seq("id", "v"))
    assert(out.as[(Long, String)].collect().toSeq == Seq((1L, "x")))
  }
}
