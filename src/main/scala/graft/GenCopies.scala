package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Dev harness: materialize the ScaleProbe salted-copy documents
  * fixture standalone, so individual probe queries can be timed with
  * TimeOne at chosen copy counts without running the full probe.
  * Usage: runMain graft.GenCopies <nCopies> <outDir> [baseSfDir] [saltFrom]
  * Same construction as ScaleProbe.gen: per-copy token salting keeps
  * vocabularies disjoint (nothing dedups ACROSS copies), ids offset by
  * 10M per copy.
  */
object GenCopies {
  def main(args: Array[String]): Unit = {
    val n = args(0).toInt
    val out = args(1)
    val base = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val kFrom = if (args.length > 3) args(3).toInt else 0
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = Engine.tune(
      SparkSession.builder().master(s"local[$cpus]"), shufflePartitions = cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (!Files.exists(Paths.get(s"$out/documents.parquet"))) {
      val docs = Tables.documents(spark, base)
      (kFrom until kFrom + n).map { k =>
        docs.select(
          (col("doc_id") + lit((k - kFrom) * 10000000L)).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            t => substring(md5(concat(t, lit(s"#$k"))), 1, 6)), " ").as("text"),
          col("lang"), col("source"))
      }.reduce(_ unionByName _)
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }
    println(s"[gencopies] $n copies of $base/documents.parquet -> $out")
    spark.stop()
  }
}
