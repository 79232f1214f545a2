package graft

import java.nio.file.{Files, Paths}

/** Dev tool: profile a list of declared queries in one JVM — write each
  * query's `.explain("formatted")` to <outDir>/<name>_<tag>.txt, print
  * every run's seconds ([[Bench.timeOnce]], noop sink), then a per-query
  * line with planning time, best execution time of `runs`, and a
  * per-stage breakdown (tasks + wall) from the last run, so scan-stage
  * serialization (1-task stages doing the heavy per-row work) is visible
  * directly.
  *
  * Usage: runMain graft.ProfileMany <outDir> <tag> <q1,q2,...|topN=K> [sfDir] [runs]
  */
object ProfileMany {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names: Seq[String] = args(2) match {
      case s if s.startsWith("topN=") =>
        // rank by the newest committed detail when present, else alphabetical
        val k = s.stripPrefix("topN=").toInt
        val detail = Option(new java.io.File(".").listFiles())
          .getOrElse(Array.empty[java.io.File])
          .filter(_.getName.matches("BENCH_DETAIL_r\\d+[a-z]?\\.json"))
          .sortBy(_.getName).lastOption
          .map(f => Paths.get(f.getName))
          .getOrElse(Paths.get("BENCH_DETAIL_r13b.json"))
        // dev-tool parse guard (ADVICE r14): fall back to the
        // alphabetical path when the artifact's shape surprises us
        val ranked = if (Files.exists(detail)) {
          try {
            val txt = Files.readString(detail)
            val parts = txt.split("\"queries\":\\{", 2)
            if (parts.length < 2) Seq.empty
            else "\"(q[^\"]+)\":([0-9.]+)".r.findAllMatchIn(parts(1))
              .map(m => m.group(1) -> m.group(2).toDouble).toSeq
              .sortBy(-_._2).map(_._1)
              .filter(SparkEntry.queries.contains)
          } catch { case _: Throwable => Seq.empty }
        } else Seq.empty
        if (ranked.nonEmpty) ranked.take(k)
        else SparkEntry.queries.keys.toSeq.sorted.take(k)
      case s => s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val runs = if (args.length > 4) args(4).toInt else 2
    val spark = Engine.session("graft-profile")
    Files.createDirectories(Paths.get(outDir))
    // stage listener: collect (stageId, tasks, wallMs, name) per job window
    val stages = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, String)]
    import org.apache.spark.scheduler._
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L)
        stages.synchronized {
          stages += ((si.stageId, si.numTasks, wall, si.name.takeWhile(_ != '\n').take(70)))
        }
      }
    })
    // warmup scan
    try Tables.lineitem(spark, sfDir).limit(100)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"[profile] $name: NOT FOUND")
        case Some(fn) =>
          try {
            val tPlan0 = System.nanoTime()
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            val planSec = (System.nanoTime() - tPlan0) / 1e9
            Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), plan)
            var best = Double.MaxValue
            var lastStages = Seq.empty[(Int, Int, Long, String)]
            (1 to runs).foreach { i =>
              stages.synchronized(stages.clear())
              val t = Bench.timeOnce(spark, sfDir, name, fn)
                .fold(e => throw new IllegalStateException(e), identity)
              println(f"[profile] $name run $i: $t%.3f s")
              if (t < best) best = t
              lastStages = stages.synchronized(stages.toSeq)
            }
            val exch = "Exchange".r.findAllIn(plan).size
            val oneTask = lastStages.filter(s => s._2 == 1 && s._3 > 200)
            println(f"[profile] $name plan=$planSec%.2fs best=$best%.2fs exchanges=$exch stages=${lastStages.size} oneTaskHot=${oneTask.size}")
            lastStages.sortBy(-_._3).take(6).foreach { case (id, nt, w, nm) =>
              println(f"[profile]    stage $id%4d tasks=$nt%4d wall=${w / 1000.0}%7.2fs  $nm")
            }
          } catch { case e: Throwable =>
            println(s"[profile] $name FAILED: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
