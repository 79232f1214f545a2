package graft

/** Dev wrapper: write [[ScaleProbe.gen]]'s salted-copy fixture alone, to
  * profile probe queries at a chosen copy count with [[ProfileMany]].
  * Usage: runMain graft.GenCopies <nCopies> <outDir> [baseSfDir] [saltFrom] */
object GenCopies {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session("graft-gencopies")
    val base = args.lift(2).getOrElse("/root/testdata/sf0.1")
    ScaleProbe.gen(spark, base, args(0).toInt, args.lift(3).fold(0)(_.toInt), args(1))
    println(s"[gencopies] ${args(0)} copies of $base -> ${args(1)}")
    spark.stop()
  }
}
