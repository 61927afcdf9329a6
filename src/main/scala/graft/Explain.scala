package graft

/** Plan-inspection utility: prints the formatted physical plan of selected
  * SparkEntry queries so pushdown/broadcast/codegen properties can be
  * audited (and regressions spotted) without a debugger.
  *
  * Usage: runMain graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.builder("graft-explain", Sessions.cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries.get(name) match {
        case Some(fn) => fn(spark, sfDir).explain("formatted")
        case None => println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}
