package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Job-level profiler for declared queries: runs each named query twice
  * (cold discarded, warm timed) in one session and prints every Spark job
  * the warm run submits — start offset, duration, stage count, task count,
  * and the job's call-site description — so a query's seconds can be
  * attributed to specific jobs (count probes, checkpoint materializations,
  * the final count) instead of guessed at. Measurement-only: no declared
  * query changes.
  *
  * Usage: runMain graft.Profile <sfDir> <query> [query ...]
  */
object Profile {
  private case class JobRec(
      id: Int, desc: String, t0: Long, var t1: Long = -1L,
      var stages: Int = 0, var tasks: Int = 0,
      val stageNames: scala.collection.mutable.ArrayBuffer[String] =
        scala.collection.mutable.ArrayBuffer.empty)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = Sessions.builder("graft-profile", Sessions.cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    @volatile var recording = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(e.jobId, JobRec(e.jobId, desc, e.time))
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId)
        if (r != null) r.t1 = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val jid = stageToJob.getOrDefault(e.stageInfo.stageId, -1)
        val r = jobs.get(jid)
        if (r != null) {
          r.stages += 1; r.tasks += e.stageInfo.numTasks
          val ms = e.stageInfo.completionTime.getOrElse(0L) -
            e.stageInfo.submissionTime.getOrElse(0L)
          r.stageNames += s"[${e.stageInfo.numTasks}tk ${ms}ms ${e.stageInfo.name.take(60)}]"
          if (ms > 400) {
            val rdds = e.stageInfo.rddInfos
              .map(ri => s"${ri.id}:${ri.name}${ri.scope.map(s => s"(${s.name})").getOrElse("")}")
              .mkString(" <- ")
            r.stageNames += s"      rdds: ${rdds.take(400)}"
          }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"unknown query: $name")
        case Some(fn) =>
          // cold pass: codegen + caches primed exactly as Bench's warmup does
          try fn(spark, sfDir).count() catch { case e: Throwable => println(s"cold fail: $e") }
          spark.catalog.clearCache()
          jobs.clear()
          recording = true
          val w0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          val wall = (System.nanoTime() - w0) / 1e9
          recording = false
          spark.catalog.clearCache()
          val recs = {
            import scala.jdk.CollectionConverters._
            jobs.values.asScala.toSeq.sortBy(_.t0)
          }
          val base = recs.headOption.map(_.t0).getOrElse(0L)
          println(f"\n===== $name%s warm wall=$wall%.3f s rows=$n%d jobs=${recs.size}%d =====")
          recs.foreach { r =>
            val dur = if (r.t1 >= 0) (r.t1 - r.t0) / 1e3 else -1.0
            val off = (r.t0 - base) / 1e3
            println(f"  job ${r.id}%4d  +$off%7.3f s  $dur%7.3f s  st=${r.stages}%2d tk=${r.tasks}%4d  ${r.desc.take(60)}%s")
            r.stageNames.foreach(sn => println(s"        $sn"))
          }
          val sum = recs.filter(_.t1 >= 0).map(r => (r.t1 - r.t0) / 1e3).sum
          println(f"  sum(job durations)=$sum%.3f s vs wall $wall%.3f s (gap = driver/planning time)")
      }
    }
    spark.stop()
  }
}
