package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.{Sessions, SparkEntry}
import graft.pipeline.{CorpusRun, DailyRun, IndexRun}

/** One benchmark process: a fresh SparkSession over an empty warehouse,
  * a bootstrap operation, then the timed operations of one workload in a
  * closed loop. Each operation's wall time is taken around the public
  * entry point only; the heap sample and the warehouse census run between
  * operations, outside every timed region.
  *
  * Usage: Harness <planFile> <workDir> <outFile> <cpus> <launchedEpochMs> <trace 0|1>
  *
  * The plan file holds one operation per line, tab-separated:
  *   B|T  night  <n> <landingDir> <runTs>          (DailyRun)
  *   B|T  corpus <n> <docsFile> <embFile> <runTs>  (CorpusRun + IndexRun)
  *   B|T  query  <name> <tablesDir>                (SparkEntry query)
  *   G                                             (heap sample)
  * B lines are the bootstrap (counted in set-up), T lines are timed. A G
  * line takes the live heap after a full GC, outside every timed region.
  */
object Harness {
  final case class Call(name: String, startMs: Long, endMs: Long, seconds: Double)

  def main(args: Array[String]): Unit = {
    val Array(planFile, workDir, outFile, cpus, launchedMs, traceFlag) = args
    val plan = Files.readAllLines(Paths.get(planFile)).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t", -1).toSeq)
    val wh = s"$workDir/wh"
    var benchOnlyMs = 0L // benchmark-only work inside the set-up window
    val spark = Sessions.builder("perfbench", cpus)
      .config("spark.sql.warehouse.dir", s"$workDir/sql-warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (traceFlag == "1") Some(Tracer.install(spark)) else None

    // the host marker runs in traced runs only: its first jobs would warm
    // the session for the bootstrap, which set-up time must pay itself
    val calibS = if (tracer.isEmpty) -1.0 else {
      spark.range(1 << 18).selectExpr("sum(id)").collect()
      calibKernel(spark)
    }

    val ops = ArrayBuffer[String]()
    var firstTimedMs = -1L
    val heapSamples = ArrayBuffer[Double]()
    var census = Map.empty[String, (Long, Long)]
    var opIndex = 0
    for (line <- plan) if (line.head == "G") {
      // a heap sample: a trivial job first (Spark holds on to the last
      // execution's plan and broadcasts until the next one, which would make
      // the sample depend on which operation ran last), drain the listener
      // bus (its queued events hold plans), then full GCs 200 ms apart, so
      // the context cleaner can drop the blocks of collected broadcasts and
      // RDDs, until two readings agree within 1 MB (at most four)
      val g0 = System.currentTimeMillis()
      spark.range(1).collect()
      Tracer.drain(spark)
      System.gc()
      var previous = Double.MaxValue
      var current = 0.0
      var readings = 0
      while (math.abs(current - previous) > 1.0 && readings < 4) {
        Thread.sleep(200)
        System.gc()
        previous = current
        current = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == MemoryType.HEAP)
          .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
        readings += 1
      }
      heapSamples += current
      if (firstTimedMs < 0) benchOnlyMs += System.currentTimeMillis() - g0
    } else {
      val timed = line.head == "T"
      if (timed && firstTimedMs < 0) firstTimedMs = System.currentTimeMillis()
      opIndex += 1
      val span = if (timed) s"op$opIndex" else ""
      val opStart = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val codegen0 = codegenNs()
      val calls = ArrayBuffer[Call]()
      def call[T](name: String)(body: => T): T = {
        spark.sparkContext.setLocalProperty(Tracer.SpanKey, if (timed) s"$span/$name" else null)
        val s0 = System.currentTimeMillis()
        val c0 = System.nanoTime()
        try body
        finally {
          calls += Call(name, s0, System.currentTimeMillis(), (System.nanoTime() - c0) / 1e9)
          spark.sparkContext.setLocalProperty(Tracer.SpanKey, null)
        }
      }
      var error: String = null
      var result: (Seq[String], Array[Row]) = null
      try {
        line(1) match {
          case "night" =>
            val outcome = call("pipeline.DailyRun") { DailyRun.run(spark, line(3), wh, line(4)) }
            require(outcome == "SUCCESS", s"DailyRun returned $outcome")
          case "corpus" =>
            val sem = CorpusRun.SemanticStage(line(4))
            val c = call("pipeline.CorpusRun") {
              CorpusRun.run(spark, line(3), wh, line(5), semantic = Some(sem))
            }
            require(c == "SUCCESS", s"CorpusRun returned $c")
            val i = call("pipeline.IndexRun") { IndexRun.run(spark, line(4), wh, line(5), idCol = "doc_id") }
            require(i == "SUCCESS", s"IndexRun returned $i")
          case "query" =>
            val df = call("SparkEntry.build") { SparkEntry.queries(line(2))(spark, line(3)) }
            result = (df.columns.toSeq, call("SparkEntry.result") { df.collect() })
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          error = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"
      }
      val seconds = (System.nanoTime() - t0) / 1e9
      val opEnd = System.currentTimeMillis()
      val codegenS = (codegenNs() - codegen0) / 1e9

      // ── outside the timed region ──────────────────────────────────────
      val obs = if (error != null) s"""{"error":${Json.str(error)}}""" else observe(line, result)
      val now = Census.take(new File(wh))
      val (written, deleted) = Census.diff(census, now)
      census = now
      val callsJson = calls.map(c =>
        s"""{"name":${Json.str(c.name)},"start_ms":${c.startMs},"end_ms":${c.endMs},"s":${c.seconds}}""")
      ops += s"""{"index":$opIndex,"timed":$timed,"kind":${Json.str(line(1))},""" +
        s""""label":${Json.str(line(2))},"start_ms":$opStart,"end_ms":$opEnd,"s":$seconds,""" +
        s""""codegen_s":$codegenS,"calls":[${callsJson.mkString(",")}],""" +
        s""""fs":{"files_written":$written,"files_deleted":$deleted,"files_live":${now.size},""" +
        s""""bytes_live":${now.values.map(_._1).sum}},"obs":$obs}"""
      if (firstTimedMs < 0) benchOnlyMs += System.currentTimeMillis() - opEnd
    }
    Tracer.drain(spark)
    val out = new PrintWriter(outFile, "UTF-8")
    try {
      out.print(s"""{"launched_ms":$launchedMs,""" +
        s""""first_timed_ms":$firstTimedMs,"bench_only_ms":$benchOnlyMs,"calib_s":$calibS,""" +
        s""""cpus":$cpus,"heap_mb":[${heapSamples.mkString(",")}],"ops":[${ops.mkString(",\n")}],""" +
        s""""trace":${tracer.map(_.toJson).getOrElse("null")}}""")
    } finally out.close()
    spark.stop()
  }

  /** `graft.Bench`'s host-calibration kernel, re-implemented: a 4M-row
    * range scan, a 1024-key hash aggregate and a scalar collect.
    */
  private def calibKernel(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(1L << 22)
      .selectExpr("id % 1024 as k", "id as v")
      .groupBy("k").sum("v")
      .selectExpr("sum(`sum(v)`)")
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** JVM-wide Janino compile time, in nanoseconds. */
  private def codegenNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** A query's collected result, for the fingerprint check made by the
    * caller of this process (pipeline nights are checked there from the
    * warehouse files).
    */
  private def observe(line: Seq[String], result: (Seq[String], Array[Row])): String =
    if (result == null) "{}"
    else {
      val (cols, rows) = result
      val body = rows.map(r => (0 until r.length).map(i => Json.value(r.get(i))).mkString("[", ",", "]"))
      s"""{"columns":[${cols.map(Json.str).mkString(",")}],"rows":[${body.mkString(",")}],""" +
        s""""oracle_sql":${Json.str(SparkEntry.oracleSql(line(2)))}}"""
    }
}

/** File census of the warehouse: path → (bytes, mtime). */
object Census {
  def take(root: File): Map[String, (Long, Long)] =
    if (!root.exists()) Map.empty
    else {
      val stream = Files.walk(root.toPath)
      try stream.iterator().asScala.filter(p => Files.isRegularFile(p))
        .map((p: Path) => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
      finally stream.close()
    }

  /** (files written, files deleted) between two censuses. */
  def diff(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): (Int, Int) =
    (after.count { case (p, v) => !before.get(p).contains(v) }, before.keys.count(p => !after.contains(p)))
}

/** Minimal JSON encoding for the harness output. Doubles and decimals are
  * tagged strings so that their exact digits survive the trip.
  */
object Json {
  def str(s: String): String =
    if (s == null) "null"
    else {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case '\n' => b ++= "\\n"
        case '\r' => b ++= "\\r"
        case '\t' => b ++= "\\t"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    }

  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case s: Short => s.toString
    case b: Byte => b.toString
    case d: Double => s"""["d",${str(d.toString)}]"""
    case f: Float => s"""["d",${str(f.toDouble.toString)}]"""
    case d: java.math.BigDecimal => s"""["n",${str(d.toPlainString)}]"""
    case d: scala.math.BigDecimal => s"""["n",${str(d.bigDecimal.toPlainString)}]"""
    case t: java.sql.Timestamp => s"""["t",${str(t.toLocalDateTime.toString)}]"""
    case t: java.time.LocalDateTime => s"""["t",${str(t.toString)}]"""
    case t: java.time.Instant => s"""["t",${str(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).toString)}]"""
    case d: java.sql.Date => s"""["D",${str(d.toLocalDate.toString)}]"""
    case d: java.time.LocalDate => s"""["D",${str(d.toString)}]"""
    case s: scala.collection.Seq[_] => s.map(x => value(x)).mkString("""["l",[""", ",", "]]")
    case r: Row => (0 until r.length).map(i => value(r.get(i))).mkString("""["l",[""", ",", "]]")
    case other => str(other.toString)
  }
}
