package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.control.RunLedger
import graft.operators.Multimodal
import graft.sources.CsvIngest
import graft.streaming.EventStreams

/** Specs for multimodal plumbing, CSV ingest alignment, control-plane
  * gates, and streaming batch-parity.
  */
class ModulesSpec extends SparkSpec {

  test("multimodal: decodeFeatures round-trips binary payloads partition-wise") {
    import spark.implicits._
    val jpegMagic = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0x10)
    val df = Seq(
      (1L, jpegMagic),
      (2L, "RIFFxxxx".getBytes("UTF-8")),
      (3L, Array.empty[Byte]),
      (4L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload")
    val out = Multimodal.decodeFeatures(df, "payload").orderBy("id").collect()
    val jpeg = out(0).getStruct(2)
    assert(jpeg.getAs[String]("format") == "jpeg")
    assert(jpeg.getAs[Int]("width") == 0xff && jpeg.getAs[Int]("height") == 0xd8)
    assert(out(1).getStruct(2).getAs[String]("format") == "wav")
    assert(out(2).isNullAt(2) && out(3).isNullAt(2), "empty/null payloads → null features")
    // checksum matches Spark's own md5 of the same bytes
    val viaSql = df.filter(col("id") === 2).select(md5(col("payload"))).head().getString(0)
    assert(out(1).getStruct(2).getAs[String]("checksum") == viaSql)
  }

  test("multimodal: HeaderDecoder parses real PNG/JPEG/GIF headers from bytes") {
    import Multimodal.{Fixtures, HeaderDecoder}
    val png = HeaderDecoder.decode(Fixtures.pngBytes(1920, 1080))
    assert(png.format == "png" && png.width == 1920 && png.height == 1080)
    assert(png.byte_len == 33L)

    val jpeg = HeaderDecoder.decode(Fixtures.jpegBytes(640, 480))
    assert(jpeg.format == "jpeg" && jpeg.width == 640 && jpeg.height == 480)
    assert(jpeg.byte_len == 41L)

    val gif = HeaderDecoder.decode(Fixtures.gifBytes(320, 200))
    assert(gif.format == "gif" && gif.width == 320 && gif.height == 200)

    // dims beyond u16/u8 boundaries exercise endianness + sign handling
    val wide = HeaderDecoder.decode(Fixtures.pngBytes(70000, 3))
    assert(wide.width == 70000 && wide.height == 3, "PNG u32be dims survive > 16 bits")
    val jMax = HeaderDecoder.decode(Fixtures.jpegBytes(65535, 65535))
    assert(jMax.width == 65535 && jMax.height == 65535, "JPEG u16be dims unsigned")

    // truncated/malformed headers fall back to the stub, never throw
    val trunc = HeaderDecoder.decode(Fixtures.pngBytes(10, 10).take(12))
    assert(trunc.format == "unknown")
    val noSof = HeaderDecoder.decode(Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte))
    assert(noSof.format == "jpeg" && noSof.width == 0xff,
      "JPEG with no SOF frame header → stub dims")
    // WAV: RIFF chunk walk → width=sample rate, height=channels
    val wav = HeaderDecoder.decode(Fixtures.wavBytes(44100, 2))
    assert(wav.format == "wav" && wav.width == 44100 && wav.height == 2)
    assert(wav.byte_len == 44L)

    // checksum identical to the stub's (same md5 contract)
    assert(png.checksum == Multimodal.StubDecoder.decode(Fixtures.pngBytes(1920, 1080)).checksum)

    // MP4/ISO-BMFF: ftyp → moov → mvhd (duration, timescale) + tkhd dims
    val mp4 = HeaderDecoder.decode(Fixtures.mp4Bytes(1280, 720, 90000L, 3780000L))
    assert(mp4.format == "mp4" && mp4.width == 1280 && mp4.height == 720)
    val meta = HeaderDecoder.decodeMp4(Fixtures.mp4Bytes(1280, 720, 90000L, 3780000L)).get
    assert(meta.timescale == 90000L && meta.duration_ticks == 3780000L)
    assert(meta.byte_len == 236L)
    // truncated mid-box → stub fallback / None, never a throw
    assert(HeaderDecoder.decode(Fixtures.mp4Bytes(64, 64, 1000L, 5000L).take(40))
      .format == "unknown")
    assert(HeaderDecoder.decodeMp4(Fixtures.mp4Bytes(64, 64, 1000L, 5000L).take(40)).isEmpty)
    // hostile box size (overruns the buffer) ends the walk, no hang
    val hostile = Fixtures.mp4Bytes(8, 8, 1000L, 1000L).clone
    (20 until 24).foreach(hostile(_) = 0xff.toByte) // moov's u32be size → huge
    assert(HeaderDecoder.decodeMp4(hostile).isEmpty)
    // version-1 headers (64-bit times) shift every offset
    def b32(v: Long) = Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def b64(v: Long) = b32(v >>> 32) ++ b32(v & 0xffffffffL)
    def bx(t: String, p: Array[Byte]) = b32(p.length + 8L) ++ t.getBytes("US-ASCII") ++ p
    val mvhd1 = bx("mvhd", Array[Byte](1, 0, 0, 0) ++ b64(0) ++ b64(0) ++
      b32(600) ++ b64(1200) ++ Array.fill[Byte](80)(0))
    val tkhd1 = bx("tkhd", Array[Byte](1, 0, 0, 7) ++ b64(0) ++ b64(0) ++
      b32(1) ++ b32(0) ++ b64(1200) ++ Array.fill[Byte](16)(0) ++
      Array.fill[Byte](36)(0) ++ b32(320L << 16) ++ b32(240L << 16))
    val v1 = bx("ftyp", "isomisom".getBytes("US-ASCII")) ++
      bx("moov", mvhd1 ++ bx("trak", tkhd1))
    val m1 = HeaderDecoder.decodeMp4(v1).get
    assert(m1.timescale == 600L && m1.duration_ticks == 1200L &&
      m1.width == 320 && m1.height == 240,
      s"v1 box offsets: $m1")
    // an UNDERSIZED tkhd box must yield None, not dims read from the
    // bytes of whatever sibling box follows it inside the moov
    val mvhd0 = bx("mvhd", Array[Byte](0, 0, 0, 0) ++ b32(0) ++ b32(0) ++
      b32(1000) ++ b32(5000) ++ Array.fill[Byte](80)(0))
    val shortTkhd = bx("tkhd", Array[Byte](0, 0, 0, 7) ++ b32(0)) // 8-byte payload
    val sibling = bx("free", Array.fill[Byte](96)(0x42))
    val undersized = bx("ftyp", "isomisom".getBytes("US-ASCII")) ++
      bx("moov", mvhd0 ++ bx("trak", shortTkhd ++ sibling))
    assert(HeaderDecoder.decodeMp4(undersized).isEmpty,
      "undersized leaf boxes must not leak sibling bytes as metadata")
  }

  test("multimodal: frame sampling explodes stride-spaced indices") {
    import spark.implicits._
    val df = Seq((1L, 10), (2L, 1)).toDF("id", "n_frames")
    val frames = Multimodal.sampleFrames(df, "n_frames", 4)
      .groupBy("id").agg(collect_list("frame_idx").as("idx"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(frames(1L) == Seq(0, 4, 8))
    assert(frames(2L) == Seq(0))
  }

  test("csv ingest: header-driven column intersection with stamps (load_staging semantics)") {
    import spark.implicits._
    val dir = new java.io.File(tempDir("csv_ingest"))
    val f = new java.io.File(dir, "products_raw_2025_11_23.csv")
    // crawler header superset incl. columns the DB table doesn't have
    java.nio.file.Files.writeString(f.toPath,
      "ID,TEN,GIA_CU,QUA_TANG\n1,iPhone,1000,gift\n2,Nokia,,x\n")
    val target = StructType(Seq(
      StructField("ID", IntegerType),
      StructField("TEN", StringType),
      StructField("GIA_CU", StringType),
      StructField("BO_NHO", StringType), // in table, not in CSV → null
      StructField("NGAY", TimestampType), // stamped
      StructField("ID_CONFIG", IntegerType))) // stamped
    val out = CsvIngest.readAligned(
      spark, f.getAbsolutePath, target,
      stamps = Map(
        "NGAY" -> lit("2025-11-23 06:00:00").cast("timestamp"),
        "ID_CONFIG" -> lit(1)))
    assert(out.columns.toSeq == target.fields.map(_.name).toSeq)
    val rows = out.orderBy("ID").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("TEN") == "iPhone")
    assert(rows(0).isNullAt(3), "BO_NHO absent from CSV → null")
    assert(rows(0).getAs[Int]("ID_CONFIG") == 1)
    assert(rows(1).isNullAt(2), "empty GIA_CU → null string")
    // QUA_TANG (CSV-only) must not leak through
    assert(!out.columns.contains("QUA_TANG"))
  }

  test("csv ingest: latest-by-mtime file resolution") {
    val dir = new java.io.File(tempDir("csv_latest"))
    def mk(name: String, mtime: Long): Unit = {
      val f = new java.io.File(dir, name)
      java.nio.file.Files.writeString(f.toPath, "ID\n1\n")
      f.setLastModified(mtime)
    }
    val base = System.currentTimeMillis() - 100000
    mk("products_raw_2025_11_21.csv", base)
    mk("products_raw_2025_11_23.csv", base + 2000)
    mk("products_raw_2025_11_22.csv", base + 1000)
    mk("unrelated.csv", base + 9000) // wrong prefix, must be ignored
    val got = CsvIngest.latestByMtime(dir.getAbsolutePath)
    assert(got.exists(_.endsWith("products_raw_2025_11_23.csv")), s"got $got")
    assert(CsvIngest.latestByMtime("/nonexistent-dir").isEmpty)
  }

  test("run ledger: idempotency + mutual-exclusion gates") {
    val now = java.time.LocalDateTime.of(2025, 11, 23, 12, 0)
    def ts(t: java.time.LocalDateTime) =
      t.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    def ledger(rows: (Long, String, java.time.LocalDateTime, String)*) = {
      import spark.implicits._
      rows.map { case (id, process, start, status) =>
        (id, process, ts(start),
          if (status == "RUNNING") None else Some(ts(start.plusMinutes(5))), status)
      }.toDF("id", "process_name", "start_time", "end_time", "status").select(
        col("id"), col("process_name"), col("start_time").cast("timestamp"),
        col("end_time").cast("timestamp"), col("status"), col("status").as("message"))
    }
    val stale = now.minusHours(RunLedger.StaleRunningHours + 2)
    // (case, ledger rows, gate answer for "transform" at `now`)
    val table = Seq(
      ("empty ledger", ledger(), Some(1L)),
      ("SUCCESS today → skip", ledger((1L, "transform", now.minusHours(6), "SUCCESS")), None),
      ("SUCCESS yesterday → run",
        ledger((1L, "transform", now.minusDays(1), "SUCCESS")), Some(2L)),
      ("FAILED today → run", ledger((4L, "transform", now.minusHours(6), "FAILED")), Some(5L)),
      ("fresh RUNNING → skip", ledger((1L, "transform", now.minusHours(2), "RUNNING")), None),
      ("RUNNING just inside the stale window → skip",
        ledger((1L, "transform", stale.plusHours(3), "RUNNING")), None),
      ("stale RUNNING (hard-killed driver) → run",
        ledger((1L, "transform", stale, "RUNNING")), Some(2L)),
      ("another process's rows do not gate, but count toward the id",
        ledger((1L, "transform", now.minusDays(1), "SUCCESS"),
          (7L, "crawl", now.minusHours(6), "SUCCESS"),
          (8L, "crawl", now.minusHours(1), "RUNNING")), Some(9L)))
    for ((name, l, expected) <- table)
      assert(RunLedger.gate(l, "transform", ts(now)) == expected, name)

    // the lifecycle the pipelines run: register, close SUCCESS with the
    // verbatim SP message, then today skips and tomorrow runs
    val id1 = RunLedger.gate(RunLedger.empty(spark), "transform", ts(now)).get
    val l1 = RunLedger.startRun(RunLedger.empty(spark), id1, "transform", ts(now))
    assert(RunLedger.gate(l1, "transform", ts(now)).isEmpty)
    assert(RunLedger.gate(l1, "crawl", ts(now)).contains(id1 + 1))
    val l2 = RunLedger.finishRun(l1, id1, "SUCCESS", ts(now.plusMinutes(5)),
      RunLedger.statsMessage(graft.operators.ScdStats(239, 239, 0)))
    assert(RunLedger.gate(l2, "transform", ts(now)).isEmpty)
    assert(RunLedger.gate(l2, "transform", ts(now.plusDays(1))).contains(id1 + 1))
    val msg = l2.filter(col("id") === id1).select("message").head().getString(0)
    assert(msg == "SCD Type 2 completed successfully. Rows Processed: 239. " +
      "New Rows Inserted: 239. Old Rows Expired (Updated): 0.")
  }

  test("run ledger: a FAILED close that fails too does not mask the stage's error") {
    val ledgerPath = tempDir("graft_ledger") + "/process_log"
    val stageError = new IllegalStateException("stage failed")
    val thrown = intercept[IllegalStateException] {
      RunLedger.guarded(spark, ledgerPath, "transform", "2025-11-23 06:00:00") {
        // the RUNNING row is on disk: truncate it so the FAILED close
        // cannot read the ledger back
        for (f <- new java.io.File(ledgerPath).listFiles() if f.getName.endsWith(".parquet")) {
          val raf = new java.io.RandomAccessFile(f, "rw")
          raf.setLength(f.length() / 2)
          raf.close()
        }
        throw stageError
      }
    }
    assert(thrown eq stageError)
    assert(thrown.getSuppressed.length == 1, "the ledger error rides along as suppressed")
    assert(thrown.getSuppressed.head.isInstanceOf[org.apache.spark.SparkException],
      thrown.getSuppressed.head)
  }

  test("sql registry: commands stored as rows execute against temp views") {
    import spark.implicits._
    val registry = Seq(
      ("clean_names", "SELECT id, upper(name) AS name FROM people WHERE name <> ''"),
      ("count_all", "SELECT count(*) AS n FROM people"))
      .toDF("command_name", "sql_query")
    val commands = graft.control.SqlRegistry.load(registry)
    val people = Seq((1, "an"), (2, ""), (3, "bo")).toDF("id", "name")
    val cleaned = graft.control.SqlRegistry.execute(
      spark, commands, "clean_names", Map("people" -> people))
    assert(cleaned.collect().map(r => (r.getInt(0), r.getString(1))).toSet == Set((1, "AN"), (3, "BO")))
    val n = graft.control.SqlRegistry.execute(
      spark, commands, "count_all", Map("people" -> people)).head().getLong(0)
    assert(n == 3)
    intercept[IllegalArgumentException] {
      graft.control.SqlRegistry.execute(spark, commands, "nope", Map.empty)
    }
  }

  test("streaming: windowedCounts batch result matches a streaming AvailableNow run") {
    import spark.implicits._
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val batch = EventStreams.windowedCounts(events)

    val tmp = tempDir("stream")
    val landing = s"$tmp/landing"
    events.write.parquet(landing)
    val schema = spark.read.parquet(landing).schema
    EventStreams.runAvailableNow(spark, landing, schema, s"$tmp/sink", s"$tmp/ckpt")
    val streamed = spark.read.parquet(s"$tmp/sink")

    // streaming append-mode only emits windows sealed by the watermark;
    // every emitted window must match the batch result exactly
    val joined = streamed.alias("s").join(
      batch.alias("b"),
      col("s.window_start") === col("b.window_start") && col("s.event_type") === col("b.event_type"))
    assert(streamed.count() > 0, "stream emitted no sealed windows")
    assert(joined.count() == streamed.count(), "streamed window missing from batch result")
    assert(joined.filter(
      col("s.n_events") =!= col("b.n_events") ||
        abs(col("s.total_value") - col("b.total_value")) > 1e-9).count() == 0)
  }

  test("streaming: sessionize emits timed-out sessions via the watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventStreams.EventRow]
    val q = EventStreams.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_out").outputMode("append").start()
    try {
      input.addData(
        EventStreams.EventRow(1L, java.time.Instant.parse("2024-01-01T10:00:00Z"), "click", 1.0),
        EventStreams.EventRow(1L, java.time.Instant.parse("2024-01-01T10:10:00Z"), "click", 2.0))
      q.processAllAvailable()
      // later traffic pushes the watermark past user 1's timeout
      input.addData(
        EventStreams.EventRow(2L, java.time.Instant.parse("2024-01-01T14:00:00Z"), "view", 5.0))
      q.processAllAvailable()
      input.addData(
        EventStreams.EventRow(2L, java.time.Instant.parse("2024-01-01T15:00:00Z"), "view", 6.0))
      q.processAllAvailable()
      val out = spark.table("sessions_out").as[EventStreams.UserSession].collect()
      assert(out.exists(s => s.user_id == 1L && s.n_events == 2 && s.total_value == 3.0),
        s"timed-out session missing: ${out.mkString(",")}")
    } finally q.stop()
  }

  test("streaming: a late-but-in-watermark row widens the open session instead of rewinding it") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventStreams.EventRow]
    val q = EventStreams.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_late").outputMode("append").start()
    try {
      // batch 1 opens user 1's session at 10:20
      input.addData(
        EventStreams.EventRow(1L, java.time.Instant.parse("2024-01-01T10:20:00Z"), "click", 1.0))
      q.processAllAvailable()
      // batch 2 delivers a LATE row at 10:05 — within the 30-min
      // watermark AND within the gap of the session interval: the old
      // merge rewound lastSeen to 10:05 (end before start, timeout
      // re-armed 15 min early); the fix widens [start, end] instead
      input.addData(
        EventStreams.EventRow(1L, java.time.Instant.parse("2024-01-01T10:05:00Z"), "click", 2.0))
      q.processAllAvailable()
      // push the watermark far past the session's true end + gap
      input.addData(
        EventStreams.EventRow(2L, java.time.Instant.parse("2024-01-01T14:00:00Z"), "view", 9.0))
      q.processAllAvailable()
      input.addData(
        EventStreams.EventRow(2L, java.time.Instant.parse("2024-01-01T15:00:00Z"), "view", 9.0))
      q.processAllAvailable()
      val out = spark.table("sessions_late").as[EventStreams.UserSession].collect()
        .filter(_.user_id == 1L)
      assert(out.length == 1, s"exactly one session for user 1: ${out.mkString(",")}")
      val s = out.head
      assert(s.session_start == java.time.Instant.parse("2024-01-01T10:05:00Z") &&
        s.session_end == java.time.Instant.parse("2024-01-01T10:20:00Z") &&
        s.n_events == 2 && s.total_value == 3.0,
        s"late row must widen the session to [10:05, 10:20], got $s")
      assert(!s.session_end.isBefore(s.session_start), s"end before start: $s")
    } finally q.stop()
  }

  test("streaming: AvailableNow sessionize equals the closed-session subset of batch") {
    val dir = "/root/testdata/sf0.001"
    val streamed = SparkEntry.queries("st3_sessionize_stream")(spark, dir)
    val batch = SparkEntry.queries("st2_sessionize_batch")(spark, dir)
    val maxUs = Tables.load(spark, dir, "events")
      .agg(max(unix_micros(col("ts").cast("timestamp")))).head().getLong(0)
    val lastEnd = batch.groupBy("user_id").agg(max("session_end").as("last_end"))
    // append mode emits: inline-closed sessions (a later session exists for
    // the user) ∪ final sessions timed out by the final watermark
    val expected = batch.join(lastEnd, "user_id")
      .filter(
        col("session_end") < col("last_end") ||
          unix_micros(col("session_end").cast("timestamp")) + 2L * 1800000000L < maxUs)
      .select("user_id", "session_start", "session_end", "n_events")
    assert(streamed.count() > 0, "stream emitted no sessions")
    assertSameRows(streamed, expected, "st3 stream/batch parity")
  }

  test("streaming: parquet-sink sessionize (production path) equals the memory-sink gate") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val tmp = tempDir("graft_stsink")
    val batchSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(batchSchema).parquet(s"$dir/events*.parquet")
    val rows = stream
      // schema-adaptive ts normalization (testdata has shipped both
      // TIMESTAMP(NANOS)-as-long and native micros)
      .transform { df =>
        if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else df.withColumn("ts", col("ts").cast("timestamp"))
      }
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      .as[EventStreams.EventRow]
    val sunk = EventStreams
      .sessionizeToParquet(spark, rows, 30, s"$tmp/sessions", s"$tmp/ckpt")
      .select(
        col("user_id"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"),
        col("n_events"))
    val memorySink = SparkEntry.queries("st3_sessionize_stream")(spark, dir)
    assert(sunk.count() > 0, "parquet sink is empty")
    assertSameRows(sunk, memorySink, "parquet-sink vs memory-sink sessionize")
    // the state-partition pin covers only the query's start(); the stream
    // must still have run with it (batch 0's offset log records the conf)
    val offsetMeta = scala.io.Source.fromFile(s"$tmp/ckpt/offsets/0")
    try assert(offsetMeta.getLines().exists(_.contains("\"spark.sql.shuffle.partitions\":\"8\"")),
      "stream did not start with 8 state partitions")
    finally offsetMeta.close()
  }

  test("session confs change only inside Sessions.withConfs") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val confWrite = """conf\.(set|unset)\(""".r
    val member = """^  (private )?(def|val|object) """.r
    val (inScope, outside) = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.flatMap { p =>
        val lines = Files.readAllLines(p).asScala.toIndexedSeq
        // the helper's lines: from its def to the next member of Sessions
        val scope = lines.indexWhere(_.contains("def withConfs[")) match {
          case -1 => Range(0, 0)
          case start => start until lines.indexWhere(member.findFirstIn(_).nonEmpty, start + 1)
        }
        lines.indices.filter(i => confWrite.findFirstIn(lines(i)).nonEmpty)
          .map(i => (scope.contains(i), s"$p:${i + 1}: ${lines(i).trim}"))
      }.partition(_._1)
    assert(inScope.nonEmpty, "no conf write found in Sessions.withConfs: is the scan rooted right?")
    assert(outside.isEmpty,
      s"session conf changed outside Sessions.withConfs:\n${outside.map(_._2).mkString("\n")}")
  }

  test("streaming: stream-stream interval join emits in-window matches only") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(u: Long, iso: String, t: String, v: Double) =
      EventStreams.EventRow(u, java.time.Instant.parse(iso), t, v)
    val clicks = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventStreams.EventRow]
    val buys = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventStreams.EventRow]
    val q = EventStreams.intervalJoin(clicks.toDS(), buys.toDS(), 30)
      .writeStream.format("memory").queryName("ssj_out").outputMode("append").start()
    try {
      clicks.addData(ev(1, "2024-01-01T10:00:00Z", "click", 0.0))
      buys.addData(
        ev(1, "2024-01-01T10:10:00Z", "buy", 5.0),  // in window → match
        ev(1, "2024-01-01T11:30:00Z", "buy", 7.0),  // past window → no match
        ev(2, "2024-01-01T10:10:00Z", "buy", 9.0))  // other user → no match
      q.processAllAvailable()
      val out = spark.table("ssj_out").collect()
      assert(out.length == 1 && out(0).getLong(0) == 1L && out(0).getDouble(3) == 5.0,
        s"unexpected join output: ${out.mkString(",")}")
    } finally q.stop()
  }

  test("intervalJoin bin tiling is lossless vs the plain range join (batch mode)") {
    import spark.implicits._
    // boundary-heavy fixture around the 30-minute window: offsets at 0,
    // 1 µs, mid-window, exactly W, W + 1 µs, bin edges, plus a second
    // user and an out-of-window straggler — every case that could fall
    // between the {b-1, b} bin candidates if the tiling were wrong
    val base = java.time.Instant.parse("2024-01-01T10:17:23Z")
    def at(us: Long) = base.plusNanos(us * 1000L)
    val winUs = 30L * 60 * 1000000
    val clicks = Seq(
      EventStreams.EventRow(1, at(0), "click", 0.0),
      EventStreams.EventRow(1, at(winUs - 1), "click", 0.0),
      EventStreams.EventRow(2, at(500), "click", 0.0)).toDS()
    val buys = Seq(
      EventStreams.EventRow(1, at(0), "buy", 1.0),
      EventStreams.EventRow(1, at(1), "buy", 2.0),
      EventStreams.EventRow(1, at(winUs / 2), "buy", 3.0),
      EventStreams.EventRow(1, at(winUs), "buy", 4.0),
      EventStreams.EventRow(1, at(winUs + 1), "buy", 5.0),
      EventStreams.EventRow(1, at(2 * winUs - 1), "buy", 6.0),
      EventStreams.EventRow(1, at(2 * winUs), "buy", 7.0),
      EventStreams.EventRow(2, at(winUs - 400), "buy", 8.0)).toDS()
    val binned = EventStreams.intervalJoin(clicks, buys, 30)
    val plain = clicks.toDF().alias("l").join(
        buys.toDF().alias("r"),
        expr("l.user_id = r.user_id AND r.ts >= l.ts AND " +
          "r.ts <= l.ts + interval 30 minutes"))
      .select(
        col("l.user_id").as("user_id"),
        col("l.ts").as("left_ts"),
        col("r.ts").as("right_ts"),
        col("r.value").as("right_value"))
    assertSameRows(binned, plain, "binned interval join vs plain range join")
    assert(plain.count() >= 8, "fixture must exercise in-window matches")
  }

  test("streaming: foreachBatch upsert sink lands drops into a partitioned zone") {
    import spark.implicits._
    val tmp = tempDir("graft_szone")
    val landing = s"$tmp/landing"
    def run(): Unit = {
      val schema = spark.read.parquet(landing).schema
      EventStreams.upsertZoneSink(
        spark.readStream.schema(schema).parquet(landing),
        s"$tmp/zone", Seq("event_id"), "day", s"$tmp/ckpt")
    }
    Seq((1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0), (3L, "2024-01-02", 30.0))
      .toDF("event_id", "day", "value").write.mode("append").parquet(landing)
    run()
    assert(spark.read.parquet(s"$tmp/zone").count() == 3)
    // second drop: event 2 re-keyed with a new value + a new event —
    // checkpointed AvailableNow processes ONLY the new files
    Seq((2L, "2024-01-01", 99.0), (4L, "2024-01-02", 40.0))
      .toDF("event_id", "day", "value").write.mode("append").parquet(landing)
    run()
    val zone = spark.read.parquet(s"$tmp/zone")
    assert(zone.count() == 4)
    assert(zone.filter(col("event_id") === 2L).head().getAs[Double]("value") == 99.0)
  }

  test("streaming: cross-run dedup — the fingerprint zone remembers across restarts") {
    import spark.implicits._
    val tmp = tempDir("graft_crossrun")
    def drop(dir: String, ids: Range): Unit =
      ids.map(i => (i.toLong, s"payload_$i")).toDF("event_id", "payload")
        .write.mode("append").parquet(dir)
    def run(inDir: String, ckpt: String): Unit = {
      val schema = spark.read.parquet(inDir).schema
      EventStreams.dedupAgainstZone(
        spark, spark.readStream.schema(schema).parquet(inDir),
        Seq("event_id"), s"$tmp/fp", s"$tmp/out", ckpt)
    }
    drop(s"$tmp/in1", 1 to 10)
    run(s"$tmp/in1", s"$tmp/ckpt1")
    assert(spark.read.parquet(s"$tmp/out").count() == 10)
    // "restart": overlapping re-delivery (6..15) under a FRESH checkpoint
    // — a watermark-state dedup forgets; the zone must not
    drop(s"$tmp/in2", 6 to 15)
    run(s"$tmp/in2", s"$tmp/ckpt2")
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() == 15, s"expected 15 once-ever rows, got ${out.count()}")
    assert(out.select("event_id").distinct().count() == 15)

    // EXACTLY-ONCE: the full in1 feed redelivered under a THIRD fresh
    // checkpoint must no-op the output byte-for-byte — not just
    // count-stable (the old at-least-once caveat allowed double-appends
    // the read then had to dedup)
    def census(dir: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(dir)).map(f => f.getAbsolutePath -> f.length()).toMap
    }
    val before = census(s"$tmp/out")
    run(s"$tmp/in1", s"$tmp/ckpt3")
    assert(census(s"$tmp/out") == before,
      "fresh-checkpoint redelivery must leave the published output untouched")

    // crash window between output commit and fp append: replay the
    // batch commit with the fp rows of its batch REMOVED — the marker
    // branch must converge the fp zone without re-publishing output
    val batch1 = (16 to 20).map(i => (i.toLong, s"payload_$i")).toDF("event_id", "payload")
    EventStreams.commitDedupBatch(spark, batch1, Seq("event_id"), s"$tmp/fp", s"$tmp/out")
    assert(spark.read.parquet(s"$tmp/out").count() == 20)
    // simulate the crash: rebuild the fp zone WITHOUT batch1's keys
    val fpWithout = spark.read.parquet(s"$tmp/fp")
      .filter(col("event_id") < 16L).localCheckpoint()
    graft.sources.Zones.delete(spark, s"$tmp/fp")
    fpWithout.write.parquet(s"$tmp/fp")
    val outBefore = census(s"$tmp/out")
    EventStreams.commitDedupBatch(spark, batch1, Seq("event_id"), s"$tmp/fp", s"$tmp/out")
    assert(census(s"$tmp/out") == outBefore,
      "retried committed batch must not touch the output")
    assert(spark.read.parquet(s"$tmp/fp").filter(col("event_id") >= 16L).count() == 5,
      "retry must converge the fingerprint zone from the published batch")
    assert(spark.read.parquet(s"$tmp/out").count() == 20)
  }

  test("streaming: dedup-zone fold — partitions consolidate, replays refuse across the fold, fp zone converges") {
    import spark.implicits._
    val tmp = tempDir("graft_dedupfold")
    def batch(ids: Range) =
      ids.map(i => (i.toLong, s"payload_$i")).toDF("event_id", "payload")
    def commit(df: org.apache.spark.sql.DataFrame): Unit =
      EventStreams.commitDedupBatch(spark, df, Seq("event_id"), s"$tmp/fp", s"$tmp/out")
    def fold(): String =
      EventStreams.foldDedupZones(spark, Seq("event_id"), s"$tmp/fp", s"$tmp/out")
    def content(): Set[(Long, String)] = spark.read.parquet(s"$tmp/out")
      .select("event_id", "payload")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def census(dir: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(dir)).map(f => f.getAbsolutePath -> f.length()).toMap
    }
    def partitions(): Seq[String] = new java.io.File(s"$tmp/out")
      .listFiles().toSeq.map(_.getName).filter(_.startsWith("batch_fp=")).sorted

    // two overlapping batches publish 15 once-ever rows in 2 partitions
    commit(batch(1 to 10))
    commit(batch(6 to 15))
    val pre = content()
    assert(pre.size == 15 && partitions().size == 2)

    val note1 = fold()
    assert(note1.contains("folded 2 batch partition(s)"), s"unexpected: $note1")
    assert(partitions().size == 1 && partitions().forall(EventStreams.isFoldSegment),
      s"fold must leave exactly one tier-0 segment: ${partitions()}")
    assert(content() == pre, "fold must not change the published rows")

    // a redelivered batch whose partition (and marker) the fold absorbed
    // must STILL no-op the output byte-for-byte — via the applied set
    val afterFold = census(s"$tmp/out")
    commit(batch(1 to 10))
    assert(census(s"$tmp/out") == afterFold,
      "redelivered folded batch must refuse through the applied set")

    // output-committed-but-fp-crashed batch, then the FOLD runs before
    // any retry: the fold itself must converge the fp zone, because the
    // absorbed batch's replay (above) skips the marker convergence path
    commit(batch(16 to 20))
    val fpWithout = spark.read.parquet(s"$tmp/fp")
      .filter(col("event_id") < 16L).localCheckpoint()
    graft.sources.Zones.delete(spark, s"$tmp/fp")
    fpWithout.write.parquet(s"$tmp/fp")
    fold()
    assert(spark.read.parquet(s"$tmp/fp").filter(col("event_id") >= 16L).count() == 5,
      "the fold must converge crash-orphaned keys into the fp zone")
    val afterFold2 = census(s"$tmp/out")
    commit(batch(16 to 20))
    assert(census(s"$tmp/out") == afterFold2,
      "replay of a fold-converged batch must no-op")
    // and those keys now stand as prior corpus for FUTURE batches
    commit(batch(18 to 23))
    assert(content().size == 23, "only the 3 genuinely new keys may publish")

    // crash RECOVERY: simulate a fold that died between its manifest and
    // the swap — staged data present, manifest naming the target, the
    // source segment already gone
    fold() // fold the last loose batch partition first
    val preCrash = content()
    val segs = partitions()
    assert(segs.forall(EventStreams.isFoldSegment), s"loose partitions remain: $segs")
    val victim = segs.last
    val outDir = new java.io.File(s"$tmp/out")
    val tmpDir = new java.io.File(s"$tmp/out/.fold_tmp")
    tmpDir.mkdirs()
    assert(new java.io.File(outDir, victim)
      .renameTo(new java.io.File(tmpDir, "data")), "test setup rename failed")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/out/.fold_tmp/_DIRS"), s"TARGET:$victim\n$victim")
    val note3 = fold() // recovery must complete the swap, then no-op
    assert(partitions() == segs,
      s"recovery must rename the staged segment in: ${partitions()}")
    assert(content() == preCrash, s"recovery changed the rows (note: $note3)")

    // LEGACY recovery: a pre-tier manifest has no TARGET line — it
    // recovers to the historical consolidated partition name
    val legacyVictim = partitions().head
    tmpDir.mkdirs() // recovery above deleted .fold_tmp
    assert(new java.io.File(outDir, legacyVictim)
      .renameTo(new java.io.File(tmpDir, "data")), "legacy setup rename failed")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/out/.fold_tmp/_DIRS"), legacyVictim)
    fold()
    assert(partitions().contains("batch_fp=__folded__"),
      s"legacy manifest must recover to __folded__: ${partitions()}")
    assert(content() == preCrash, "legacy recovery changed the rows")

    // fp zone holds exactly the distinct published key set (no duplicate
    // appends arise on this path — compaction itself is merge-cadence)
    assert(spark.read.parquet(s"$tmp/fp").count() == 23)
  }

  test("streaming: dedup-zone fold runs AUTOMATICALLY at the stream's cadence") {
    import spark.implicits._
    val tmp = tempDir("graft_autofold")
    def drop(dir: String, ids: Range): Unit =
      ids.map(i => (i.toLong, s"payload_$i")).toDF("event_id", "payload")
        .write.mode("append").parquet(dir)
    def run(inDir: String, ckpt: String): Unit = {
      val schema = spark.read.parquet(inDir).schema
      EventStreams.dedupAgainstZone(
        spark, spark.readStream.schema(schema).parquet(inDir),
        Seq("event_id"), s"$tmp/fp", s"$tmp/out", ckpt, foldEvery = 2)
    }
    def partitions(): Seq[String] = new java.io.File(s"$tmp/out")
      .listFiles().toSeq.map(_.getName).filter(_.startsWith("batch_fp=")).sorted
    def content(): Set[Long] = spark.read.parquet(s"$tmp/out")
      .select("event_id").collect().map(_.getLong(0)).toSet

    // batch 1: under cadence — the per-batch partition stands
    drop(s"$tmp/in1", 1 to 10)
    run(s"$tmp/in1", s"$tmp/ckpt1")
    assert(partitions().size == 1 && !partitions().exists(EventStreams.isFoldSegment))
    // batch 2 (separate run = separate micro-batch): reaches the cadence
    // — the stream folds itself, no operator call anywhere
    drop(s"$tmp/in2", 8 to 15)
    run(s"$tmp/in2", s"$tmp/ckpt2")
    assert(partitions().size == 1 && partitions().forall(EventStreams.isFoldSegment),
      s"the stream must fold at its own cadence: ${partitions()}")
    assert(content() == (1L to 15L).toSet, "fold must not change published rows")
    // replays still refuse ACROSS the automatic fold (fresh checkpoint,
    // batch-1 feed redelivered): nothing republishes
    def census(dir: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(dir)).map(f => f.getAbsolutePath -> f.length()).toMap
    }
    val before = census(s"$tmp/out")
    run(s"$tmp/in1", s"$tmp/ckpt3")
    assert(census(s"$tmp/out") == before,
      "redelivery across the automatic fold must no-op byte-for-byte")
    // next batch under cadence again: one fresh partition beside the fold
    drop(s"$tmp/in3", 20 to 22)
    run(s"$tmp/in3", s"$tmp/ckpt4")
    assert(partitions().size == 2 && partitions().exists(EventStreams.isFoldSegment))
    assert(content() == ((1L to 15L) ++ (20L to 22L)).toSet)
  }

  test("streaming: dedup-zone folds TIER — merges cascade, I/O stays O(rows log rows)") {
    import spark.implicits._
    val tmp = tempDir("graft_tierfold")
    def batch(ids: Range) =
      ids.map(i => (i.toLong, s"payload_$i")).toDF("event_id", "payload")
    def commit(df: org.apache.spark.sql.DataFrame): Unit =
      EventStreams.commitDedupBatch(spark, df, Seq("event_id"), s"$tmp/fp", s"$tmp/out")
    def fold(): String = EventStreams.foldDedupZones(
      spark, Seq("event_id"), s"$tmp/fp", s"$tmp/out", fanout = 2)
    def partitions(): Seq[String] = new java.io.File(s"$tmp/out")
      .listFiles().toSeq.map(_.getName).filter(_.startsWith("batch_fp=")).sorted
    def tiers(): Map[Int, Int] = partitions()
      .flatMap { d =>
        "batch_fp=__fold_t(\\d+)_".r.findFirstMatchIn(d).map(_.group(1).toInt) }
      .groupBy(identity).map { case (t, s) => t -> s.size }
    def content(): Set[Long] = spark.read.parquet(s"$tmp/out")
      .select("event_id").collect().map(_.getLong(0)).toSet

    // fold #1 → one t0 segment
    commit(batch(1 to 5)); fold()
    assert(tiers() == Map(0 -> 1), s"${partitions()}")
    // fold #2 → second t0 trips the fanout-2 merge → one t1 segment
    commit(batch(6 to 10))
    val n2 = fold()
    assert(n2.contains("merged 2 t0 segment(s)"), n2)
    assert(tiers() == Map(1 -> 1), s"${partitions()}")
    // folds #3, #4 → t0 pair → t1 pair → CASCADE to one t2 segment
    commit(batch(11 to 15)); fold()
    assert(tiers() == Map(0 -> 1, 1 -> 1), s"${partitions()}")
    commit(batch(16 to 20))
    val n4 = fold()
    assert(n4.contains("merged 2 t0 segment(s)") && n4.contains("merged 2 t1 segment(s)"), n4)
    assert(tiers() == Map(2 -> 1), s"${partitions()}")
    assert(content() == (1L to 20L).toSet, "tier merges must preserve the row set")

    // replays refuse across every merge generation (applied-set path)
    def census(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(s"$tmp/out")).map(f => f.getAbsolutePath -> f.length()).toMap
    }
    val before = census()
    commit(batch(1 to 5)); commit(batch(16 to 20))
    assert(census() == before, "replays must refuse across tier merges")
    // applied set compacted at merge cadence: exactly the 4 folded bfps
    assert(spark.read.parquet(s"$tmp/out/_applied").distinct().count() == 4)
    assert(spark.read.parquet(s"$tmp/fp").count() == 20)
  }

  test("stats zone: incremental merges equal the one-shot build; replayed batches no-op") {
    import spark.implicits._
    import graft.operators.Profiling
    val tmp = tempDir("graft_statsinc")
    val zone = s"$tmp/stats"
    def merge(df: org.apache.spark.sql.DataFrame, id: Long): Boolean =
      Profiling.mergeStatsIncrement(spark, df, zone,
        epochExpr = "day", groupExpr = "cast(k % 2 as string)",
        valueExpr = "v", keyExpr = "k", batchId = Some(id))
    val d1 = (1L to 40L).map(i => ("2024-01", i, i.toDouble)).toDF("day", "k", "v")
    val d2 = ((1L to 20L).map(i => ("2024-01", i + 100, i * 2.0)) ++
      (1L to 30L).map(i => ("2024-02", i, i * 3.0))).toDF("day", "k", "v")
    val d3 = (1L to 10L).map(i => ("2024-01", i + 200, i * 4.0)).toDF("day", "k", "v")
    assert(merge(d1, 0L))
    assert(!merge(d1, 0L), "exact replay must no-op on the applied set")
    assert(merge(d2, 2L))
    // BACKFILL: an id below the high-water mark but never applied must
    // merge — a global max-hwm guard would silently drop it and leave
    // the zone permanently inconsistent with the corpus
    assert(merge(d3, 1L), "backfill below the high-water mark must merge")
    assert(!merge(d3, 1L), "replayed backfill must no-op")
    assert(Profiling.statsZoneHighWater(spark, zone) == 2L)
    // a group whose values are all NULL (k % 2 = -1): its KLL state is an
    // empty sketch, which must roll up to NULL quantiles, not an error
    val d4 = Seq(("2024-02", -1L, Option.empty[Double]), ("2024-02", -3L, None))
      .toDF("day", "k", "v")
    assert(merge(d4, 3L))
    // counts per (epoch, grp) ≡ a one-shot build over the union: counts
    // sum losslessly through the state path, no matter how it was fed
    Profiling.writeStatsZone(
      d1.unionByName(d2).unionByName(d3).unionByName(d4), s"$tmp/full",
      epochExpr = "day", groupExpr = "cast(k % 2 as string)",
      valueExpr = "v", keyExpr = "k")
    val inc = Profiling.readStatsZone(spark, zone)
      .select("epoch", "grp", "n_rows").sort("epoch", "grp")
      .collect().map(_.toSeq).toSeq
    val full = Profiling.readStatsZone(spark, s"$tmp/full")
      .select("epoch", "grp", "n_rows").sort("epoch", "grp")
      .collect().map(_.toSeq).toSeq
    assert(inc == full, s"incremental counts $inc diverge from one-shot $full")
    // and the merged states still answer: total rows exact, distincts in band
    val roll = Profiling.rollupStats(Profiling.readStatsZone(spark, zone), Seq(0.5))
    assert(roll.agg(org.apache.spark.sql.functions.sum("n_rows")).head().getLong(0) == 102L)
    val allNull = roll.filter($"grp" === "-1").head()
    assert(allNull.getAs[Long]("n_rows") == 2L)
    assert(allNull.isNullAt(allNull.fieldIndex("value_quantiles")),
      s"an all-NULL group must roll up to NULL quantiles: $allNull")
    assert(roll.filter($"grp" =!= "-1" && $"value_quantiles".isNull).isEmpty)
  }

  test("stats zone: applied set is range-compacted and bounded (1000+ batch ids)") {
    import graft.operators.Profiling
    import org.apache.spark.sql.functions._
    // [1] 1200 in-order batch ids through the PRODUCTION compaction fold
    // in one select: they collapse to a single dense run, zero extras —
    // the bound a minutes-scale foreachBatch feed relies on
    def grouped(ids: Seq[Long]) = {
      val idsDf = spark.createDataFrame(
        spark.sparkContext.parallelize(ids.map(org.apache.spark.sql.Row(_)), 4),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType))))
      idsDf
        .withColumn("epoch", lit("2024-01")).withColumn("grp", lit("g"))
        .groupBy("epoch", "grp")
        .agg(expr("collect_list(named_struct('base', id, 'floor', id))").as("__rngs"))
        .withColumn("__exs", expr("cast(array() as array<bigint>)"))
    }
    val dense = Profiling.compactApplied(grouped(0L until 1200L)).head()
    assert(dense.getAs[Long]("applied_base") == 0L)
    assert(dense.getAs[Long]("applied_floor") == 1199L)
    assert(dense.getSeq[Long](dense.fieldIndex("applied")).isEmpty,
      "1200 contiguous ids must compact to one dense run with zero extras")
    // out-of-order stragglers stay as extras until their gap closes
    val holey = Profiling.compactApplied(grouped(Seq(0L, 1L, 2L, 5L, 9L))).head()
    assert(holey.getAs[Long]("applied_floor") == 2L)
    assert(holey.getSeq[Long](holey.fieldIndex("applied")).toSeq == Seq(5L, 9L))
    // [2] a feed that is a SHUFFLE of history (all-sparse, gap 2) blows
    // the documented cap with the named error, not silent growth
    val sparse = (0L until 2L * (Profiling.MaxAppliedExtras + 10L)).filter(_ % 2 == 0)
    val err = intercept[Exception] {
      Profiling.compactApplied(grouped(sparse)).head()
    }
    def rootMsg(t: Throwable): String =
      (Option(t.getMessage) ++ Option(t.getCause).map(rootMsg)).mkString(" | ")
    assert(rootMsg(err).contains("applied-id overflow"),
      s"expected the named overflow error, got: ${rootMsg(err)}")

    // [3] END-TO-END: sequential in-order merges keep every row's extras
    // EMPTY — the set lives in the run, per-row state is O(1) forever
    import spark.implicits._
    val tmp = tempDir("graft_statscap")
    val zone = s"$tmp/stats"
    def merge(df: org.apache.spark.sql.DataFrame, id: Long): Boolean =
      Profiling.mergeStatsIncrement(spark, df, zone,
        epochExpr = "day", groupExpr = "'all'", valueExpr = "v", keyExpr = "k",
        batchId = Some(id))
    (0L until 8L).foreach { i =>
      val df = Seq(("2024-01", i, i.toDouble)).toDF("day", "k", "v")
      assert(merge(df, i))
    }
    val rows = Profiling.readStatsZone(spark, zone)
      .select("applied_base", "applied_floor", "applied").collect()
    assert(rows.forall(r => r.getSeq[Long](r.fieldIndex("applied")).isEmpty),
      "in-order feed must keep extras empty via run absorption")
    assert(rows.forall(r => r.getAs[Long]("applied_base") == 0L &&
      r.getAs[Long]("applied_floor") == 7L))
    assert(!merge(Seq(("2024-01", 0L, 0.0)).toDF("day", "k", "v"), 3L),
      "replay of a run-interior id must no-op")

    // [3b] a group ABSENT from some batches must not accrete gap extras:
    // every merge stamps every row (the replay guard is zone-level), so
    // alternating groups stay run-compact instead of wedging on the cap
    val zone2 = s"$tmp/stats2"
    def merge2(df: org.apache.spark.sql.DataFrame, id: Long): Boolean =
      Profiling.mergeStatsIncrement(spark, df, zone2,
        epochExpr = "day", groupExpr = "g", valueExpr = "v", keyExpr = "k",
        batchId = Some(id))
    (0L until 6L).foreach { i =>
      val g = if (i % 2 == 0) "even" else "odd" // each group misses half the batches
      assert(merge2(Seq(("2024-01", g, i, i.toDouble)).toDF("day", "g", "k", "v"), i))
    }
    val rows2 = Profiling.readStatsZone(spark, zone2)
      .select("grp", "applied_base", "applied_floor", "applied").collect()
    assert(rows2.forall(r => r.getSeq[Long](r.fieldIndex("applied")).isEmpty),
      "intermittently-absent groups must stay gap-free")
    assert(rows2.forall(_.getAs[Long]("applied_floor") == 5L),
      "every row absorbs every batch id up to the latest")
    assert(!merge2(Seq(("2024-01", "even", 0L, 0.0)).toDF("day", "g", "k", "v"), 3L),
      "replay of an id from a batch that skipped the group must still no-op")

    // [4] legacy hwm-only zone upgrade, pinned: the LATEST legacy id
    // still no-ops (crash redelivery), but an OLDER legacy id re-merges
    // — the deliberate tradeoff that buys backfill support (the old
    // global-hwm guard would have dropped both)
    val legacy = s"$tmp/legacy"
    Profiling.writeStatsZone(
      Seq(("2024-01", 1L, 1.0), ("2024-01", 2L, 2.0)).toDF("day", "k", "v"),
      legacy, epochExpr = "day", groupExpr = "'all'", valueExpr = "v", keyExpr = "k")
    val upgraded = Profiling.readStatsZone(spark, legacy).withColumn("hwm", lit(5L))
    graft.sources.Zones.overwriteSwap(upgraded, legacy)
    def mergeLegacy(id: Long): Boolean =
      Profiling.mergeStatsIncrement(spark,
        Seq(("2024-01", 9L, 9.0)).toDF("day", "k", "v"), legacy,
        epochExpr = "day", groupExpr = "'all'", valueExpr = "v", keyExpr = "k",
        batchId = Some(id))
    assert(!mergeLegacy(5L), "latest legacy id (the stored hwm) must no-op")
    assert(mergeLegacy(3L),
      "older legacy id re-merges after upgrade — the documented caveat")
  }

  test("stats zone: a permanent batch-id gap stores one extra run; a late backfill closes it") {
    import spark.implicits._
    import graft.operators.Profiling
    val tmp = tempDir("graft_statsgap")
    val zone = s"$tmp/stats"
    def batch(k0: Long) = Seq(("2024-01", k0, 1.0)).toDF("day", "k", "v")
    def merge(df: org.apache.spark.sql.DataFrame, id: Long): Boolean =
      Profiling.mergeStatsIncrement(spark, df, zone,
        epochExpr = "day", groupExpr = "'g'", valueExpr = "v", keyExpr = "k",
        batchId = Some(id))
    Seq(0L, 1L, 2L).foreach(i => assert(merge(batch(i), i)))
    // id 3 skipped — the post-gap chain compacts into a STORED RUN of
    // its own: per-row cost is one struct per permanent gap, forever,
    // not one extra per post-gap batch
    Seq(4L, 5L, 6L).foreach(i => assert(merge(batch(i), i)))
    def guard() = spark.read.parquet(zone)
      .select("applied_base", "applied_floor", "applied", "applied_runs").head()
    def runs(r: org.apache.spark.sql.Row): Seq[(Long, Long)] =
      r.getSeq[org.apache.spark.sql.Row](3).map(x => (x.getLong(0), x.getLong(1)))
    val g1 = guard()
    assert(g1.getLong(1) == 2L, s"dense run must stop at the gap: $g1")
    assert(runs(g1) == Seq((4L, 6L)), s"post-gap chain must store as ONE run: $g1")
    assert(g1.getSeq[Long](2).isEmpty, s"no per-batch extras growth across the gap: $g1")
    // replay guard stays exact across the gap
    assert(!merge(batch(4L), 4L), "post-gap replay must no-op")
    // the late backfill of the MISSING id merges (a run spanning the gap
    // would have claimed it applied and silently dropped this) …
    assert(merge(batch(3L), 3L), "the gap id itself must still merge")
    // … and compaction then absorbs the whole chain back into one run
    val g2 = guard()
    assert(g2.getLong(0) == 0L && g2.getLong(1) == 6L &&
      g2.getSeq[Long](2).isEmpty && runs(g2).isEmpty,
      s"closed gap must re-compact to a single dense run: $g2")
    assert(!merge(batch(3L), 3L), "replayed backfill must no-op after compaction")
  }

  test("streaming: gap sessionization closes sessions after inactivity") {
    import spark.implicits._
    val rows = Seq(
      EventStreams.EventRow(1L, java.time.Instant.parse("2024-01-01T10:00:00Z"), "click", 1.0),
      EventStreams.EventRow(1L, java.time.Instant.parse("2024-01-01T10:10:00Z"), "click", 2.0),
      // 3h gap → new session
      EventStreams.EventRow(1L, java.time.Instant.parse("2024-01-01T13:30:00Z"), "view", 5.0),
      EventStreams.EventRow(2L, java.time.Instant.parse("2024-01-01T10:00:00Z"), "click", 7.0))
    // batch mode: flatMapGroupsWithState processes each group once, no timeout
    val sessions = EventStreams.sessionize(rows.toDS(), gapMinutes = 30)
      .collect().sortBy(s => (s.user_id, s.session_start))
    // batch emits only sessions CLOSED by a later event; user 1's first
    // session closes when the 13:30 event arrives
    assert(sessions.exists(s =>
      s.user_id == 1 && s.n_events == 2 && s.total_value == 3.0 &&
        s.session_end == java.time.Instant.parse("2024-01-01T10:10:00Z")))
  }

  test("crawl meta: per-site ledger gates, finish updates, config lineage") {
    import spark.implicits._
    import graft.control.CrawlMeta
    val cfg = Seq(
      (1L, "siteA", "https://a.example.com"),
      (2L, "siteB", "https://b.example.com"),
      (3L, "siteC", "https://c.example.com"))
      .toDF("id", "site_name", "url")
    val log0 = CrawlMeta.emptyLog(spark)
    assert(CrawlMeta.sitesNeedingCrawl(cfg, log0, "2024-01-05").count() == 3)
    assert(!CrawlMeta.allCrawledToday(cfg, log0, "2024-01-05"))

    // start site 1 → RUNNING row; a second same-day start is skipped
    val (log1, Some(id1)) = CrawlMeta.startCrawl(log0, 1L, "siteA", "2024-01-05 08:00:00")
    assert(id1 == 1L)
    val (log1b, none) = CrawlMeta.startCrawl(log1, 1L, "siteA", "2024-01-05 08:05:00")
    assert(none.isEmpty && log1b.count() == 1)
    // ...but a next-day start is not (the RUNNING check is per-CURDATE)
    val (_, nextDay) = CrawlMeta.startCrawl(log1, 1L, "siteA", "2024-01-06 08:00:00")
    assert(nextDay.contains(2L))

    // SUCCESS close clears siteA from today's needing-crawl set
    val log2 = CrawlMeta.finishCrawl(log1, id1, "SUCCESS", Some("/landing/a.csv"), 120, None)
    val closed = log2.filter(col("id") === id1).head()
    assert(closed.getAs[String]("status") == "SUCCESS")
    assert(closed.getAs[String]("file_path") == "/landing/a.csv")
    assert(closed.getAs[Int]("rows_affected") == 120)
    val needing = CrawlMeta.sitesNeedingCrawl(cfg, log2, "2024-01-05")
      .select("site_name").as[String].collect().toSet
    assert(needing == Set("siteB", "siteC"))
    // FAILED close keeps the site in the needing set
    val (log3, Some(id2)) = CrawlMeta.startCrawl(log2, 2L, "siteB", "2024-01-05 09:00:00")
    val log4 = CrawlMeta.finishCrawl(log3, id2, "FAILED", None, 0, Some("timeout"))
    assert(CrawlMeta.sitesNeedingCrawl(cfg, log4, "2024-01-05")
      .select("site_name").as[String].collect().toSet == Set("siteB", "siteC"))
    assert(log4.filter(col("id") === id2).head().getAs[String]("error_message") == "timeout")

    // lineage join: known site → config id, unknown site → -1 sentinel
    val landed = Seq(("siteA", 10), ("siteX", 20)).toDF("site", "v")
    val lineage = CrawlMeta.withConfigLineage(landed, cfg, "site")
      .select("site", "id_config").as[(String, Long)].collect().toMap
    assert(lineage == Map("siteA" -> 1L, "siteX" -> -1L))
  }

  test("sql registry: procedure blocks are extracted, installed, replaced and callable") {
    import spark.implicits._
    import graft.control.SqlRegistry
    // registry row shaped like the reference's (db_control_sql.sql:165-206):
    // DELIMITER wrapper, non-ASCII comment chars, END$$ terminator
    val procRow =
      "DELIMITER $$\n" +
        "CREATE PROCEDURE SP_Count_People ()\n" +
        "BEGIN\n" +
        "-- đếm số dòng\n" +
        "SELECT count(*) AS n FROM people;\n" +
        "END$$\n" +
        "DELIMITER ;"
    val registry = Map(
      "SP_COUNT_PEOPLE" -> procRow,
      "PLAIN_DML" -> "UPDATE PROCESS_LOG SET STATUS = %s WHERE ID = %s")
    val procs = SqlRegistry.installProcedures(registry)
    // the DML row has no CREATE PROCEDURE block → not installed
    assert(procs.keySet == Set("SP_COUNT_PEOPLE"))
    // the non-ASCII comment chars were collapsed to spaces (reference's
    // cleanup regex), leaving a valid single-line comment
    assert(procs("SP_COUNT_PEOPLE").body.contains("--"))
    assert(!procs("SP_COUNT_PEOPLE").body.exists(_ > 0x7e))

    val people = Seq((1, "an"), (2, "bo")).toDF("id", "name")
    val n = SqlRegistry.callProcedure(
      spark, procs, "sp_count_people", Map("people" -> people)).head().getLong(0)
    assert(n == 2)

    // re-install under the same name replaces (DROP IF EXISTS analog)
    val v2 = registry.updated("SP_COUNT_PEOPLE", procRow.replace(
      "SELECT count(*) AS n FROM people;",
      "SELECT count(*) + 100 AS n FROM people;"))
    val n2 = SqlRegistry.callProcedure(
      spark, SqlRegistry.installProcedures(v2), "SP_COUNT_PEOPLE",
      Map("people" -> people)).head().getLong(0)
    assert(n2 == 102)

    intercept[IllegalArgumentException] {
      SqlRegistry.callProcedure(spark, procs, "SP_NOPE", Map.empty)
    }
  }

  test("sql registry: statement splitter ignores ';' inside string literals") {
    import graft.control.SqlRegistry
    val stmts = SqlRegistry.splitStatements(
      "SET x = 'a;b';\nSELECT ''';' AS q FROM t;\nTRUNCATE TABLE k")
    assert(stmts == Seq("SET x = 'a;b'", "SELECT ''';' AS q FROM t", "TRUNCATE TABLE k"))
  }

  test("sql registry: escaped quotes ('' and \\') stay inside literals in every scanner") {
    import graft.control.SqlRegistry
    // '' must not flip the quote state: the CAST-shaped text INSIDE the
    // literal stays verbatim while the real CAST after it is rewritten
    val s = "SELECT 'it''s CAST(x AS SIGNED)' AS lit, CAST(v AS SIGNED) AS n FROM t"
    val r = SqlRegistry.rewriteMysqlCasts(s)
    assert(r.contains("'it''s CAST(x AS SIGNED)'"), r)
    assert(r.contains("REGEXP_EXTRACT(v"), r)
    // backslash-escaped quote form
    val b = "SELECT 'a\\'b' AS lit, CAST(v AS SIGNED) AS n FROM t"
    val rb = SqlRegistry.rewriteMysqlCasts(b)
    assert(rb.contains("'a\\'b'") && rb.contains("REGEXP_EXTRACT(v"), rb)
    // the statement splitter agrees: ';' after an escaped quote separates
    val stmts = SqlRegistry.splitStatements("SET x = 'don''t;really';SELECT 1")
    assert(stmts == Seq("SET x = 'don''t;really'", "SELECT 1"))
  }

  test("sql registry: numeric-literal CAST keeps MySQL's rounding, not prefix truncation") {
    import graft.control.SqlRegistry
    // MySQL: CAST(1.6 AS SIGNED) = 2 (rounds); a stringified prefix-parse
    // (and Spark's own cast) would truncate to 1
    val r = SqlRegistry.rewriteMysqlCasts("SELECT CAST(1.6 AS SIGNED) AS n")
    assert(r.contains("ROUND(1.6)"), r)
    assert(spark.sql(r).head().getLong(0) == 2L)
    val d = SqlRegistry.rewriteMysqlCasts("SELECT CAST(1.66 AS DECIMAL(10,1)) AS n")
    assert(spark.sql(d).head().getDecimal(0).toPlainString == "1.7")
    // string inputs keep the deployed prefix-parse semantics
    val p = SqlRegistry.rewriteMysqlCasts("SELECT CAST('1TB' AS SIGNED) AS n")
    assert(spark.sql(p).head().getLong(0) == 1L)
  }

  test("sql registry: verbatim SP_ETL_SCD_UPDATE_PRODUCT runs as a statement list") {
    import graft.control.SqlRegistry
    val blob = SqlRegistry.loadReferenceCommand(
      "/root/reference/sql_script/db_control_sql.sql", "SP_ETL_SCD_UPDATE_PRODUCT")
    // the MySQL '' escapes decoded back to single quotes
    assert(blob.contains("'9999-12-31'") && !blob.contains("''9999-12-31''"))
    val proc = SqlRegistry
      .installProcedures(Map("SP_ETL_SCD_UPDATE_PRODUCT" -> blob))("SP_ETL_SCD_UPDATE_PRODUCT")
    assert(proc.outParams == Seq("p_RowsInput", "p_RowsInserted", "p_RowsUpdated"))

    val transform = fixture("products_transform")
    val views = Map(
      "PRODUCTS_TRANSFORM" -> transform,
      "PRODUCTS_EXPIRED" -> fixture("products_expired").limit(0),
      "EXPIRED_KEYS" -> transform.select("TEN", "LINK").limit(0))
    val r1 = SqlRegistry.runProcedure(spark, proc, views, "2025-11-23 18:51:37")
    // the reference's first daily run: 239 in, 239 inserted, 0 updated
    assert(r1.outParams == Seq(
      "p_RowsInput" -> 239L, "p_RowsInserted" -> 239L, "p_RowsUpdated" -> 0L))
    assert(r1.tables("PRODUCTS_EXPIRED").count() == 239)
    assert(r1.tables("EXPIRED_KEYS").count() == 0)

    // day 2: 40 price edits → 40 expired + 40 re-inserted, history holds
    // both versions (279 rows), 239 still current
    val day2 = transform.withColumn("GIA_MOI",
      when(col("ID") <= 40, col("GIA_MOI") + 500).otherwise(col("GIA_MOI")))
    val r2 = SqlRegistry.runProcedure(
      spark, proc, r1.tables + ("PRODUCTS_TRANSFORM" -> day2), "2025-11-24 18:51:37")
    assert(r2.outParams == Seq(
      "p_RowsInput" -> 239L, "p_RowsInserted" -> 40L, "p_RowsUpdated" -> 40L))
    assert(r2.tables("PRODUCTS_EXPIRED").count() == 279)
    val current = r2.tables("PRODUCTS_EXPIRED")
      .filter(col("EXPIRED_AT") === lit("9999-12-31").cast("timestamp"))
    assert(current.count() == 239)
    // the re-inserted current rows carry the day-2 price
    assert(current
      .join(day2.select(col("ID"), col("GIA_MOI").as("want")), "ID")
      .filter(col("GIA_MOI") =!= col("want")).count() == 0)
  }

  test("sql registry: verbatim SP_ETL_CLEAN_DATA equals native clean AND the live dump") {
    import graft.control.SqlRegistry
    val blob = SqlRegistry.loadReferenceCommand(
      "/root/reference/sql_script/db_control_sql.sql", "SP_ETL_CLEAN_DATA")
    val proc =
      SqlRegistry.installProcedures(Map("SP_ETL_CLEAN_DATA" -> blob))("SP_ETL_CLEAN_DATA")
    // the transform_staging.py non-ASCII collapse must have turned the
    // '₫'/'đ' REPLACE literals into ' ' — the deployed escape-loss the
    // dialect's MySQL prefix-parse casts then compensate for
    assert(!proc.body.contains("₫") && !proc.body.contains("đ"))
    val run = SqlRegistry.runProcedure(spark, proc, Map(
        "PRODUCTS_GENERAL" -> fixture("products_general"),
        "PRODUCTS_TRANSFORM" -> fixture("products_transform").limit(0),
        "DIM_DATE" -> fixture("dim_date")),
      "2025-11-23 18:51:37")
    val got = run.tables("PRODUCTS_TRANSFORM").drop("ID_SR")
    // triangle: procedure ≡ live dump ≡ native clean (CleanSpec ties the
    // other edge) — all three agree on the 239 golden rows
    assertSameRows(got, fixture("products_transform").drop("ID_SR"),
      "verbatim CLEAN vs live dump")
    assertSameRows(got,
      graft.pipeline.ProductPipeline.clean(
        fixture("products_general"), fixture("dim_date"), mysqlCompatScreenSize = true),
      "verbatim CLEAN vs native clean")
  }
}
