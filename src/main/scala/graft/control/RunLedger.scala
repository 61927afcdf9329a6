package graft.control

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Upsert
import graft.sources.Zones

/** Control-plane run ledger replicating the reference's PROCESS /
  * PROCESS_LOG gating (db_control_sql.sql:134-154; check_status.py;
  * load_dwh.py:56-76): idempotency ("already ran today?") and
  * mutual-exclusion ("anything RUNNING?") checks over a small parquet
  * table instead of MySQL status rows. Every daily pipeline runs its
  * stages inside [[guarded]], the one copy of the gate → RUNNING →
  * SUCCESS/FAILED lifecycle.
  *
  * The reference's check-after-self-register livelock
  * (transform_staging.py:152-162 — two simultaneous starts can both see
  * the other and park as WAITING) is deliberately NOT reproduced: gates
  * here are evaluated BEFORE registering the new run.
  */
object RunLedger {

  val schema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("process_name", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("start_time", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("end_time", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("status", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("message", org.apache.spark.sql.types.StringType)))

  /** A RUNNING row older than this no longer blocks the gate — covers a
    * hard-killed driver that never reached its FAILED close. A same-day
    * retry of such a run is therefore skipped until the window passes.
    */
  val StaleRunningHours = 24

  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** The ledger zone at `path`, or [[empty]] when there is none yet.
    * [[Zones.exists]] completes a crashed swap first; the fixed
    * [[schema]] spares the parquet schema-inference job.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    if (Zones.exists(spark, path)) spark.read.schema(schema).parquet(path)
    else empty(spark)

  /** Both gates and the next id in ONE aggregate over the ledger: None
    * (skip) when `processName` already SUCCEEDED on `runTs`'s day
    * (check_status.py:19-30: STATUS='SUCCESS' AND DATE(START_TIME)=CURDATE)
    * or has a RUNNING row younger than [[StaleRunningHours]]
    * (load_dwh.py:56-76: STATUS='RUNNING' AND END_TIME IS NULL — an older
    * one is a hard-killed JVM that never wrote its FAILED row and must not
    * deadlock the gate forever); otherwise Some(next id), numbered over
    * every process's rows.
    */
  def gate(ledger: DataFrame, processName: String, runTs: String): Option[Long] = {
    val mine = col("process_name") === processName
    val r = ledger.agg(
      count(when(mine && col("status") === "SUCCESS" &&
        to_date(col("start_time")) === lit(runTs.take(10)).cast("date"), 1)),
      count(when(mine && col("status") === "RUNNING" && col("end_time").isNull &&
        col("start_time") >
          lit(runTs).cast("timestamp") - expr(s"INTERVAL $StaleRunningHours HOURS"), 1)),
      coalesce(max(col("id")), lit(0L))).head()
    if (r.getLong(0) > 0 || r.getLong(1) > 0) None else Some(r.getLong(2) + 1)
  }

  /** Register a RUNNING row under `id` (from [[gate]]). */
  def startRun(ledger: DataFrame, id: Long, processName: String, runTs: String): DataFrame =
    ledger.unionByName(ledger.sparkSession.range(1).select(
      lit(id).as("id"),
      lit(processName).as("process_name"),
      lit(runTs).cast("timestamp").as("start_time"),
      lit(null).cast("timestamp").as("end_time"),
      lit("RUNNING").as("status"),
      lit(null).cast("string").as("message")))

  /** The reference SP's exact SUCCESS message format
    * (db_control_sql.sql:279-307) — shared so callers composing a longer
    * message (e.g. the daily pipeline appending a quarantine report)
    * keep the verbatim prefix the sp3 gate checks.
    */
  def statsMessage(s: graft.operators.ScdStats): String =
    s"SCD Type 2 completed successfully. Rows Processed: ${s.rowsInput}. " +
      s"New Rows Inserted: ${s.rowsInserted}. Old Rows Expired (Updated): ${s.rowsExpired}."

  /** Close a run: SP_ETL_Update_Log_Status semantics — update row `id`
    * with its end time, status and message (db_control_sql.sql:279-307).
    */
  def finishRun(
      ledger: DataFrame, id: Long, status: String, endTs: String, message: String): DataFrame = {
    val updated = ledger.filter(col("id") === id)
      .withColumn("end_time", lit(endTs).cast("timestamp"))
      .withColumn("status", lit(status))
      .withColumn("message", lit(message))
    Upsert.upsert(ledger, updated, Seq("id"))
  }

  /** One ledger-guarded run of `processName` against the ledger zone at
    * `ledgerPath`: "SKIPPED" when [[gate]] holds; otherwise a RUNNING row
    * is registered, `stages` run, and the row closes SUCCESS with the
    * message they return. The SUCCESS close sits inside the failure
    * handler, so a close that cannot be written is recorded as FAILED.
    * Any failure closes the row FAILED — otherwise the mutual-exclusion
    * gate would skip every future run — and rethrows the stage's own
    * error; a FAILED close that fails too rides along as suppressed
    * instead of masking the cause.
    */
  def guarded(spark: SparkSession, ledgerPath: String, processName: String, runTs: String)(
      stages: => String): String = {
    val ledger0 = read(spark, ledgerPath)
    gate(ledger0, processName, runTs) match {
      case None => "SKIPPED"
      case Some(runId) =>
        Zones.overwriteSwap(startRun(ledger0, runId, processName, runTs), ledgerPath)
        // re-read at each close: the swaps replaced the files ledger0 is bound to
        def close(status: String, message: String): Unit = Zones.overwriteSwap(
          finishRun(read(spark, ledgerPath), runId, status, runTs, message), ledgerPath)
        try {
          close("SUCCESS", stages)
          "SUCCESS"
        } catch {
          case scala.util.control.NonFatal(e) =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
            try close("FAILED", s"FAILED: $msg")
            catch {
              case scala.util.control.NonFatal(closeError) if closeError ne e =>
                e.addSuppressed(closeError)
            }
            throw e
        }
    }
  }
}
