package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session + fixture access + row-set comparison for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = {
    val s = Sessions.builder("graft-test", Sessions.cpus)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = () // one JVM-wide session across suites

  /** A fresh temp dir (absolute path), deleted with everything under it
    * when the JVM exits: not in `afterAll`, because the session, and any
    * zone or cached relation it still holds, lives as long as the JVM.
    */
  def tempDir(prefix: String): String = SparkSpec.tempDir(prefix)

  def fixture(name: String): DataFrame =
    spark.read.parquet(s"src/test/resources/fixtures/$name.parquet")

  /** Assert the first sort-merge/hash join in `df`'s physical plan keeps
    * its LEFT (zone/big) side shuffle-free and bucketed — the invariant
    * bucketed zones exist to provide. Structural, not textual: exchanges
    * on the small side are expected and ignored.
    */
  def assertZoneSideUnshuffled(df: DataFrame, label: String): Unit = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    // a FINALIZED adaptive plan wraps stages in QueryStageExec LEAF nodes;
    // plain collect would stop at the stage boundary and miss the join —
    // expand descends through both the adaptive root and the stages, so
    // the same assert works pre-execution and on the final runtime plan
    def expand(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: expand(a.executedPlan)
      case q: QueryStageExec => q +: expand(q.plan)
      case _ => p +: p.children.flatMap(expand)
    }
    val all = expand(df.queryExecution.executedPlan)
    val zoneSide: Option[SparkPlan] = all.collectFirst {
      case j: SortMergeJoinExec => j.left
      case j: ShuffledHashJoinExec => j.left
    }
    assert(zoneSide.nonEmpty,
      s"$label: no shuffled join in plan:\n${df.queryExecution.executedPlan}")
    val side = expand(zoneSide.get)
    assert(side.collectFirst { case e: ShuffleExchangeExec => e }.isEmpty,
      s"$label: zone side shuffles:\n${zoneSide.get}")
    assert(
      side.collectFirst { case f: FileSourceScanExec if f.bucketedScan => f }.nonEmpty,
      s"$label: zone side not a bucketed scan:\n${zoneSide.get}")
  }

  /** Order-insensitive whole-frame equality with readable diffs. Decimals
    * are normalized to double, timestamps to ISO strings.
    */
  def assertSameRows(got: DataFrame, expected: DataFrame, label: String): Unit = {
    def canon(df: DataFrame): Seq[String] = {
      val cols = df.columns.sorted.map { c =>
        df.schema(c).dataType.typeName match {
          case t if t.startsWith("decimal") => col(c).cast("double").cast("string")
          case "timestamp" | "timestamp_ntz" => date_format(col(c), "yyyy-MM-dd HH:mm:ss")
          case _ => col(c).cast("string")
        }
      }
      df.select(concat_ws("", cols.map(c => coalesce(c, lit("∅"))): _*))
        .collect().map(_.getString(0)).sorted.toSeq
    }
    assert(got.columns.sorted.toSeq == expected.columns.sorted.toSeq,
      s"$label: column sets differ")
    val g = canon(got)
    val e = canon(expected)
    val missing = e.diff(g).take(3)
    val extra = g.diff(e).take(3)
    assert(g == e,
      s"$label: ${g.size} got vs ${e.size} expected rows; missing=$missing extra=$extra")
  }
}

object SparkSpec {
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  sys.addShutdownHook(tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d)))

  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(dir)
    dir.getAbsolutePath
  }
}
