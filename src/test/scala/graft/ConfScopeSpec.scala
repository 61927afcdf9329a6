package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{Clustering, Curation}
import graft.sources.Zones

/** `Sessions.withConfs`, the one session-conf scope: its pins live in a
  * scoped session only, so the shared session never sees them (not even
  * while a body runs), scopes on different threads run at once,
  * conf-scoped operators running together neither bend each other's
  * plans nor leave pins behind, and their executions still reach the
  * caller's listeners.
  */
class ConfScopeSpec extends SparkSpec {

  /** Every key the operators below pin: k-means and PageRank (AQE,
    * shuffle partitions) and the bucketed merge.
    */
  private val touchedKeys =
    Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions") ++
      Zones.BucketedMergeConfs.map(_._1)

  private def confState: Seq[(String, Boolean, String)] =
    touchedKeys.map(k => (k, spark.conf.getAll.contains(k), spark.conf.get(k)))

  test("a scope restores a key that was unset as unset") {
    import spark.implicits._
    val key = "spark.sql.requireAllClusterKeysForCoPartition"
    spark.conf.unset(key)
    val default = spark.conf.get(key)
    val wh = tempDir("confscope_unset")
    val tbl = "graft_confscope_unset_zone"
    try Zones.upsertBucketed(spark, tbl, s"$wh/agg",
      (1 to 20).map(i => (i.toLong, 10, i * 1.0)).toDF("product_sk", "date_sk", "price"),
      Seq("product_sk", "date_sk"), "date_sk", Seq("product_sk"), 4)
    finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val leftSet = spark.conf.getAll.get(key)
    assert(leftSet.isEmpty, s"$key left explicitly set (${leftSet.orNull}) after the merge scope")
    assert(spark.conf.get(key) == default)
  }

  private def vecs = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))

  // k = 64 takes the fused route: AQE pinned off, then shuffle
  // partitions sized from k·dim in a nested scope
  private def clusters() = Clustering.kmeansLite(vecs, "vec_id", "e", 64, 2)

  private def ranks() = {
    import spark.implicits._
    val edges = (1 to 300).flatMap(i => Seq((i, i * 7 % 300 + 1), (i, i * 13 % 300 + 1)))
      .toDF("src", "dst")
    Curation.pageRankLite(edges, "src", "dst", 5)
  }

  test("conf-scoped operators at once on one session: plans hold, rows match, confs restored") {
    import spark.implicits._
    val before = confState
    val clustersAlone = clusters()
    val ranksAlone = ranks()

    val wh = tempDir("confscope_zone")
    val tbl = "graft_confscope_zone"
    // z1-style: two daily upserts into a bucketed zone; broadcasts off so
    // the merge is the shuffled join the audit inspects
    val upsert = Future {
      Sessions.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") { scoped =>
        val day1 = (1 to 100).map(i => (i.toLong, 10, i * 1.0)).toDF("product_sk", "date_sk", "price")
        Zones.upsertBucketed(scoped, tbl, s"$wh/agg", day1,
          Seq("product_sk", "date_sk"), "date_sk", Seq("product_sk"), 8)
        val day2 = ((40 to 60).map(i => (i.toLong, 10, -1.0)) ++
          (1 to 50).map(i => (i.toLong, 11, i * 2.0)))
          .toDF("product_sk", "date_sk", "price")
        val merged = Zones.upsertBucketed(scoped, tbl, s"$wh/agg", day2,
          Seq("product_sk", "date_sk"), "date_sk", Seq("product_sk"), 8)
        assertZoneSideUnshuffled(merged, "bucketed merge beside k-means and PageRank")
        scoped.table(tbl).count()
      }
    }
    val clustersBeside = Future(clusters())
    val ranksBeside = Future(ranks())
    try {
      assert(Await.result(upsert, 10.minutes) == 150)
      assertSameRows(Await.result(clustersBeside, 10.minutes), clustersAlone,
        "k-means beside a bucketed upsert and PageRank")
      assertSameRows(Await.result(ranksBeside, 10.minutes), ranksAlone,
        "PageRank beside a bucketed upsert and k-means")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
    assert(confState == before, "a conf scope left a pin behind on the shared session")
  }

  test("a scope's pins never reach the shared session, even while its body runs") {
    val (aqe, parts) = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val sharedParts = spark.conf.get(parts)
    val (inBody, release) = (new CountDownLatch(1), new CountDownLatch(1))
    val scope = Future {
      Sessions.withConfs(spark, aqe -> "false", parts -> "1") { scoped =>
        inBody.countDown()
        release.await(2, TimeUnit.MINUTES)
        (scoped.conf.get(aqe), scoped.conf.get(parts))
      }
    }
    try {
      assert(inBody.await(2, TimeUnit.MINUTES), "the scope's body never started")
      assert(spark.conf.get(aqe) == "true", "AQE pin leaked onto the shared session")
      assert(spark.conf.get(parts) == sharedParts, "partition pin leaked onto the shared session")
      val planned = spark.range(1000).groupBy(col("id") % 7).count().queryExecution.executedPlan
      assert(planned.isInstanceOf[AdaptiveSparkPlanExec],
        s"a query planned on the shared session during a scope is not adaptive:\n$planned")
    } finally release.countDown()
    assert(Await.result(scope, 2.minutes) == ("false", "1"), "the body did not see its pins")
  }

  test("scopes on two threads are inside their bodies at the same time") {
    val both = new CountDownLatch(2)
    def scope() = Future {
      Sessions.withConfs(spark, "spark.sql.shuffle.partitions" -> "3") { _ =>
        both.countDown()
        both.await(30, TimeUnit.SECONDS)
      }
    }
    val (a, b) = (scope(), scope())
    assert(Await.result(a, 2.minutes) && Await.result(b, 2.minutes),
      "one scope waited for the other to finish")
  }

  test("k-means' scoped Lloyd rounds reach the caller's execution listeners") {
    val scopedRuns = new AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.sparkSession.conf.get("spark.sql.adaptive.enabled") == "false")
          scopedRuns.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      clusters().count()
      // listener events arrive asynchronously on the listener bus
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (scopedRuns.get < 2 && System.nanoTime() < deadline) Thread.sleep(100)
      assert(scopedRuns.get >= 2,
        s"the listener saw ${scopedRuns.get} AQE-off executions; k-means runs 2 Lloyd rounds")
    } finally spark.listenerManager.unregister(listener)
  }

  test("k-means and PageRank hand back frames of the caller, planned adaptively downstream") {
    for ((label, df) <- Seq("k-means" -> clusters(), "PageRank" -> ranks())) {
      assert(df.sparkSession eq spark, s"$label returned a frame of another session")
      val downstream = df.groupBy(col(df.columns(1))).count().queryExecution.executedPlan
      assert(downstream.isInstanceOf[AdaptiveSparkPlanExec],
        s"a query downstream of $label is not adaptive:\n$downstream")
    }
  }
}
