package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.functions._

import graft.operators.{Clustering, Curation}
import graft.sources.Zones

/** `Sessions.withConfs`, the one session-conf scope: prior values come
  * back exactly (unset stays unset), and conf-scoped operators running at
  * once on the shared session neither bend each other's plans nor leave
  * their pins behind.
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

  test("conf-scoped operators at once on one session: plans hold, rows match, confs restored") {
    import spark.implicits._
    val before = confState
    val vecs = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // k = 64 takes the fused route: AQE pinned off, then shuffle
    // partitions sized from k·dim in a nested scope
    def clusters() = Clustering.kmeansLite(vecs, "vec_id", "e", 64, 2)
    val edges = (1 to 300).flatMap(i => Seq((i, i * 7 % 300 + 1), (i, i * 13 % 300 + 1)))
      .toDF("src", "dst")
    def ranks() = Curation.pageRankLite(edges, "src", "dst", 5)
    val clustersAlone = clusters()
    val ranksAlone = ranks()

    val wh = tempDir("confscope_zone")
    val tbl = "graft_confscope_zone"
    // z1-style: two daily upserts into a bucketed zone; broadcasts off so
    // the merge is the shuffled join the audit inspects
    val upsert = Future {
      Sessions.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val day1 = (1 to 100).map(i => (i.toLong, 10, i * 1.0)).toDF("product_sk", "date_sk", "price")
        Zones.upsertBucketed(spark, tbl, s"$wh/agg", day1,
          Seq("product_sk", "date_sk"), "date_sk", Seq("product_sk"), 8)
        val day2 = ((40 to 60).map(i => (i.toLong, 10, -1.0)) ++
          (1 to 50).map(i => (i.toLong, 11, i * 2.0)))
          .toDF("product_sk", "date_sk", "price")
        val merged = Zones.upsertBucketed(spark, tbl, s"$wh/agg", day2,
          Seq("product_sk", "date_sk"), "date_sk", Seq("product_sk"), 8)
        assertZoneSideUnshuffled(merged, "bucketed merge beside k-means and PageRank")
        spark.table(tbl).count()
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
}
