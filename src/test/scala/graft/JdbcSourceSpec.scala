package graft

import java.sql.DriverManager

import org.apache.spark.sql.functions._
import graft.sources.JdbcSource

/** JDBC zone access (S3 variant) against an embedded Derby database —
  * stands in for the reference's MySQL warehouse (load_dwh.py:131-135).
  * Derby ships with the Spark distribution, so this runs offline.
  */
class JdbcSourceSpec extends SparkSpec {

  private lazy val dbDir = {
    val d = new java.io.File(tempDir("graft_derby"))
    d.delete() // Derby wants to create the directory itself
    d.getAbsolutePath
  }
  private lazy val url = s"jdbc:derby:$dbDir;create=true"
  private lazy val connProps =
    JdbcSource.props(driver = "org.apache.derby.jdbc.EmbeddedDriver")

  private def seed(): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE products (id INT PRIMARY KEY, ten VARCHAR(100), gia DOUBLE, extra VARCHAR(10))")
      (1 to 100).foreach { i =>
        st.executeUpdate(
          s"INSERT INTO products VALUES ($i, 'item $i', ${i * 10.0}, 'x')")
      }
      st.executeUpdate("CREATE TABLE sink (id INT, ten VARCHAR(100))")
      st.close()
    } finally conn.close()
  }

  private lazy val seeded = { seed(); true }

  test("whole-table read sees the database rows with their schema") {
    assume(seeded)
    val df = JdbcSource.read(spark, url, "products", connProps)
    assert(df.count() == 100)
    assert(df.columns.map(_.toLowerCase).toSeq == Seq("id", "ten", "gia", "extra"))
  }

  test("filters push down into the database scan") {
    assume(seeded)
    val df = JdbcSource.read(spark, url, "products", connProps)
      .filter(col("id") > 90)
      .select("id", "ten")
    val scan = df.queryExecution.executedPlan.toString
    // JDBC relations advertise pushed predicates on the scan node; the
    // filter must reach the database, not run engine-side post-fetch
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan"),
      s"filter not pushed:\n$scan")
    assert(df.count() == 10)
  }

  test("range-partitioned read splits into N concurrent strides, same rows") {
    assume(seeded)
    val df = JdbcSource.readPartitioned(
      spark, url, "products", "id", 1L, 101L, 4, connProps)
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 100)
    assert(df.agg(sum("id")).head().getLong(0) == 5050)
  }

  test("header-intersection compat load keeps known columns in target order") {
    assume(seeded)
    val df = JdbcSource.readCompat(
      spark, url, "products", connProps, Seq("ID", "GIA", "not_there"))
    assert(df.columns.map(_.toLowerCase).toSeq == Seq("id", "gia"))
    assert(df.count() == 100)
  }

  test("append and truncate-load write disciplines round-trip") {
    assume(seeded)
    import spark.implicits._
    val day1 = Seq((1, "a"), (2, "b")).toDF("id", "ten")
    JdbcSource.append(day1, url, "sink", connProps)
    assert(JdbcSource.read(spark, url, "sink", connProps).count() == 2)
    JdbcSource.append(day1, url, "sink", connProps)
    assert(JdbcSource.read(spark, url, "sink", connProps).count() == 4)
    // S5: truncate keeps the table, replaces the content
    val reload = Seq((9, "z")).toDF("id", "ten")
    JdbcSource.truncateLoad(reload, url, "sink", connProps)
    val after = JdbcSource.read(spark, url, "sink", connProps)
    assert(after.count() == 1)
    assert(after.head().getInt(0) == 9)
  }
}
