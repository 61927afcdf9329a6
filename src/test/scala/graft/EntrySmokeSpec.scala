package graft

/** Driver-contract smoke: entry() must return rows on sf0.001. */
class EntrySmokeSpec extends SparkSpec {
  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("a gate zone left on disk is rebuilt on first use, then reused in the JVM") {
    val dir = tempDir("graft_gatezone_sf")
    val zone = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_spec_${dir.replaceAll("[^A-Za-z0-9]+", "_")}")
    // a zone another binary left, complete by every marker it checked
    zone.mkdirs()
    Seq("_SUCCESS", "part-bogus.parquet").foreach(new java.io.File(zone, _).createNewFile())
    var builds = 0
    def build(z: String): Unit = { builds += 1; spark.range(3).write.parquet(z) }
    val got = SparkEntry.gateZone(spark, "spec", dir)(build)
    assert(got == zone.getAbsolutePath && builds == 1, "the planted zone was trusted")
    assert(!new java.io.File(zone, "part-bogus.parquet").exists())
    assert(spark.read.parquet(got).count() == 3)
    assert(SparkEntry.gateZone(spark, "spec", dir)(build) == got && builds == 1,
      "a zone built in this JVM was rebuilt")
    graft.sources.Zones.delete(spark, got)
  }
}
