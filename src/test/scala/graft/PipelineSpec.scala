package graft

import org.apache.spark.sql.functions._

import graft.operators.{Scd2, Upsert}
import graft.pipeline.ProductPipeline

/** End-to-end six-stage pipeline over the reference fixture corpus:
  * clean → SCD2 → dims → aggregate → datamart (run_all.bat:20-64).
  */
class PipelineSpec extends SparkSpec {

  private val sentinel = lit(Scd2.SentinelTs).cast("timestamp_ntz")

  test("full pipeline run over the 239-row fixture day") {
    val runTs = lit("2025-11-23 18:51:37").cast("timestamp_ntz")
    val dimDate = fixture("dim_date")
    val cleaned = ProductPipeline.clean(fixture("products_general"), dimDate)
    val (history, stats) = ProductPipeline.scdUpdate(
      Scd2.emptyHistory(cleaned, "timestamp_ntz"), cleaned, runTs)
    assert(stats.rowsInput == 239)

    val (dimBrand, dimProduct) = ProductPipeline.loadDims(
      history, ProductPipeline.emptyDimBrand(spark), ProductPipeline.emptyDimProduct(spark),
      sentinel)
    val brands = dimBrand.collect().map(r => r.getString(1)).toSet
    assert(brands.contains("Apple") && brands.contains("Samsung") && brands.contains("Khác"))
    // SKs dense from 1, unique
    val sks = dimBrand.collect().map(_.getLong(0)).sorted
    assert(sks.toSeq == (1L to sks.length).toSeq)
    // one product per distinct current LINK
    val nLinks = history.filter(col("EXPIRED_AT") === sentinel)
      .select("LINK").distinct().count()
    assert(dimProduct.count() == nLinks)
    // A5 derivation: GIA_CU=-1 rows take GIA_MOI for both bounds
    val p3 = dimProduct.join(
      history.filter(col("ID") === 3).select("LINK"), "LINK").head()
    assert(p3.getAs[java.math.BigDecimal]("MIN_PRICE").doubleValue() == 22990000.0)
    assert(p3.getAs[java.math.BigDecimal]("MAX_PRICE").doubleValue() == 22990000.0)

    // aggregate upsert: day-1 snapshot, then an idempotent re-run
    val agg1 = loadAggregate(dimProduct, emptyAggregate(dimProduct), 2154)
    assert(agg1.count() == dimProduct.count())
    val agg2 = loadAggregate(dimProduct, agg1, 2154)
    assert(agg2.count() == agg1.count(), "re-run must not duplicate (PRODUCT_SK, DATE_SK)")

    // datamart rollups incl. the 'QQ4' quarter-label quirk
    val daily = ProductPipeline.datamartDaily(agg2)
    assert(daily.count() == agg2.count())
    val midrangeOk = daily
      .filter(col("AVG_PRICE") =!= (col("MAX_PRICE") + col("MIN_PRICE")) / 2).count()
    assert(midrangeOk == 0)
    val quarterly = ProductPipeline.datamartQuarterly(agg2, dimDate)
    val labels = quarterly.select("QUARTER_NAME").distinct().collect().map(_.getString(0)).toSet
    assert(labels == Set("QQ4"), s"labels: $labels")
  }

  test("day-2 run: product SKs stable, dims refreshed, aggregate grows one day") {
    val ts1 = lit("2025-11-23 18:51:37").cast("timestamp_ntz")
    val ts2 = lit("2025-11-24 18:51:37").cast("timestamp_ntz")
    val dimDate = fixture("dim_date")
    val cleaned = ProductPipeline.clean(fixture("products_general"), dimDate)
    val (h1, _) = ProductPipeline.scdUpdate(
      Scd2.emptyHistory(cleaned, "timestamp_ntz"), cleaned, ts1)
    val (brand1, prod1) = ProductPipeline.loadDims(
      h1, ProductPipeline.emptyDimBrand(spark), ProductPipeline.emptyDimProduct(spark), sentinel)

    // day 2: 40 price drops
    val day2 = cleaned.withColumn(
      "GIA_MOI",
      when(col("ID") <= 40, col("GIA_MOI") - 500).otherwise(col("GIA_MOI")))
    val (h2, stats2) = ProductPipeline.scdUpdate(h1, day2, ts2)
    assert(stats2.rowsExpired > 0)
    val (brand2, prod2) = ProductPipeline.loadDims(h2, brand1, prod1, sentinel)

    // PRODUCT_SK is stable across runs for the same LINK
    val skDrift = prod1.select(col("LINK"), col("PRODUCT_SK").as("sk1"))
      .join(prod2.select(col("LINK"), col("PRODUCT_SK").as("sk2")), "LINK")
      .filter(col("sk1") =!= col("sk2")).count()
    assert(skDrift == 0, "PRODUCT_SK must be stable for existing products")
    assert(brand2.count() == brand1.count(), "no new brands on day 2")
    // updated rows carry the new price in MIN/MAX
    val changed = h2.filter(col("ID") <= 40 && col("EXPIRED_AT") === sentinel)
      .select("LINK").distinct()
    val stale = prod2.join(changed, Seq("LINK"), "left_semi")
      .join(
        h2.filter(col("EXPIRED_AT") === sentinel).select(col("LINK"), col("GIA_MOI")),
        Seq("LINK"))
      .filter(col("GIA_MOI") =!= -1 &&
        col("MIN_PRICE") =!= least(col("GIA_MOI"), when(col("MAX_PRICE") =!= -1, col("MAX_PRICE"))) &&
        col("MIN_PRICE") > col("GIA_MOI"))
      .count()
    assert(stale == 0, "dim prices must reflect the day-2 snapshot")

    // aggregate: day-2 snapshot lands under a new DATE_SK; day 1 untouched
    val agg1 = loadAggregate(prod1, emptyAggregate(prod1), 2154)
    val agg2 = loadAggregate(prod2, agg1, 2155)
    assert(agg2.filter(col("DATE_SK") === 2154).count() == prod1.count())
    assert(agg2.filter(col("DATE_SK") === 2155).count() == prod2.count())
    val daily = ProductPipeline.datamartDaily(agg2)
    assert(daily.select("DATE_SK").distinct().count() == 2)
  }

  test("surrogate keys: existing SKs kept, new keys continue from the max in natural-key order") {
    import spark.implicits._
    import graft.operators.SurrogateKeys
    val empty = Seq.empty[(Long, String)].toDF("sk", "name")
    val round1 = SurrogateKeys.ensureKeys(empty, Seq("b", "d", "f", "d").toDF("name"),
      Seq("name"), "sk")
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(r.fieldIndex("name")) -> r.getLong(r.fieldIndex("sk"))).toMap
    assert(keys(round1) == Map("b" -> 1L, "d" -> 2L, "f" -> 3L))
    // round 2: new names sort before, between and after the existing ones
    val round2 = SurrogateKeys.ensureKeys(round1, Seq("a", "c", "d", "e", "g", "a").toDF("name"),
      Seq("name"), "sk")
    assert(round2.count() == 7, "one row per natural key")
    assert(keys(round2) == Map(
      "b" -> 1L, "d" -> 2L, "f" -> 3L,
      "a" -> 4L, "c" -> 5L, "e" -> 6L, "g" -> 7L))
  }

  /** Stage 6 over in-memory frames: the day's snapshot upserted into the
    * aggregate keyed (PRODUCT_SK, DATE_SK).
    */
  private def loadAggregate(
      dimProduct: org.apache.spark.sql.DataFrame,
      aggregate: org.apache.spark.sql.DataFrame,
      dateSk: Int) =
    Upsert.upsert(
      aggregate, ProductPipeline.aggregateSnapshot(dimProduct, dateSk, 2025, 11),
      Seq("PRODUCT_SK", "DATE_SK"))

  private def emptyAggregate(dimProduct: org.apache.spark.sql.DataFrame) =
    ProductPipeline.aggregateSnapshot(dimProduct.limit(0), 0, 0, 0)
}
