package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BpeEncode, CosineSimilarity, SignBitBands, DecimalVectorMean, DecimalVectorSum, FreqItemsAgg, FreqItemsMergeAgg, FreqTopItems, MinhashSignature, NearestCellDist, NearestCells, SortedIntersectCount}

/** Session extensions registering graft's native expressions so they are
  * callable from SQL and `functions.call_function` (installed via
  * `spark.sql.extensions=graft.GraftExtensions`, see [[Sessions.builder]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_sim(a, b) takes two array<double> arguments")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "sorted_intersect_count(a, b) takes two sorted array<bigint> arguments")
        SortedIntersectCount(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinhashSignature].getName, "minhash_signature"),
      (children: Seq[Expression]) => {
        require(children.length == 2 && children(1).foldable,
          "minhash_signature(hgrams, k) takes array<bigint> and a literal hash count")
        MinhashSignature(
          children.head,
          children(1).eval().asInstanceOf[Number].intValue())
      }))
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its
    // runtime-filter rewrite but does NOT register them as SQL functions;
    // exposing them makes the explicit bloom-pre-filter join pattern
    // (build on the selective side, might_contain ahead of the fact
    // shuffle) writable by users. The filter argument must be a scalar
    // subquery or constant — the expression's own contract.
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[Expression]) => {
        require(children.nonEmpty && children.length <= 3,
          "graft_bloom_agg(col[, estimatedItems[, numBits]])")
        children match {
          case Seq(c) =>
            new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
          case Seq(c, est) =>
            new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, est)
          case Seq(c, est, bits) =>
            new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, est, bits)
        }
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_might_contain(bloom, value)")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("decimal_vector_mean"),
      new ExpressionInfo(classOf[DecimalVectorMean].getName, "decimal_vector_mean"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "decimal_vector_mean(v) takes one array<double> argument")
        DecimalVectorMean(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("decimal_vector_sum"),
      new ExpressionInfo(classOf[DecimalVectorSum].getName, "decimal_vector_sum"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "decimal_vector_sum(v) takes one array<double> argument")
        DecimalVectorSum(children.head)
      }))
    // Misra-Gries heavy hitters with per-item (lb, ub) bounds: Spark 4.1's
    // approx_top_k_* family reports only (item, count) and its merged
    // state is not kilobyte-bounded (see FreqItemsSketch). KLL quantile
    // states come from Spark's built-in kll_*_double functions. Binary
    // states persist to zones and roll up without rescanning raw rows —
    // the a19 incremental shape.
    ext.injectFunction((
      new FunctionIdentifier("freq_items_agg"),
      new ExpressionInfo(classOf[FreqItemsAgg].getName, "freq_items_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 2 && children(1).foldable,
          "freq_items_agg(col, maxMapSize) takes a string column and a literal power-of-2 size")
        FreqItemsAgg(children.head,
          children(1).eval().asInstanceOf[Number].intValue())
      }))
    ext.injectFunction((
      new FunctionIdentifier("freq_items_merge_agg"),
      new ExpressionInfo(classOf[FreqItemsMergeAgg].getName, "freq_items_merge_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "freq_items_merge_agg(sketch) takes one binary column")
        FreqItemsMergeAgg(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("freq_top_items"),
      new ExpressionInfo(classOf[FreqTopItems].getName, "freq_top_items"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "freq_top_items(sketch) takes one binary column")
        FreqTopItems(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("nearest_cells"),
      new ExpressionInfo(classOf[NearestCells].getName, "nearest_cells"),
      (children: Seq[Expression]) => {
        require(children.length == 3 && children(1).foldable && children(2).foldable,
          "nearest_cells(v, centroids, nProbe) takes array<double>, a literal " +
            "array<array<double>> centroid matrix, and a literal probe count")
        val m = children(1).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val centroids = Array.tabulate(m.numElements())(i => m.getArray(i).toDoubleArray())
        NearestCells(
          children.head,
          centroids,
          children(2).eval().asInstanceOf[Number].intValue())
      }))
    ext.injectFunction((
      new FunctionIdentifier("nearest_cell_dist"),
      new ExpressionInfo(classOf[NearestCellDist].getName, "nearest_cell_dist"),
      (children: Seq[Expression]) => {
        require(children.length == 2 && children(1).foldable,
          "nearest_cell_dist(v, centroids) takes array<double> and a literal " +
            "array<array<double>> centroid matrix")
        val m = children(1).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        NearestCellDist(
          children.head,
          Array.tabulate(m.numElements())(i => m.getArray(i).toDoubleArray()))
      }))
    ext.injectFunction((
      new FunctionIdentifier("sign_bit_bands"),
      new ExpressionInfo(classOf[SignBitBands].getName, "sign_bit_bands"),
      (children: Seq[Expression]) => {
        require(children.length == 4 && children.drop(1).forall(_.foldable),
          "sign_bit_bands(v, planes, bands, bitsPerBand) takes array<double> and " +
            "literal plane matrix / band geometry")
        val m = children(1).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        SignBitBands(
          children.head,
          Array.tabulate(m.numElements())(i => m.getArray(i).toDoubleArray()),
          children(2).eval().asInstanceOf[Number].intValue(),
          children(3).eval().asInstanceOf[Number].intValue())
      }))
    ext.injectFunction((
      new FunctionIdentifier("bpe_encode"),
      new ExpressionInfo(classOf[BpeEncode].getName, "bpe_encode"),
      (children: Seq[Expression]) => {
        require(children.length == 3 && children(1).foldable && children(2).foldable,
          "bpe_encode(word, lhs, rhs) takes a string word and two literal " +
            "array<string> merge columns aligned by rank")
        def strings(e: Expression): Array[String] = {
          val a = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          Array.tabulate(a.numElements())(i => a.getUTF8String(i).toString)
        }
        BpeEncode(children.head, strings(children(1)), strings(children(2)))
      }))
  }
}
