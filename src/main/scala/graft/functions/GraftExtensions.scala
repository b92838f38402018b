package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Engine extension point (SparkSessionExtensions): registers the native
  * expressions so both the Column API and `spark.sql("... graft_dot(a,b)
  * ...")` resolve them, plus the optimizer rules the engine adds on top
  * of Catalyst. Installed by GraftSession via `spark.sql.extensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Pure range joins (no equi key) become binned equi-joins instead of
    // nested-loop plans; see graft.plans.RangeJoinBinning.
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinBinning)
    // Whole-operator columnar extension: the batched embedding-inference
    // stage (LogicalPlan + columnar SparkPlan); see graft.plans.EmbedInference.
    ext.injectPlannerStrategy(_ => graft.plans.EmbedInferenceStrategy)
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_dot expects exactly 2 arguments, got ${children.length}")
        DotProduct(children.head, children(1))
      }))
    // Spark's runtime-filter bloom expressions are not SQL-registered;
    // surface them for the contamination prefilter (Pipeline.q47b).
    // graft_bloom_agg(longCol, estItems, numBits) -> binary blob;
    // graft_bloom_contains(blob, longCol) -> boolean, no false negatives.
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "graft_bloom_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"graft_bloom_agg expects exactly 3 arguments, got ${children.length}")
        BloomFilterAggregate(children.head, children(1), children(2), 0, 0)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "graft_bloom_contains"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_bloom_contains expects exactly 2 arguments, got ${children.length}")
        BloomFilterMightContain(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_shingle_hashes expects exactly 2 arguments, got ${children.length}")
        ShingleHashes(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_minhashes"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhashes"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_minhashes expects exactly 1 argument, got ${children.length}")
        MinHashSignature(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_word_ngram_hashes"),
      new ExpressionInfo(classOf[WordNgramHashes].getName, "graft_word_ngram_hashes"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_word_ngram_hashes expects exactly 2 arguments, got ${children.length}")
        WordNgramHashes(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash].getName, "graft_simhash"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_simhash expects exactly 1 argument, got ${children.length}")
        SimHash(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bucket_sig"),
      new ExpressionInfo(classOf[BucketCountSig].getName, "graft_bucket_sig"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"graft_bucket_sig expects exactly 1 argument, got ${children.length}")
        BucketCountSig(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_sig_min_sum"),
      new ExpressionInfo(classOf[SigMinSum].getName, "graft_sig_min_sum"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_sig_min_sum expects exactly 2 arguments, got ${children.length}")
        SigMinSum(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_nearest_cells_grid"),
      new ExpressionInfo(classOf[NearestCellsGrid].getName, "graft_nearest_cells_grid"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"graft_nearest_cells_grid expects exactly 3 arguments, got ${children.length}")
        NearestCellsGrid(children.head, children(1), children(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_sig_tau_ok"),
      new ExpressionInfo(classOf[SigTauOk].getName, "graft_sig_tau_ok"),
      (children: Seq[Expression]) => {
        require(children.length == 5,
          s"graft_sig_tau_ok expects exactly 5 arguments, got ${children.length}")
        SigTauOk(children)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_sorted_intersect"),
      new ExpressionInfo(classOf[SortedLongIntersect].getName, "graft_sorted_intersect"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_sorted_intersect expects exactly 2 arguments, got ${children.length}")
        SortedLongIntersect(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_adc_dot"),
      new ExpressionInfo(classOf[AdcDot].getName, "graft_adc_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"graft_adc_dot expects exactly 3 arguments, got ${children.length}")
        AdcDot(children.head, children(1), children(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "graft_pq_encode"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          s"graft_pq_encode expects exactly 4 arguments, got ${children.length}")
        PqEncode(children.head, children(1), children(2), children(3))
      }))
  }
}
