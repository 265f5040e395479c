package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions

/** Imperative registration for sessions built elsewhere (the driver hands
  * the library an existing SparkSession). Idempotent. */
object GraftFunctions {
  /** Every graft.* custom expression: (identifier, info, builder). */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
      (children: Seq[Expression]) => ShingleHashes(children(0), children(1))),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (children: Seq[Expression]) => SimHash64(children(0))),
    (FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinhashSig].getName, "graft_minhash_sig"),
      (children: Seq[Expression]) => MinhashSig(children(0), children(1), children(2))),
    (FunctionIdentifier("graft_sorted_intersect"),
      new ExpressionInfo(classOf[SortedIntersectValues].getName, "graft_sorted_intersect"),
      (children: Seq[Expression]) => SortedIntersectValues(children(0), children(1))),
    (FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
      (children: Seq[Expression]) => CosineSim(children(0), children(1))),
    (FunctionIdentifier("graft_srp_bucket"),
      new ExpressionInfo(classOf[SrpBucket].getName, "graft_srp_bucket"),
      (children: Seq[Expression]) => SrpBucket(children(0), children(1), children(2))),
    (FunctionIdentifier("graft_sqdist_long"),
      new ExpressionInfo(classOf[SqDistLong].getName, "graft_sqdist_long"),
      (children: Seq[Expression]) => SqDistLong(children(0), children(1))),
    (FunctionIdentifier("graft_kmv_kmin"),
      new ExpressionInfo(classOf[KmvKmin].getName, "graft_kmv_kmin"),
      (children: Seq[Expression]) => KmvKmin(children(0), children(1))),
    (FunctionIdentifier("graft_char_counts"),
      new ExpressionInfo(classOf[CharClassCounts].getName, "graft_char_counts"),
      (children: Seq[Expression]) => CharClassCounts(children(0))),
    (FunctionIdentifier("graft_cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunks].getName, "graft_cdc_chunks"),
      (children: Seq[Expression]) => CdcChunks(children(0))),
    (FunctionIdentifier("graft_ordered_pairs"),
      new ExpressionInfo(classOf[OrderedPairs].getName, "graft_ordered_pairs"),
      (children: Seq[Expression]) => OrderedPairs(children(0))),
    (FunctionIdentifier("graft_xor_probe"),
      new ExpressionInfo(classOf[XorProbe].getName, "graft_xor_probe"),
      (children: Seq[Expression]) => XorProbe(children(0))),
    (FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomContains].getName, "graft_bloom_contains"),
      (children: Seq[Expression]) => BloomContains(children(0), children(1))))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }
}

/** `SparkSessionExtensions` hook: `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`. Injects the
  * expression library plus the oversized-broadcast-hint guard
  * ([[graft.plans.StripOversizedBroadcastHints]]). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectOptimizerRule(s => graft.plans.StripOversizedBroadcastHints(s))
  }
}
