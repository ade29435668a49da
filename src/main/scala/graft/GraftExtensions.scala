package graft

import graft.functions.{DotProduct, MinHashBands, RollingHash, SimHash32}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers graft's native functions
  * so `spark.sql("SELECT rolling_hash(text) ...")` works cluster-wide.
  *
  * Use: `.withExtensions(new GraftExtensions)` on a session builder, or
  * spark.sql.extensions=graft.GraftExtensions, or
  * GraftExtensions.register(spark) on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (exprs: Seq[Expression]) => RollingHash(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("dot_d"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_d"),
      (exprs: Seq[Expression]) => DotProduct(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("simhash32"),
      new ExpressionInfo(classOf[SimHash32].getName, "simhash32"),
      (exprs: Seq[Expression]) => SimHash32(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinHashBands].getName, "minhash_bands"),
      (exprs: Seq[Expression]) => MinHashBands(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("sorted_count_in"),
      new ExpressionInfo(classOf[graft.functions.SortedCountIn].getName, "sorted_count_in"),
      (exprs: Seq[Expression]) => graft.functions.SortedCountIn(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("ngram_md5"),
      new ExpressionInfo(classOf[graft.functions.NgramMd5].getName, "ngram_md5"),
      (exprs: Seq[Expression]) => graft.functions.NgramMd5(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("quality_signals"),
      new ExpressionInfo(classOf[graft.functions.QualitySignals].getName, "quality_signals"),
      (exprs: Seq[Expression]) => graft.functions.QualitySignals(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("bloom_hits"),
      new ExpressionInfo(classOf[graft.functions.BloomHits].getName, "bloom_hits"),
      (exprs: Seq[Expression]) => graft.functions.BloomHits(exprs.head, exprs(1),
        exprs(2).eval().asInstanceOf[Int], exprs(3).eval().asInstanceOf[Int])))
    e.injectFunction((
      new FunctionIdentifier("bpe_count"),
      new ExpressionInfo(classOf[graft.functions.BpeCount].getName, "bpe_count"),
      (exprs: Seq[Expression]) => graft.functions.BpeCount(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("min_seg_count"),
      new ExpressionInfo(classOf[graft.functions.MinSeg].getName, "min_seg_count"),
      (exprs: Seq[Expression]) => graft.functions.MinSeg(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("lev_bytes"),
      new ExpressionInfo(classOf[graft.functions.LevBytes].getName, "lev_bytes"),
      (exprs: Seq[Expression]) => graft.functions.LevBytes(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("lm_nll"),
      new ExpressionInfo(classOf[graft.functions.LmNll].getName, "lm_nll"),
      graft.functions.LmNll.build))
    e.injectFunction((
      new FunctionIdentifier("kn_nll"),
      new ExpressionInfo(classOf[graft.functions.KnNll].getName, "kn_nll"),
      graft.functions.KnNll.build))
    e.injectFunction((
      new FunctionIdentifier("nfkc_casefold"),
      new ExpressionInfo(classOf[graft.functions.NfkcCasefold].getName, "nfkc_casefold"),
      (exprs: Seq[Expression]) => graft.functions.NfkcCasefold(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("repetition_signals"),
      new ExpressionInfo(classOf[graft.functions.RepetitionSignals].getName, "repetition_signals"),
      (exprs: Seq[Expression]) => graft.functions.RepetitionSignals(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("min_seg_cost"),
      new ExpressionInfo(classOf[graft.functions.MinSegCost].getName, "min_seg_cost"),
      (exprs: Seq[Expression]) => graft.functions.MinSegCost(
        exprs.head, exprs(1), exprs(2), exprs(3))))
    e.injectFunction((
      new FunctionIdentifier("min_seg_pieces"),
      new ExpressionInfo(classOf[graft.functions.MinSegPieces].getName, "min_seg_pieces"),
      (exprs: Seq[Expression]) => graft.functions.MinSegPieces(
        exprs.head, exprs(1), exprs(2), exprs(3))))
    e.injectFunction((
      new FunctionIdentifier("canonical_url"),
      new ExpressionInfo(classOf[graft.functions.CanonicalUrl].getName, "canonical_url"),
      (exprs: Seq[Expression]) => graft.functions.CanonicalUrl(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("resolve_href"),
      new ExpressionInfo(classOf[graft.functions.ResolveHref].getName, "resolve_href"),
      (exprs: Seq[Expression]) => graft.functions.ResolveHref(exprs.head, exprs(1))))
    e.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {
  /** Runtime registration on an already-built session. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rolling_hash", exprs => RollingHash(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_d", exprs => DotProduct(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash32", exprs => SimHash32(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_bands", exprs => MinHashBands(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sorted_count_in",
      exprs => graft.functions.SortedCountIn(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "ngram_md5",
      exprs => graft.functions.NgramMd5(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "quality_signals",
      exprs => graft.functions.QualitySignals(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bloom_hits",
      exprs => graft.functions.BloomHits(exprs.head, exprs(1),
        exprs(2).eval().asInstanceOf[Int], exprs(3).eval().asInstanceOf[Int]), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bpe_count",
      exprs => graft.functions.BpeCount(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "min_seg_count",
      exprs => graft.functions.MinSeg(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "lev_bytes",
      exprs => graft.functions.LevBytes(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "lm_nll", graft.functions.LmNll.build, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "kn_nll", graft.functions.KnNll.build, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "nfkc_casefold",
      exprs => graft.functions.NfkcCasefold(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "repetition_signals",
      exprs => graft.functions.RepetitionSignals(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "min_seg_cost",
      exprs => graft.functions.MinSegCost(
        exprs.head, exprs(1), exprs(2), exprs(3)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "min_seg_pieces",
      exprs => graft.functions.MinSegPieces(
        exprs.head, exprs(1), exprs(2), exprs(3)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "canonical_url",
      exprs => graft.functions.CanonicalUrl(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "resolve_href",
      exprs => graft.functions.ResolveHref(exprs.head, exprs(1)), "built-in")
    // planner strategy for the custom AsOfJoin logical plan (idempotent)
    val strategies = spark.experimental.extraStrategies
    if (!strategies.exists(_.isInstanceOf[graft.plans.AsOfJoinStrategy]))
      spark.experimental.extraStrategies =
        strategies :+ new graft.plans.AsOfJoinStrategy
  }
}
