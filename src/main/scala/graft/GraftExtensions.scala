package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{Base60Hash, Base60HashExpr, CosineSimilarity, L2Squared, NfcNormalize}

/** Session-extension entry point: registers graft's native functions
  * into every session built with
  * `--conf spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`), so SQL users on a cluster
  * get `cosine_similarity(...)` without any driver-side registration
  * call — the deployment shape for a shared 1000-executor cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName,
        "cosine_similarity"),
      CosineSimilarity.fromExprs))
    e.injectFunction((
      new FunctionIdentifier("l2_squared"),
      new ExpressionInfo(classOf[L2Squared].getName, "l2_squared"),
      L2Squared.fromExprs))
    e.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      NfcNormalize.fromExprs))
    e.injectFunction((
      new FunctionIdentifier("base60_hash"),
      new ExpressionInfo(classOf[Base60HashExpr].getName, "base60_hash"),
      Base60Hash.fromExprs))
    // whole-operator extension (tier c): the as-of join planner rule
    // plus the optimizer rule that lets column pruning pass through
    // the custom node down to both scans
    e.injectPlannerStrategy(_ => new graft.plans.AsofJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.AsofJoinPruning)
    // the serving reads' bounded driver fold (graft.plans.DriverFold)
    e.injectPlannerStrategy(_ => new graft.plans.DriverFoldStrategy)
    // ... and its SQL surface: a table-valued function over named
    // tables/views, so SQL-only users reach the operator too —
    // SELECT * FROM asof_join('purchases','quotes','user_id','user_id','ts','ts')
    e.injectTableFunction((
      new FunctionIdentifier("asof_join"),
      new ExpressionInfo(graft.plans.AsofJoinPlan.getClass.getName,
        "asof_join"),
      (args: Seq[Expression]) => graft.plans.Asof.fromSqlArgs(args)))
    // dedup operators as table functions (one implementation, two
    // surfaces: each builder returns the DataFrame operator's own
    // logical plan — the SQL form cannot drift from the Scala form)
    e.injectTableFunction((
      new FunctionIdentifier("winnow"),
      new ExpressionInfo(graft.ext.DedupSql.getClass.getName, "winnow"),
      (args: Seq[Expression]) => graft.ext.DedupSql.winnowFromSqlArgs(args)))
    e.injectTableFunction((
      new FunctionIdentifier("despan_decontaminate"),
      new ExpressionInfo(graft.ext.DedupSql.getClass.getName,
        "despan_decontaminate"),
      (args: Seq[Expression]) => graft.ext.DedupSql.despanFromSqlArgs(args)))
    // corpus-quality gates as table functions (x27/x28 shapes)
    e.injectTableFunction((
      new FunctionIdentifier("gopher_quality"),
      new ExpressionInfo(graft.ext.TextSql.getClass.getName,
        "gopher_quality"),
      (args: Seq[Expression]) => graft.ext.TextSql.gopherFromSqlArgs(args)))
    e.injectTableFunction((
      new FunctionIdentifier("c4_clean"),
      new ExpressionInfo(graft.ext.TextSql.getClass.getName, "c4_clean"),
      (args: Seq[Expression]) => graft.ext.TextSql.c4FromSqlArgs(args)))
    e.injectTableFunction((
      new FunctionIdentifier("dedup_lines"),
      new ExpressionInfo(graft.ext.TextSql.getClass.getName,
        "dedup_lines"),
      (args: Seq[Expression]) =>
        graft.ext.TextSql.dedupLinesFromSqlArgs(args)))
    e.injectTableFunction((
      new FunctionIdentifier("dsir_resample"),
      new ExpressionInfo(graft.ext.TextSql.getClass.getName,
        "dsir_resample"),
      (args: Seq[Expression]) => graft.ext.TextSql.dsirFromSqlArgs(args)))
    e.injectTableFunction((
      new FunctionIdentifier("quality_probe"),
      new ExpressionInfo(graft.ext.TextSql.getClass.getName,
        "quality_probe"),
      (args: Seq[Expression]) =>
        graft.ext.TextSql.qualityProbeFromSqlArgs(args)))
    e.injectTableFunction((
      new FunctionIdentifier("epoch_budget"),
      new ExpressionInfo(graft.ext.TextSql.getClass.getName,
        "epoch_budget"),
      (args: Seq[Expression]) =>
        graft.ext.TextSql.epochBudgetFromSqlArgs(args)))
    e.injectTableFunction((
      new FunctionIdentifier("weighted_sample"),
      new ExpressionInfo(graft.ext.TextSql.getClass.getName,
        "weighted_sample"),
      (args: Seq[Expression]) =>
        graft.ext.TextSql.weightedSampleFromSqlArgs(args)))
    e.injectTableFunction((
      new FunctionIdentifier("bm25_topk"),
      new ExpressionInfo(graft.ext.TextSql.getClass.getName,
        "bm25_topk"),
      (args: Seq[Expression]) => graft.ext.TextSql.bm25FromSqlArgs(args)))
    e.injectTableFunction((
      new FunctionIdentifier("pca_project"),
      new ExpressionInfo(graft.ext.TextSql.getClass.getName,
        "pca_project"),
      (args: Seq[Expression]) => graft.ext.TextSql.pcaFromSqlArgs(args)))
    e.injectTableFunction((
      new FunctionIdentifier("bpe_merges"),
      new ExpressionInfo(graft.ext.TextSql.getClass.getName,
        "bpe_merges"),
      (args: Seq[Expression]) =>
        graft.ext.TextSql.bpeMergesFromSqlArgs(args)))
    e.injectTableFunction((
      new FunctionIdentifier("perplexity_buckets"),
      new ExpressionInfo(graft.ext.TextSql.getClass.getName,
        "perplexity_buckets"),
      (args: Seq[Expression]) =>
        graft.ext.TextSql.perplexityBucketsFromSqlArgs(args)))
    e.injectTableFunction((
      new FunctionIdentifier("keyword_tags"),
      new ExpressionInfo(graft.ext.TextSql.getClass.getName,
        "keyword_tags"),
      (args: Seq[Expression]) =>
        graft.ext.TextSql.keywordTagsFromSqlArgs(args)))
    e.injectTableFunction((
      new FunctionIdentifier("bigram_loglik"),
      new ExpressionInfo(graft.ext.TextSql.getClass.getName,
        "bigram_loglik"),
      (args: Seq[Expression]) =>
        graft.ext.TextSql.bigramLogLikFromSqlArgs(args)))
  }
}
