package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSimilarity, MinHash8Expr, SimHash16Expr}

/** Session extension point for the engine's native functions, planner
  * strategy and SQL verbs. Registration is declarative only — the conf
  * `spark.sql.extensions=graft.plans.GraftExtensions`, which
  * [[graft.core.Session]] sets — after which `graft_cosine(a, b)`
  * resolves in SQL and `expr()` on every session of that context. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.cosineDescriptor)
    ext.injectFunction(GraftExtensions.minhashDescriptor)
    ext.injectFunction(GraftExtensions.simhashDescriptor)
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graft.AsofJoinStrategy)
    ext.injectOptimizerRule(_ => org.apache.spark.sql.graft.PruneAsofJoinColumns)
    // r12: the GRAFT DML verbs (OPTIMIZE/DELETE/MERGE/RESTORE/VACUUM
    // over txn-log tables) — a delegating parser, Spark SQL untouched
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
    // r13: GRAFT CHANGES resolves at ANALYSIS time (parse stays
    // side-effect-free — ADVICE r12), versions or TIMESTAMP specs
    ext.injectResolutionRule(spark => ResolveGraftChanges(spark))
    // r13: NATIVE SQL UPDATE / MERGE INTO on graft tables — Spark's
    // own v2 DML plans rewritten onto the engine's verbs
    ext.injectResolutionRule(spark => ResolveGraftDml(spark))
  }
}

object GraftExtensions {
  private val cosineDescriptor =
    (new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) =>
        CosineSimilarity(children.head, children(1)): Expression)

  private val minhashDescriptor =
    (new FunctionIdentifier("graft_minhash8"),
      new ExpressionInfo(classOf[MinHash8Expr].getName, "graft_minhash8"),
      (children: Seq[Expression]) => MinHash8Expr(children.head): Expression)

  private val simhashDescriptor =
    (new FunctionIdentifier("graft_simhash16"),
      new ExpressionInfo(classOf[SimHash16Expr].getName, "graft_simhash16"),
      (children: Seq[Expression]) => SimHash16Expr(children.head): Expression)
}
