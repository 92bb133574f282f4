package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension entry point: installs the engine's custom Catalyst
  * expressions as PERMANENT functions at session build time —
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * or
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  *
  * This is the deployment-grade registration path: every session on the
  * cluster gets `wkt_normalize` / `cosine_similarity` / `top_k_by` in
  * SQL with no per-session setup. [[graft.functions.GraftFunctions]]
  * holds the function table and remains the per-session
  * (temp-function) alternative for notebooks attached to an
  * already-running session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // scale-safety rewrite: global row_number() → sorted distributed sequence
    ext.injectOptimizerRule(_ => new graft.plans.GlobalRankRewriteRule)
    // lake CBO bridge: manifest rowCount + zone-map column stats onto
    // every graft-txn LogicalRelation (plan-time build-side choice);
    // pre-CBO = after operator optimization, before join reorder /
    // physical planning — the hook Delta's stats preparation uses
    ext.injectPreCBORule(_ => graft.lake.TxnCboStats)
    // generated-column partition pruning: a filter on the SOURCE column
    // of a generated partition key derives the implied partition
    // predicate (Delta OptimizeGeneratedColumn parity)
    ext.injectOptimizerRule(_ => graft.lake.GeneratedPartitionPruning)
    // SQL DML statements (UPDATE/DELETE/MERGE INTO) on graft-txn tables
    ext.injectParser((session, delegate) =>
      new graft.plans.GraftSqlParser(session, delegate))
    graft.functions.GraftFunctions.builders.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls, name), build))
    }
  }
}
