package graft.functions

import graft.ingest.WktNormalizeExpr
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

/** SQL registration for the engine's custom Catalyst expressions, so
  * `spark.sql` users get the same operators as the Column API:
  *
  *   SELECT wkt_normalize(line), cosine_similarity(a, b), ...
  *   SELECT g, top_k_by(score, id, 3) FROM t GROUP BY g
  *
  * Registration is per-session (temp functions), the idiomatic extension
  * point short of a SparkSessionExtensions build — and what a catalog
  * would do at startup. [[graft.GraftExtensions]] injects the same
  * [[builders]] as permanent functions. */
object GraftFunctions {

  /** Every SQL function: its name, the class its ExpressionInfo
    * reports, and its builder over the call's arguments — the one table
    * both registration paths iterate. */
  private[graft] val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("wkt_normalize", WktNormalizeExpr.getClass.getName,
      exprs => WktNormalizeExpr(exprs.head)),
    ("cosine_similarity", CosineSimilarity.getClass.getName,
      exprs => CosineSimilarity(exprs(0), exprs(1))),
    ("string_poly_hash", StringPolyHash.getClass.getName,
      exprs => StringPolyHash(exprs.head)),
    ("token_hashes", TokenHashes.getClass.getName,
      exprs => TokenHashes(exprs.head)),
    ("shingle_hashes", ShingleHashCombine.getClass.getName, exprs =>
      ShingleHashCombine(exprs.head, intLiteral(exprs(1), "shingle_hashes width"))),
    ("top_k_by", TopKOrderedAgg.getClass.getName, exprs =>
      TopKOrderedAgg(exprs(0), exprs(1), intLiteral(exprs(2), "top_k_by k"))
        .toAggregateExpression()))

  private def intLiteral(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, _, build) =>
      registry.createOrReplaceTempFunction(name, build, "scala_udf")
    }
  }
}
