package graft

import graft.expressions.{CosineSim, MinHashSigFromHashes, NfcNormalize, SimHash64, SpaceTokenCount, WordShingleHashes}
import graft.functions.TextFunctions
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** SQL registration of the engine's native expressions, both as a
  * `SparkSessionExtensions` installer (for
  * `spark.sql.extensions=graft.GraftExtensions`) and as
  * [[GraftFunctions.register]] for an already-running session.
  *
  * SQL surface:
  *   - graft_cosine(a, b)               cosine of two float arrays
  *   - graft_shingle_hashes(text, n)    distinct n-word shingle hashes
  *   - graft_minhash(hashes, k)         MinHash signature of width k
  *   - graft_simhash(tokens)            64-bit SimHash
  */
object GraftFunctions {

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
      (es: Seq[Expression]) => CosineSim(es(0), es(1))),
    (FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[WordShingleHashes].getName, "graft_shingle_hashes"),
      (es: Seq[Expression]) =>
        WordShingleHashes(es(0), litInt(es(1), "shingle width"))),
    (FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSigFromHashes].getName, "graft_minhash"),
      (es: Seq[Expression]) => MinHashSigFromHashes(es(0),
        TextFunctions.minHashCoeffs(litInt(es(1), "signature width")))),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (es: Seq[Expression]) => SimHash64(es(0))),
    (FunctionIdentifier("graft_token_count"),
      new ExpressionInfo(classOf[SpaceTokenCount].getName, "graft_token_count"),
      (es: Seq[Expression]) => SpaceTokenCount(es(0))),
    (FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (es: Seq[Expression]) => NfcNormalize(es(0))))

  /** Register on a live session (temp functions). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (ident, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(ident.funcName, builder, "built-in")
    }
}

/** `spark.sql.extensions` entry point: the SQL functions, the engine
  * optimizer rules ([[GraftExtensions.optimizerRules]], among them
  * [[SmallPlanSinglePartition]] and [[SmallSortSinglePartition]]) and
  * [[SmallSortSinglePartition]] once more as an AQE runtime optimizer
  * rule, which decides on materialized stages' exact bytes.
  * [[GraftSession.build]] builds with it.
  *
  * The optimizer rules go in the pre-CBO batch, which runs once, after
  * operator optimization: column pruning has narrowed the size
  * estimates by then, and the rules run once per query instead of once
  * per iteration of the fixed-point operator batch.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(e.injectFunction)
    GraftExtensions.optimizerRules.foreach(r => e.injectPreCBORule(_ => r))
    e.injectRuntimeOptimizerRule(_ => SmallSortSinglePartition)
  }
}

object GraftExtensions {
  /** The engine's logical optimizer rules: injected at session build,
    * and added to a running session by [[GraftSession.installOptimizations]]. */
  val optimizerRules: Seq[Rule[LogicalPlan]] =
    Seq(graft.expressions.RewriteSizeOfSplit, SmallPlanSinglePartition,
      SmallSortSinglePartition)
}
