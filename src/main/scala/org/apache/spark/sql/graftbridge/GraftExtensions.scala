package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Optimizer rule: rewrite the interpreted higher-order-function dot
  * product
  *
  *   aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, x) -> acc + x)
  *
  * into the codegen [[DotProduct]] expression. Numerically exact: both
  * forms are strictly sequential left-to-right double summation, so
  * this is a pure performance rewrite (measured ~7×).
  *
  * This is the (b)/(c) extension path from the build guide: users who
  * write the declarative HOF form get the native operator without
  * changing their query.
  */
object RewriteDotProduct extends Rule[LogicalPlan] {

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  private object HofDot {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case ArrayAggregate(
            ZipWith(a, b,
              LambdaFunction(Multiply(_: NamedLambdaVariable, _: NamedLambdaVariable, _), _, _)),
            Literal(zero, DoubleType),
            LambdaFunction(Add(_: NamedLambdaVariable, _: NamedLambdaVariable, _), _, _),
            LambdaFunction(_: NamedLambdaVariable, _, _))
          if zero == 0.0 && isDoubleArray(a) && isDoubleArray(b) =>
        Some((a, b))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case HofDot(a, b) => DotProduct(a, b)
    }
}

/** SparkSessionExtensions entry point:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  *   // or spark.sql.extensions=org.apache.spark.sql.graftbridge.GraftExtensions
  *
  * Registers the `graft_dot` and `graft_simhash_votes` SQL functions
  * and the HOF→native rewrite.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    // graft_simhash_votes(str, bits): packed 21-bit-lane simhash votes
    // (the fused kernel behind Dedup.simhashSignature) for SQL users —
    // `bits` must be a foldable int literal (it shapes the output)
    e.injectFunction((
      FunctionIdentifier("graft_simhash_votes"),
      new ExpressionInfo(classOf[SimhashPackedVotes].getName, "graft_simhash_votes"),
      (children: Seq[Expression]) => children match {
        case Seq(str, IntegerLiteral(bits)) => SimhashPackedVotes(str, bits)
        case _ => throw new IllegalArgumentException(
          "graft_simhash_votes(str, bits) requires an integer literal bits")
      }))
    // graft_zorder(a, b): Morton interleave of two dimensions — the
    // layout key of graft.io.Bucketing.zValue, for SQL users. Expands
    // to the same built-in bitwise tree as the Column form (shared
    // spread schedule), so it stays codegen'd and
    // oracle-compatible with no new expression class.
    e.injectFunction((
      FunctionIdentifier("graft_zorder"),
      new ExpressionInfo(classOf[BitwiseOr].getName, "graft_zorder"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b) =>
          import org.apache.spark.sql.types.LongType
          def spread(c: Expression): Expression =
            graft.io.Bucketing.SpreadSteps.foldLeft[Expression](
              BitwiseAnd(Cast(c, LongType), Literal(0x7FFFFFFFL))) {
              case (x, (s, m)) =>
                BitwiseAnd(BitwiseOr(x, ShiftLeft(x, Literal(s))), Literal(m))
            }
          BitwiseOr(spread(a), ShiftLeft(spread(b), Literal(1)))
        case _ => throw new IllegalArgumentException(
          "graft_zorder(a, b) takes exactly two arguments")
      }))
    // graft_minhash(shingles, n): fused two-hash-family MinHash
    // signature (the kernel behind Dedup.withMinhashSignature) for SQL
    // users — `n` must be a foldable int literal (it shapes the output)
    e.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinhashSignature].getName, "graft_minhash"),
      (children: Seq[Expression]) => children match {
        case Seq(arr, IntegerLiteral(n)) => MinhashSignature(arr, n)
        case _ => throw new IllegalArgumentException(
          "graft_minhash(shingles, numHashes) requires an integer literal numHashes")
      }))
    // graft_shingle_set(text, k): fused tokenize → k-gram → distinct
    // (the kernel behind TextOps.shingleSet) for SQL users — `k` must
    // be a foldable int literal
    e.injectFunction((
      FunctionIdentifier("graft_shingle_set"),
      new ExpressionInfo(classOf[ShingleSet].getName, "graft_shingle_set"),
      (children: Seq[Expression]) => children match {
        case Seq(text, IntegerLiteral(k)) => ShingleSet(text, k)
        case _ => throw new IllegalArgumentException(
          "graft_shingle_set(text, k) requires an integer literal k")
      }))
    // graft_nfc(text): Unicode NFC normalization (the kernel behind
    // TextExprs.nfcNormalize) for SQL users
    e.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (children: Seq[Expression]) => children match {
        case Seq(text) => NfcNormalize(text)
        case _ => throw new IllegalArgumentException(
          "graft_nfc(text) takes exactly one argument")
      }))
    e.injectOptimizerRule(_ => RewriteDotProduct)
  }
}
