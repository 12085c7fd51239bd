package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.types.U256.{DecimalToU256, U256ToDecimal}
import graft.types.U256Arith.{U256Add, U256Div, U256Mod, U256Mul, U256Sub}

/** Catalyst integration (SURVEY §4.2): a custom optimizer rule plus SQL
  * registration for the u256 expression family, injected through the
  * standard SparkSessionExtensions hook:
  *
  *   GraftSession.builder(cpus).withExtensions(new GraftExtensions).…
  *   // or: spark.sql.extensions=graft.plans.GraftExtensions
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => EliminateU256Roundtrips)
    e.injectPlannerStrategy(_ => TopKPerGroupStrategy)
    GraftExtensions.functions.foreach(e.injectFunction)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  /** The curve-key expressions deliberately avoid ExpectsInputTypes (its
    * AbstractDataType signature is private[sql] in Spark 4 — see
    * PolyHash), so narrower integrals get no implicit widening; coerce
    * them at the builder so `zorder_key(1, 2)` (INT literals) works like
    * any native function. Non-integral types fall through to the
    * expression's own analysis-time type check. */
  private def widenIntegral(e: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    if (e.resolved && Seq(ByteType, ShortType, IntegerType).contains(e.dataType))
      Cast(e, LongType)
    else e
  }

  /** SQL-visible u256 functions: `SELECT u256_to_decimal(value) …`. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("u256_to_decimal"),
      new ExpressionInfo(classOf[U256ToDecimal].getName, "u256_to_decimal"),
      (args: Seq[Expression]) => U256ToDecimal(args.head)),
    (FunctionIdentifier("decimal_to_u256"),
      new ExpressionInfo(classOf[DecimalToU256].getName, "decimal_to_u256"),
      (args: Seq[Expression]) => DecimalToU256(args.head)),
    (FunctionIdentifier("u256_add"),
      new ExpressionInfo(classOf[U256Add].getName, "u256_add"),
      (args: Seq[Expression]) => U256Add(args(0), args(1))),
    (FunctionIdentifier("u256_mul"),
      new ExpressionInfo(classOf[U256Mul].getName, "u256_mul"),
      (args: Seq[Expression]) => U256Mul(args(0), args(1))),
    (FunctionIdentifier("u256_div"),
      new ExpressionInfo(classOf[U256Div].getName, "u256_div"),
      (args: Seq[Expression]) => U256Div(args(0), args(1))),
    (FunctionIdentifier("u256_sub"),
      new ExpressionInfo(classOf[U256Sub].getName, "u256_sub"),
      (args: Seq[Expression]) => U256Sub(args(0), args(1))),
    (FunctionIdentifier("u256_mod"),
      new ExpressionInfo(classOf[U256Mod].getName, "u256_mod"),
      (args: Seq[Expression]) => U256Mod(args(0), args(1))),
    // zorder_key(x, y): Morton interleave of two BIGINT keys — the
    // layout clustering key behind Layout.zorderWrite, SQL-visible so
    // `CLUSTER BY zorder_key(a, b)`-style statements work verbatim.
    (FunctionIdentifier("zorder_key"),
      new ExpressionInfo(classOf[graft.functions.BitInterleave16].getName, "zorder_key"),
      (args: Seq[Expression]) =>
        graft.functions.BitInterleave16(widenIntegral(args(0)), widenIntegral(args(1)))),
    (FunctionIdentifier("zorder_key3"),
      new ExpressionInfo(classOf[graft.functions.BitInterleave21x3].getName, "zorder_key3"),
      (args: Seq[Expression]) =>
        graft.functions.BitInterleave21x3(widenIntegral(args(0)),
          widenIntegral(args(1)), widenIntegral(args(2)))),
    // hilbert_key(x, y): the Hilbert-curve layout key — same role,
    // stronger locality (see functions/Hilbert.scala).
    (FunctionIdentifier("hilbert_key"),
      new ExpressionInfo(classOf[graft.functions.HilbertKey16].getName, "hilbert_key"),
      (args: Seq[Expression]) =>
        graft.functions.HilbertKey16(widenIntegral(args(0)), widenIntegral(args(1)))),
    // poly_hash(str, base, mod): the engine-independent polynomial fold
    // behind rolling hashes / MinHash shingles / SimHash — base and mod
    // are plan-time constants (they parameterize generated code).
    (FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[graft.functions.PolyHash].getName, "poly_hash"),
      (args: Seq[Expression]) => {
        def longLit(e: Expression, name: String): Long = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
            v.toString.toLong
          case _ => throw new IllegalArgumentException(
            s"poly_hash: $name must be a non-null literal integer, got $e")
        }
        graft.functions.PolyHash(args(0), longLit(args(1), "base"), longLit(args(2), "mod"))
      })
  )
}

/** Optimizer rule: collapse the u256 codec roundtrip
  * u256_to_decimal(decimal_to_u256(d)) -> d. Pipelines that encode a
  * decimal projection to the canonical binary and immediately decode it
  * back (decimal view over a binary-canonical write path) generate this
  * pair; every Decimal(38,0) value fits in 256 bits (1e38 << 2^256), so
  * the pair is the identity for the non-negative domain u256 columns
  * carry by contract. (The opposite direction binary->decimal->binary is
  * NOT collapsed: it nulls values beyond 38 digits by design.) */
object EliminateU256Roundtrips extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case U256ToDecimal(DecimalToU256(inner)) => inner
    }
}
