package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression,
  ExpressionInfo, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  CodeGenerator, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, ColumnarToRowExec,
  FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.types.{DataType, DecimalType, IntegerType, LongType}

import graft.functions.{GraftFunctions, Uint256Encode, Uint256RoundTrip, Uint256ToDecimal}

/** Session-extension entry point:
  *
  * {{{ --conf spark.sql.extensions=graft.GraftExtensions }}}
  *
  * registers the engine's SQL functions, its two optimizer rules and
  * its one physical rule, so a plain `spark-sql` user gets
  * `uint256_encode(...)`, `minhash_sig(...)` etc. plus the rewrites
  * below with no code changes. The function list is
  * [[graft.functions.GraftFunctions.sqlBuilders]] — the same builders
  * `registerAll` installs, so the extension and the library session
  * expose an identical SQL surface. The optimizer rules are
  * [[Uint256Simplification]] and [[DotKernelCompile]]; the physical
  * rule, [[ScanBoundReferences]], runs after the columnar transitions
  * of every plan and every AQE stage.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => Uint256Simplification)
    ext.injectOptimizerRule(_ => DotKernelCompile)
    ext.injectColumnar(_ => new ColumnarRule {
      override def postColumnarTransitions: Rule[SparkPlan] = ScanBoundReferences
    })
    GraftFunctions.sqlBuilders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
  }
}

/** Algebraic simplification for the uint256 carrier:
  * `uint256_to_decimal(uint256_encode(x))` for decimal `x` becomes
  * [[graft.functions.Uint256RoundTrip]] — the same validation semantics
  * (negatives rejected, 38-digit domain) without materializing the
  * 32-byte binary. A plain `cast` would NOT be sound: encode throws on
  * negative input, a cast would silently pass it through. Extract
  * configs that map a numeric column to both `bytes` and `Numeric38`
  * produce exactly this encode→decode pattern.
  */
object Uint256Simplification extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Uint256ToDecimal(Uint256Encode(child))
          if child.dataType.isInstanceOf[DecimalType] =>
        Uint256RoundTrip(child)
    }
}

/** Kernel compilation for the declarative long dot-product fold:
  *
  * {{{ aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v) }}}
  *
  * over two `array<bigint>` columns becomes the compiled
  * [[graft.functions.DotLongExact]] kernel. Higher-order lambdas are
  * evaluated interpreted per ELEMENT (a lambda frame per product and
  * per fold step — measured ~4-10× a compiled loop on the embedding
  * operators), so a SQL user writing the natural declarative form gets
  * kernel speed without knowing the function exists.
  *
  * The rewrite is exact (see [[graft.functions.VectorOps.dotLongExact]]
  * for the null-padding / null-element / overflow-check semantics it
  * reproduces), matched conservatively:
  *  - both multiply operands must be exactly the two zip_with lambda
  *    variables (in either order — never `x * x` or cast-wrapped vars),
  *  - the fold must be a plain variable sum with literal 0L zero and an
  *    identity finish lambda,
  *  - both element types must be LongType already,
  *  - Multiply/Add must agree on eval mode, and TRY mode is left alone
  *    (try_* null-on-overflow is not worth a kernel variant).
  * The captured ANSI mode keeps overflow FAILING in the kernel
  * (Math.multiplyExact/addExact) — the error class differs
  * (ArithmeticException vs SparkArithmeticException) but the
  * fail/complete behavior is identical.
  */
object DotKernelCompile extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate,
    EvalMode, Expression, LambdaFunction, Literal, Multiply,
    NamedLambdaVariable, ZipWith}
  import org.apache.spark.sql.types.{ArrayType, LongType}

  private def longArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _                      => false
  }

  /** Both operands are exactly the two lambda variables, either order. */
  private def usesBothVars(a: Expression, b: Expression,
      v1: NamedLambdaVariable, v2: NamedLambdaVariable): Boolean =
    (a, b) match {
      case (p: NamedLambdaVariable, q: NamedLambdaVariable) =>
        Set(p.exprId, q.exprId) == Set(v1.exprId, v2.exprId)
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    // tree-pattern pruning: this rule sits in the fixed-point operator
    // batch, so an unguarded transformAllExpressions re-walks EVERY
    // expression of every plan on every iteration — measured 20-40%
    // extra optimization time on expression-heavy queries. The bitmask
    // skips whole subtrees that contain no higher-order function at all.
    plan.transformAllExpressionsWithPruning(
      _.containsPattern(org.apache.spark.sql.catalyst.trees.TreePattern
        .HIGH_ORDER_FUNCTION)) {
      case ArrayAggregate(
          ZipWith(l, r, LambdaFunction(m: Multiply,
            Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
          Literal(0L, LongType),
          LambdaFunction(ad: Add,
            Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), _),
          LambdaFunction(fin: NamedLambdaVariable,
            Seq(fArg: NamedLambdaVariable), _))
          if fin.exprId == fArg.exprId &&
            usesBothVars(m.left, m.right, x, y) &&
            usesBothVars(ad.left, ad.right, acc, v) &&
            longArray(l) && longArray(r) &&
            m.evalMode == ad.evalMode && m.evalMode != EvalMode.TRY =>
        graft.functions.DotLongExact(l, r,
          failOnOverflow = m.evalMode == EvalMode.ANSI)
    }
}

/** Scan bounds out of the generated code: in a `FilterExec` directly
  * over a file scan (with or without the `ColumnarToRowExec` between
  * them), every non-null int or bigint literal operand of a comparison
  * becomes a [[ReferenceLiteral]]. Whole-stage codegen inlines a literal
  * into the class source, so the same filter with other bounds would be
  * a new class, compiled afresh on every head tick's `scanRange`. With
  * the values read from the class's `references` array, the source is
  * the same for any bounds and the codegen cache serves it.
  *
  * Only the filter changes. The scan's pushed filters were translated
  * from the logical plan before this rule runs, so they keep their
  * literals and row-group pruning is as before.
  */
object ScanBoundReferences extends Rule[SparkPlan] {

  private def overFileScan(child: SparkPlan): Boolean = child match {
    case _: FileSourceScanExec                    => true
    case ColumnarToRowExec(_: FileSourceScanExec) => true
    case _                                        => false
  }

  private def referenced(e: Expression): Expression = e match {
    case Literal(v, t @ (IntegerType | LongType)) if v != null => ReferenceLiteral(v, t)
    case other                                              => other
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f @ FilterExec(cond, child) if overFileScan(child) =>
      f.copy(condition = cond.transform {
        case c: BinaryComparison => c.withNewChildren(c.children.map(referenced))
      })
  }
}

/** A non-null int or bigint constant that generated code reads from the
  * class's `references` array instead of inlining, so classes that
  * differ only in the constant share one source (see
  * [[ScanBoundReferences]]). It evaluates and prints as the literal; it
  * is not foldable, so nothing folds it back into one.
  */
case class ReferenceLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("literal", value, CodeGenerator.boxedType(dataType))
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.expression(s"$ref.${javaType}Value()", dataType))
  }
}
