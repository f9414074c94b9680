package graft.exec

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.types._

/** A literal whose generated code reads its value from the generated class's
  * `references` array instead of writing it into the Java source, the way
  * Spark's own `Literal` already emits strings and decimals. Two queries that
  * differ only in such values then generate the same source text, so the
  * second reuses the first one's compiled, JIT-warm class from Spark's
  * codegen cache instead of compiling a new one and running it interpreted.
  *
  * Everything but code generation is `Literal`'s: it equals, hashes, prints,
  * evaluates and folds as the plain literal of its value, matches the
  * `Literal(v, t)` pattern (so parquet `PushedFilters` carry the real value
  * and `TakeOrderedAndProject` still plans). A leaf canonicalizes to itself,
  * so with `Literal`'s symmetric equality `semanticEquals` holds in both
  * directions.
  */
final class ParamLiteral(v: Any, t: DataType) extends Literal(v, t) {

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    ExprCode.forNonNullValue(
      JavaCode.global(s"$ref.${CodeGenerator.javaType(dataType)}Value()", dataType))
  }
}

/** Literal-stable execution of one query's DataFrame: its optimized plan with
  * every non-null boolean, integral, floating-point, date and timestamp
  * literal replaced by a [[ParamLiteral]], as a DataFrame again
  * (`GraftBridge.ofRows`). The swap runs on the optimized plan, after
  * constant folding, so the literals it sees are the ones the plan runs with
  * (a folded `CAST(5 AS BIGINT)` is a literal there, not before).
  *
  * **Why the swap rebuilds nodes itself.** `Literal.equals` holds for any
  * literal of the same value and type, a `ParamLiteral` included, and Spark's
  * tree rewrites (`transformUp`/`transformDown`, `mapChildren`,
  * `mapExpressions`, `withNewChildren`) keep the old node whenever the new
  * one `fastEquals` it: through any of them the swap silently keeps the plain
  * literal. So the rewrite copies exactly the nodes on the path to a swapped
  * literal, tracking change by identity, and `ParamLiteral` keeps `Literal`'s
  * equality. That makes equality symmetric, and it is what keeps the swap
  * once made: a later rule that rebuilds a node with an equal plain literal
  * is seen as no change and the parameter stays.
  *
  * **Why per query, not a session extension.** The caller owns the session:
  * an optimizer rule injected into it would rewrite every plan the caller
  * runs (pipelines, registry rows, `MultiDb.frame` results) and could not be
  * scoped to the engine's own execution. Applied here, it touches only the
  * frames `MultiDb.query` runs, inside that query's timeout and job group.
  */
object LiteralStable {

  def apply(df: DataFrame): DataFrame = {
    val optimized = df.queryExecution.optimizedPlan
    val stable = plan(optimized)
    if (stable eq optimized) df else GraftBridge.ofRows(df.sparkSession, stable)
  }

  /** `p` with its literals (in its expressions and its children's) swapped;
    * `p` itself when it holds none to swap.
    */
  private def plan(p: LogicalPlan): LogicalPlan = mapArgs(p) {
    case child: LogicalPlan => plan(child)
    case e: Expression => expression(e)
  }

  /** `e` with its literals swapped; `e` itself when it holds none to swap.
    * Plans inside subquery expressions are left as they are.
    */
  def expression(e: Expression): Expression = e match {
    case l: Literal =>
      if (l.value == null || l.isInstanceOf[ParamLiteral] || !inlined(l.dataType)) l
      else new ParamLiteral(l.value, l.dataType)
    case _ => mapArgs(e) { case child: Expression => expression(child) }
  }

  /** The types whose values Spark's `Literal` writes into generated code. */
  private def inlined(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
        DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** `node` with `f` applied to its constructor arguments, inside options and
    * collections too: a copy if some argument came back as a different
    * object, else `node` itself (never an equality check; see above).
    */
  private def mapArgs[T <: TreeNode[T]](node: T)(f: PartialFunction[Any, AnyRef]): T = {
    var changed = false
    def arg(a: Any): AnyRef = a match {
      case x: AnyRef if f.isDefinedAt(x) =>
        val y = f(x)
        if (y ne x) changed = true
        y
      case Some(x) => Some(arg(x))
      case _: Map[_, _] | _: DataType | null => a.asInstanceOf[AnyRef]
      case xs: Iterable[_] => xs.map(arg)
      case x: AnyRef => x
    }
    val args = node.productIterator.map(arg).toArray
    if (!changed) node
    else {
      val copy = node.makeCopy(args)
      copy.copyTagsFrom(node)
      copy
    }
  }
}
