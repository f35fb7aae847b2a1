package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.DataType

/** A literal whose value is a PARAMETER of the generated code, not part of
  * its source. Spark's `Literal.doGenCode` inlines a primitive value
  * (`ts >= 1705590000000000L`), so every new range bound or bucket width
  * yields new whole-stage source: a codegen-cache miss, a Janino compile,
  * and a fresh class that runs its scan loop interpreted until the JIT
  * catches up. This subclass instead passes the boxed value through the
  * stage's `references` array and unboxes it once into a field, so all
  * requests of one shape share one compiled, JIT-warm class.
  *
  * It stays a `Literal` in every other respect, on purpose: parquet
  * pushdown (`DataSourceStrategy.translateFilter`), constant folding and
  * partition pruning pattern-match `Literal(v, t)`, and the inherited
  * `equals`/`hashCode` keep cache and exchange reuse matching. A rule that
  * rebuilds it as a plain `Literal` only costs a recompile. Null values
  * and values whose Java type is not long, int or double are inlined as
  * before.
  */
class ParamLiteral(value: Any, dataType: DataType) extends Literal(value, dataType) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val jt = CodeGenerator.javaType(dataType)
    if (value == null || !ParamLiteral.Bound(jt)) super.doGenCode(ctx, ev)
    else {
      val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
      val field = ctx.addMutableState(jt, "param", v => s"$v = $boxed.${jt}Value();")
      ExprCode.forNonNullValue(JavaCode.global(field, dataType))
    }
  }
}

object ParamLiteral {
  private val Bound = Set("long", "int", "double")

  /** `value` (a Catalyst internal value of `dataType`) as a bound column. */
  def apply(value: Any, dataType: DataType): Column =
    org.apache.spark.sql.classic.GraftShim.column(new ParamLiteral(value, dataType))
}
