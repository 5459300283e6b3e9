package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Custom Catalyst expression for the similarity hot path (SURVEY §4
  * flagged this as the one custom-Expression candidate worth building).
  *
  * The built-in higher-order route — `aggregate(zip_with(a, b, *), …)` —
  * allocates an intermediate array and evaluates interpreted lambdas per
  * element, and HOFs are excluded from whole-stage codegen. This fused
  * dot product generates a tight primitive loop inside the codegen'd
  * stage instead: no allocation, no virtual calls. On the O(n²) pair
  * joins (dedup_embedding_cosine, sim_ann_lsh, sim_cosine_topk) that is
  * the difference between the fold dominating the query and the join
  * dominating it.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def dataType: DataType = DoubleType

  /** Typed analysis instead of runtime garbage: the embeddings table
    * stores array<float>, and without declared input types a raw-column
    * call would pass analysis and misread 4-byte float slots as
    * doubles. ImplicitCastInputTypes inserts the float→double cast. */
  override def inputTypes: Seq[DataType] =
    Seq(org.apache.spark.sql.types.ArrayType(DoubleType),
      org.apache.spark.sql.types.ArrayType(DoubleType))

  /** A null ELEMENT nulls the product (the `aggregate(zip_with(...))`
    * HOF twin's propagation) — reading the slot as 0.0 would silently
    * fabricate a plausible number from corrupt data. */
  override def nullable: Boolean = true

  /** Both inputs statically element-non-null (ArrayType.containsNull =
    * false on BOTH children — e.g. the persisted ANN index tables,
    * written with required elements)? Then no null element can ever
    * occur and the per-element null checks are dead code: the loop
    * halves its memory accesses and vectorizes. Semantics identical —
    * this is a static-type specialization, not a behavior change. */
  private def elemsNonNull: Boolean = Seq(left, right).forall(_.dataType match {
    case org.apache.spark.sql.types.ArrayType(_, containsNull) => !containsNull
    case _ => false
  })

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    if (elemsNonNull) {
      while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
      acc
    } else {
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        acc += a.getDouble(i) * b.getDouble(i)
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh names: two DotProducts inlined into one codegen scope must
      // not redeclare the same locals (janino would reject the stage and
      // Spark would silently fall back to interpreted evaluation).
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val nullCheck = if (elemsNonNull) ""
        else s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object VectorExprs {
  /** `vec_dot(arr<double>, arr<double>) -> double`. */
  val vecDot = SqlFunction("vec_dot", 2)(exprs => DotProduct(exprs.head, exprs(1)))

  /** Register [[vecDot]] in the session's function registry
    * (idempotent and synchronized through [[Registry]]) so plans can use
    * it via expr("vec_dot(a, b)"). */
  def register(spark: SparkSession): Unit = Registry.ensure(spark, vecDot)
}
