package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.types.{DataType, LongType}

/** Morton (Z-order) bit interleave — the clustering key behind
  * multi-dimensional data layout (Delta/Iceberg `OPTIMIZE ZORDER BY`).
  *
  * Reference basis: the reference stores its warehouse as one analytic
  * store scanned by range predicates over several dimensions
  * (/root/reference/README.md:7-9 — cost and catalog lookups filter on
  * more than one key at once). At 100 TB the dominant lever for such
  * scans is FILE LAYOUT: sorting by a single column clusters one
  * predicate dimension and destroys the other, while sorting by the
  * interleaved bits of both keys bounds the min/max range of EVERY
  * dimension inside each file, so parquet zone maps prune on all of
  * them. This expression computes that key; pairing it with
  * `repartitionByRange(interleave_bits(a, b))` before a write is the
  * whole recipe.
  *
  * Interleaves the low 16 bits of each operand: bit i of `left` lands at
  * result bit 2i, bit i of `right` at 2i+1 (values ≥ 2^16 contribute
  * their low 16 bits only — callers mask or document range). Both the
  * interpreted eval and the generated code use the branch-free
  * spread-bits twiddle (4 shift-mask rounds), so the expression stays
  * inside whole-stage codegen with ~12 ALU ops per row and no
  * allocation.
  */
case class InterleaveBits(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  // Declared input types give non-BIGINT arguments (e.g. INT literals
  // via the SQL registration) an analysis-time implicit cast — or a
  // typed analysis error — instead of a runtime ClassCastException /
  // uncompilable codegen, matching Spark's own bit expressions.
  // (Covariant Seq[DataType] — AbstractDataType is private[sql].)
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)

  override def dataType: DataType = LongType

  override def nullSafeEval(l: Any, r: Any): Any =
    BitExprs.spread(l.asInstanceOf[Long]) |
      (BitExprs.spread(r.asInstanceOf[Long]) << 1)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      def spreadCode(v: String): String =
        s"""
           |$v &= 0xFFFFL;
           |$v = ($v | ($v << 8)) & 0x00FF00FFL;
           |$v = ($v | ($v << 4)) & 0x0F0F0F0FL;
           |$v = ($v | ($v << 2)) & 0x33333333L;
           |$v = ($v | ($v << 1)) & 0x55555555L;
         """.stripMargin
      s"""
         |long $x = $a;
         |long $y = $b;
         |${spreadCode(x)}
         |${spreadCode(y)}
         |${ev.value} = $x | ($y << 1);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): InterleaveBits =
    copy(left = newLeft, right = newRight)
}

object BitExprs {
  /** Spread the low 16 bits of `v0` to the even bit positions 0,2,…,30. */
  def spread(v0: Long): Long = {
    var n = v0 & 0xFFFFL
    n = (n | (n << 8)) & 0x00FF00FFL
    n = (n | (n << 4)) & 0x0F0F0F0FL
    n = (n | (n << 2)) & 0x33333333L
    n = (n | (n << 1)) & 0x55555555L
    n
  }

  /** Reference Morton code for tests: interleave via per-bit arithmetic
    * (the same formula the DuckDB oracle SQL evaluates). */
  def mortonRef(x: Long, y: Long): Long =
    (0 until 16).map { i =>
      (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }.reduce(_ | _)

  /** `interleave_bits(bigint, bigint) -> bigint`. */
  val interleaveBits =
    SqlFunction("interleave_bits", 2)(exprs => InterleaveBits(exprs.head, exprs(1)))

  /** Register [[interleaveBits]] in the session's function registry
    * (idempotent and synchronized through [[Registry]]). */
  def register(spark: SparkSession): Unit = Registry.ensure(spark, interleaveBits)
}
