package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import scala.util.hashing.MurmurHash3

/** Codegen'd sketch-hash expressions for the similarity family — the
  * r8 verdict's last two per-row UDFs replaced with native Catalyst
  * expressions (the same upgrade [[DotProduct]]/[[InterleaveBits]] got
  * earlier).
  *
  * Both sit on the 100 TB embedding/document scale path (every row is
  * hashed before the bucketed candidate join), where a Scala UDF pays a
  * serialization boundary per row — catalyst→Scala conversion of the
  * array argument, a virtual lambda call, and exclusion of the
  * surrounding projection from whole-stage codegen. As expressions, the
  * numeric loops inline into the generated stage: primitive reads off
  * ArrayData, no conversion, no row-boundary.
  */
object HashExprs {

  /** The 8 fixed deterministic sin-sequence hyperplanes shared by the
    * LSH ANN family — same table the former UDF closed over. */
  val planes: Array[Array[Double]] =
    Array.tabulate(8, 64)((p, d) => math.sin((p * 64 + d + 1).toDouble))

  /** A SECOND independent hyperplane family (cos-sequence) — the L=2
    * hash table of standard multi-table LSH: a true neighbor that falls
    * on the wrong side of one family's hyperplane rarely does in both,
    * so OR-merging the two tables' buckets roughly squares the miss
    * probability at 2× the candidate fan-in (still strictly
    * bucket-bounded). */
  val planesB: Array[Array[Double]] =
    Array.tabulate(8, 64)((p, d) => math.cos((p * 64 + d + 1).toDouble))

  /** Third independent family (r19, L=3 multi-table LSH): the golden-
    * ratio stride decorrelates it from both the sin- and cos-sequence
    * tables (no common period). */
  private[graft] val planesC: Array[Array[Double]] =
    Array.tabulate(8, 64)((p, d) =>
      math.sin((p * 64 + d + 1).toDouble * 1.61803398875))

  private def planeTable(family: Int): Array[Array[Double]] =
    if (family == 0) planes else if (family == 1) planesB else planesC

  /** Interpreted twin of the generated hyperplane-bucket loop. A null
    * ELEMENT nulls the bucket (same contract as [[DotProduct]]) —
    * reading it as 0.0 would route the row to a well-defined bucket
    * computed from corrupt data, silently pairing it with wrong LSH
    * candidates; a NULL bucket drops out of the candidate join
    * instead. */
  def hyperBucket(a: ArrayData, family: Int): Any = {
    val tbl = planeTable(family)
    val n = math.min(a.numElements(), 64)
    var i = 0
    while (i < n) { if (a.isNullAt(i)) return null; i += 1 }
    var bucket = 0
    var p = 0
    while (p < 8) {
      var acc = 0.0
      i = 0
      while (i < n) { acc += a.getDouble(i) * tbl(p)(i); i += 1 }
      if (acc > 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }

  /** Word-level 64-bit hash of the former simhash UDF, bit-for-bit:
    * murmur3 of the word in the high half, murmur3 of its naive
    * char-reversal in the low half. */
  def wordHash64(w: String): Long = {
    val cs = w.toCharArray
    var j = 0; var k = cs.length - 1
    while (j < k) { val t = cs(j); cs(j) = cs(k); cs(k) = t; j += 1; k -= 1 }
    (MurmurHash3.stringHash(w).toLong << 32) |
      (MurmurHash3.stringHash(new String(cs)).toLong & 0xffffffffL)
  }

  /** Interpreted twin of the generated simhash loop. `sums` is caller-
    * provided scratch (codegen reuses one buffer across rows). */
  def simhash64(a: ArrayData, sums: Array[Int]): Long = {
    java.util.Arrays.fill(sums, 0)
    val nw = a.numElements()
    var w = 0
    while (w < nw) {
      if (!a.isNullAt(w)) {
        val h = wordHash64(a.getUTF8String(w).toString)
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) sums(i) += 1 else sums(i) -= 1
          i += 1
        }
      }
      w += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (sums(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  /** Register both as session SQL functions (locked + arity-checked
    * through [[Registry]]): `lsh_bucket8(arr<double>) -> int`,
    * `simhash64(arr<string>) -> bigint`. */
  def register(spark: SparkSession): Unit = {
    Registry.ensure(spark, SqlFunction("lsh_bucket8", 1)(
      exprs => HyperplaneBucket(exprs.head)))
    Registry.ensure(spark, SqlFunction("lsh_bucket8b", 1)(
      exprs => HyperplaneBucket(exprs.head, family = 1)))
    Registry.ensure(spark, SqlFunction("lsh_bucket8c", 1)(
      exprs => HyperplaneBucket(exprs.head, family = 2)))
    Registry.ensure(spark, SqlFunction("simhash64", 1)(
      exprs => SimHash64(exprs.head)))
  }
}

/** 8-hyperplane random-projection sign bucket (`lsh_bucket8` /
  * `lsh_bucket8b`): bit p of the result is the sign of `v · plane(p)`
  * over the first 64 dims; `family` selects the hyperplane table
  * (0 = sin-sequence, 1 = the independent cos-sequence — multi-table
  * LSH). The plane table rides along as a codegen reference object
  * (512 doubles, hoisted once per stage — never recomputed per row). */
case class HyperplaneBucket(child: Expression, family: Int = 0)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def prettyName: String =
    if (family == 0) "lsh_bucket8"
    else if (family == 1) "lsh_bucket8b" else "lsh_bucket8c"

  override def dataType: DataType = IntegerType

  /** Typed analysis: the stored embedding column is array<float> — an
    * undeclared input type would let the raw column through and misread
    * float slots as doubles (wrong-but-plausible buckets). */
  override def inputTypes: Seq[DataType] =
    Seq(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType))

  override def nullable: Boolean = true // null ELEMENT nulls the bucket

  override def nullSafeEval(input: Any): Any =
    HashExprs.hyperBucket(input.asInstanceOf[ArrayData], family)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val planes = ctx.addReferenceObj("lshPlanes",
        if (family == 0) HashExprs.planes
        else if (family == 1) HashExprs.planesB else HashExprs.planesC,
        "double[][]")
      val bucket = ctx.freshName("bucket")
      val p = ctx.freshName("p")
      val acc = ctx.freshName("acc")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      s"""
         |int $bucket = 0;
         |int $n = java.lang.Math.min($a.numElements(), 64);
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |}
         |if (!${ev.isNull}) {
         |  for (int $p = 0; $p < 8; $p++) {
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $acc += $a.getDouble($i) * $planes[$p][$i];
         |    }
         |    if ($acc > 0) $bucket |= (1 << $p);
         |  }
         |}
         |${ev.value} = $bucket;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucket =
    copy(child = newChild)
}

/** 64-bit SimHash over a word array (`simhash64`): per word, murmur3
  * forward/reversed halves vote each of the 64 bit positions up or
  * down; the sign vector is the fingerprint. The vote buffer is
  * per-stage mutable state (one 64-int array reused across rows — the
  * former UDF allocated it per row). */
case class SimHash64(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def prettyName: String = "simhash64"

  override def dataType: DataType = LongType

  override def inputTypes: Seq[DataType] =
    Seq(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType))

  // interpreted path allocates its scratch per call (rare: only when
  // codegen is disabled or falls back)
  override def nullSafeEval(input: Any): Any =
    HashExprs.simhash64(input.asInstanceOf[ArrayData], new Array[Int](64))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val sums = ctx.addMutableState("int[]", "simhashSums",
        v => s"$v = new int[64];")
      s"""
         |${ev.value} = graft.functions.HashExprs$$.MODULE$$.simhash64($a, $sums);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
