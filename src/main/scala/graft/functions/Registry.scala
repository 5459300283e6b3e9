package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** A graft SQL function: its name, its arity and how it builds the
  * expression. [[builder]] is the one arity gate, shared by the
  * session registration ([[Registry.ensure]]) and the
  * `spark.sql.extensions` injection ([[graft.plans.GraftExtensions]]):
  * a wrong argument count raises Spark's standard
  * wrong-number-of-arguments analysis error instead of an
  * IndexOutOfBoundsException escaping the builder lambda. */
final case class SqlFunction[E <: Expression](name: String, arity: Int)(
    build: Seq[Expression] => E)(implicit cls: ClassTag[E]) {
  def builder: Seq[Expression] => Expression = exprs => {
    if (exprs.length != arity)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map("functionName" -> name,
          "expectedNum" -> arity.toString,
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    build(exprs)
  }

  /** The `(identifier, info, builder)` triple `injectFunction` takes. */
  def injectable: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.runtimeClass.getName, name), builder)
}

/** THE session-function registration point shared by
  * [[VectorExprs]]/[[HashExprs]]/[[BitExprs]]: one synchronized
  * check-then-register (the 8-wide concurrent verify driver races an
  * unlocked guard and spams "replaced a previously registered function"
  * WARNs — the lock existed in one of the three twins and not the
  * others). */
private[graft] object Registry {
  private val lock = new Object

  def ensure(spark: SparkSession, fn: SqlFunction[_]): Unit = lock.synchronized {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier(fn.name)))
      reg.createOrReplaceTempFunction(fn.name, fn.builder, "built-in")
  }
}
