package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite: [[GraftSession]]'s settings, the same
  * ones `Bench`, `Verify` and `PlanAudit` run under. Four cores,
  * because specs pin file and partition counts at 4. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.create(4)

  def sf(which: String = "0.001"): String = s"/root/testdata/sf$which"
}
