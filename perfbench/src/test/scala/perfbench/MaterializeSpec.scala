package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.RegExpReplace
import org.apache.spark.sql.execution.{ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The timed exec phase must run the plan a user runs: every column and
  * every operator, not the pruned plan a `count()` would execute. */
class MaterializeSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {
  private var spark: SparkSession = _
  private var data: String = _

  override def beforeAll(): Unit = {
    val tmp = Files.createDirectories(Paths.get(System.getProperty("java.io.tmpdir")))
    val scratch = Files.createTempDirectory(tmp, "materialize")
    spark = Harness.session(2, scratch)
    data = writeTables(scratch.resolve("data"))
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def writeTables(dir: Path): String = {
    val s = spark
    import s.implicits._
    (0 until 40).map { i =>
      (i.toLong % 7, i.toLong, i.toLong % 5, i % 7 + 1, (i % 50 + 1).toDouble,
        1000.0 + i, (i % 11) / 100.0, (i % 9) / 100.0, Seq("A", "N", "R")(i % 3),
        Seq("F", "O")(i % 2), Timestamp.valueOf(s"1998-0${i % 9 + 1}-01 00:00:00"))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
      "l_shipdate").write.parquet(dir.resolve("lineitem.parquet").toString)
    (0 until 20).map { i =>
      val text = Seq.fill(i % 5 + 3)("join scan the value").mkString(" ")
      (i.toLong, text, "en", s"src${i % 4}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir.resolve("documents.parquet").toString)
    dir.toString
  }

  private def run(name: String): (Harness.Outcome, SparkPlan) = {
    val q = Workload.resolve(Seq(name)).head
    val o = Harness.runQuery(spark, q, data, None)
    assert(o.error.isEmpty, o.error)
    (o, o.df.get.queryExecution.executedPlan)
  }

  private def hasRegexpProjection(plan: SparkPlan): Boolean =
    collectWithSubqueries(plan) { case p: ProjectExec => p }
      .exists(_.projectList.exists(_.exists(_.isInstanceOf[RegExpReplace])))

  test("text_pii_redact: exec runs the regexp_replace projection and returns every column") {
    val (o, plan) = run("text_pii_redact")
    assert(plan.treeString.contains("isFinalPlan=true"), "exec did not run the planned query")
    assert(hasRegexpProjection(plan), plan.treeString)
    assert(o.rows.length == 20)
    assert(o.rows.forall(_.length == o.df.get.schema.length))
    assert(o.rows.forall(r => r.getString(1).contains("<EMAIL>") && r.getBoolean(2)))
  }

  test("agg_groupby_hash: exec keeps the final global sort") {
    val (o, plan) = run("agg_groupby_hash")
    assert(plan.treeString.contains("isFinalPlan=true"), "exec did not run the planned query")
    assert(collect(plan) { case s: SortExec if s.global => s }.nonEmpty, plan.treeString)
    val keys = o.rows.map(r => (r.getString(0), r.getString(1))).toSeq
    assert(keys.nonEmpty && keys == keys.sorted)
  }

  test("a count() of the same query would have pruned that work away") {
    val (o, _) = run("text_pii_redact")
    val counted: DataFrame = o.df.get.groupBy().count()
    assert(!hasRegexpProjection(counted.queryExecution.executedPlan))
  }
}
