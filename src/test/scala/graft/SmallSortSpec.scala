package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{classic, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.internal.SQLConf

import graft.catalog.GraftCatalog
import graft.plans.{CoalesceSmallRootSort, GraftExtensions, TopK}

/** [[CoalesceSmallRootSort]]: a small query's root ORDER BY runs in one
  * coalesced partition (no range-sample job, no range-shuffle map job),
  * and every plan outside the rule's scope keeps its range exchange. */
class SmallSortSpec extends SparkSpec {
  import spark.implicits._

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case _ => p.children.flatMap(nodes)
  })

  private def rangeExchanges(df: DataFrame): Int = nodes(df.queryExecution.executedPlan)
    .count {
      case s: ShuffleExchangeExec => s.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Runs `body` with the rule's gate below any real input, so root
    * sorts plan through the range exchange as they would without it. */
  private def gateClosed[T](body: => T): T =
    withConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE.key, "1")(body)

  /** Spark jobs one `collect()` of `df` runs. Counts only the jobs of
    * the collect's own SQL execution and waits for its end event, which
    * the listener bus delivers after every job-start event of it. */
  private def jobsOf(df: DataFrame): Int = {
    val jobs = new ConcurrentHashMap[Long, AtomicInteger]()
    val ended = ConcurrentHashMap.newKeySet[Long]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).foreach(id =>
          jobs.computeIfAbsent(id.toLong, _ => new AtomicInteger).incrementAndGet())
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd => ended.add(end.executionId)
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val before = jobs.keySet.asScala.toSet
      df.collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def mine = jobs.keySet.asScala.toSet -- before
      while (!(mine.nonEmpty && mine.forall(ended.contains)) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(mine.size == 1, s"expected one SQL execution with jobs, got ${mine.size}")
      jobs.get(mine.head).get
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def scanProjectSort(): DataFrame = {
    Tables.load(spark, sf(), "lineitem")
      .select($"l_orderkey", $"l_linenumber", ($"l_quantity" * 2).as("q2"))
      .orderBy($"q2".desc, $"l_orderkey", $"l_linenumber")
  }

  test("scan -> project -> root sort runs as one job with no range exchange") {
    val df = scanProjectSort()
    assert(jobsOf(df) == 1, df.queryExecution.executedPlan.toString)
    assert(rangeExchanges(df) == 0, df.queryExecution.executedPlan.toString)
    assert(nodes(df.queryExecution.executedPlan).exists(_.isInstanceOf[CoalesceExec]))
    val ranged = gateClosed {
      val r = scanProjectSort()
      val rows = r.collect()
      assert(rangeExchanges(r) == 1, r.queryExecution.executedPlan.toString)
      rows
    }
    val got = df.collect()
    assert(got.length == ranged.length && got.nonEmpty)
    assert(got.sameElements(ranged), "coalesced sort must return the range-sorted rows in order")
  }

  test("a min partition size below the input keeps the range exchange") {
    gateClosed {
      val df = scanProjectSort()
      assert(jobsOf(df) > 1)
      assert(rangeExchanges(df) == 1, df.queryExecution.executedPlan.toString)
      assert(!nodes(df.queryExecution.executedPlan).exists(_.isInstanceOf[CoalesceExec]))
    }
  }

  test("Project(Sort) roots qualify; the rewrite is idempotent") {
    val df = Tables.load(spark, sf(), "orders")
      .orderBy($"o_totalprice".desc, $"o_orderkey").select($"o_orderkey")
    val opt = df.queryExecution.optimizedPlan
    val sort = opt match {
      case Project(_, s: Sort) => s
      case s: Sort => s
      case other => fail(s"unexpected optimized root:\n$other")
    }
    assert(sort.child.isInstanceOf[Repartition], opt.toString)
    assert(CoalesceSmallRootSort(opt) eq opt, "a rewritten plan must be left as it is")
    assert(rangeExchanges(df) == 0, df.queryExecution.executedPlan.toString)
  }

  test("orderBy().limit() stays TakeOrderedAndProject") {
    val df = Tables.load(spark, sf(), "lineitem")
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber").limit(5)
    df.collect()
    val plan = nodes(df.queryExecution.executedPlan)
    assert(plan.exists(_.isInstanceOf[TakeOrderedAndProjectExec]), plan.head.toString)
    assert(!plan.exists(_.isInstanceOf[CoalesceExec]), plan.head.toString)
  }

  test("a leaf of unknown size never qualifies") {
    val rdd = spark.sparkContext.parallelize(1 to 100, 4)
    val df = spark.createDataFrame(rdd.map(i => (i, i % 7))).toDF("a", "b")
      .orderBy($"b", $"a")
    val rows = df.collect()
    assert(rangeExchanges(df) == 1, df.queryExecution.executedPlan.toString)
    assert(rows.map(r => (r.getInt(1), r.getInt(0))).toSeq ==
      (1 to 100).map(i => (i % 7, i)).sorted)
  }

  test("streaming plans are left alone") {
    val stream = spark.readStream.format("rate").load().orderBy($"value")
    val plan: LogicalPlan = stream.queryExecution.analyzed
    assert(plan.isStreaming)
    assert(CoalesceSmallRootSort(plan) eq plan)
  }

  /** Parquet data files under `root`. */
  private def parquetFiles(root: String): Int = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.count(_.toString.endsWith(".parquet")) finally s.close()
  }

  test("sorted writes keep their range-partitioned file layout") {
    // without AQE coalescing a range-partitioned write lands one file
    // per shuffle partition, a coalesced one would land a single file
    withConf(SQLConf.COALESCE_PARTITIONS_ENABLED.key, "false")(sortedWrites())
  }

  private def sortedWrites(): Unit = {
    def sorted = Tables.load(spark, sf(), "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
      .orderBy($"l_extendedprice", $"l_orderkey", $"l_linenumber")
    def write(): Int = {
      val out = Qx.tmpOut("smallsort_write", sf())
      sorted.write.mode("overwrite").parquet(out)
      parquetFiles(out)
    }
    val files = write()
    assert(files > 1, "a range-partitioned write lands more than one file")
    assert(files == gateClosed(write()))

    val wh = Qx.tmpOut("smallsort_wh", sf())
    GraftCatalog.register(spark, "snap", Some(wh))
    def ctas(): Int = {
      spark.sql("DROP TABLE IF EXISTS snap.default.smallsort_ctas")
      spark.sql("CREATE TABLE snap.default.smallsort_ctas AS SELECT l_orderkey, " +
        "l_linenumber, l_extendedprice FROM parquet.`" + sf() + "/lineitem.parquet` " +
        "ORDER BY l_extendedprice, l_orderkey, l_linenumber")
      parquetFiles(s"$wh/default/smallsort_ctas")
    }
    val ctasFiles = ctas()
    assert(ctasFiles > 1, "a range-partitioned CTAS lands more than one file")
    assert(ctasFiles == gateClosed(ctas()))
  }

  test("GraftExtensions and TopK.ensure both install the rule") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // buildOptimizerRules is private[sql] in Scala, public in bytecode
    val rules = classOf[SparkSessionExtensions]
      .getMethod("buildOptimizerRules", classOf[SparkSession])
      .invoke(ext, spark).asInstanceOf[Seq[AnyRef]]
    assert(rules.contains(CoalesceSmallRootSort))
    TopK.ensure(spark)
    assert(spark.asInstanceOf[classic.SparkSession].experimental.extraOptimizations
      .contains(CoalesceSmallRootSort))
  }

  test("every root-sorted registered query whose inputs are small skips the range exchange") {
    val qualifying = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val df = fn(spark, sf())
      val coalesced = df.queryExecution.optimizedPlan match {
        case Sort(_, true, Repartition(1, false, _), _) => true
        case Project(_, Sort(_, true, Repartition(1, false, _), _)) => true
        case _ => false
      }
      if (coalesced) {
        assert(rangeExchanges(df) == 0,
          s"$name: root sort qualifies but plans a range exchange:\n" +
            df.queryExecution.executedPlan)
        Some(name)
      } else None
    }
    info(s"${qualifying.size} of ${SparkEntry.queries.size} queries run their " +
      "root sort in one coalesced partition")
    // the clinical-read picks that must keep qualifying
    val pinned = Seq("agg_groupby_hash", "text_pii_redact", "set_except",
      "win_running_sum", "fn_struct_fhir", "dedup_near_minhash")
    assert(pinned.forall(qualifying.contains),
      s"missing: ${pinned.filterNot(qualifying.contains).mkString(", ")}")
  }
}
