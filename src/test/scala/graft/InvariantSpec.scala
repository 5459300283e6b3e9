package graft

import org.apache.spark.sql.functions._
import scala.util.Random

/** Property-style algebraic invariants (SURVEY §5.3) over seeded random
  * datasets — each property checked on several independently generated
  * inputs.
  */
class InvariantSpec extends SparkSpec {
  import spark.implicits._

  private def randDf(seed: Int) = {
    val rnd = new Random(seed)
    (1 to 200).map { i =>
      (i.toLong, rnd.nextInt(10).toLong, rnd.nextInt(5).toString,
        math.round(rnd.nextDouble() * 10000) / 100.0)
    }.toDF("id", "user", "grp", "value")
  }

  test("union-all count additivity; union-distinct bounded by sum") {
    for (seed <- 1 to 3) {
      val df = randDf(seed)
      val a = df.filter($"user" < 5)
      val b = df.filter($"user" >= 3)
      assert(a.unionByName(b).count() == a.count() + b.count())
      assert(a.union(b).distinct().count() <= a.count() + b.count())
    }
  }

  test("dedup is idempotent") {
    for (seed <- 4 to 6) {
      val dup = randDf(seed).select($"user", $"grp")
      val once = dup.distinct()
      assert(once.count() == once.distinct().count())
    }
  }

  test("running sum's last value per group equals the group sum (exact cents)") {
    import org.apache.spark.sql.expressions.Window
    for (seed <- 7 to 9) {
      val df = randDf(seed).withColumn("cents", round($"value" * 100).cast("long"))
      val w = Window.partitionBy($"user").orderBy($"id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val lastRunning = df.withColumn("run", sum($"cents").over(w))
        .groupBy($"user").agg(max($"run").as("last_run"))
      val groupSum = df.groupBy($"user").agg(sum($"cents").as("total"))
      val joined = lastRunning.join(groupSum, "user")
        .filter($"last_run" =!= $"total")
      assert(joined.count() == 0)
    }
  }

  test("semi ∪ anti partitions the left side") {
    for (seed <- 10 to 12) {
      val left = randDf(seed)
      val right = randDf(seed + 100).filter($"value" > 50)
      val semi = left.join(right, Seq("user"), "left_semi")
      val anti = left.join(right, Seq("user"), "left_anti")
      assert(semi.count() + anti.count() == left.count())
      assert(semi.select("id").intersect(anti.select("id")).count() == 0)
    }
  }

  test("rollup grand total equals global aggregate") {
    for (seed <- 13 to 15) {
      val df = randDf(seed).withColumn("cents", round($"value" * 100).cast("long"))
      val grand = df.rollup($"grp").agg(sum($"cents").as("s"))
        .filter($"grp".isNull).as[(String, Long)].collect().head._2
      val global = df.agg(sum($"cents")).as[Long].collect().head
      assert(grand == global)
    }
  }

  test("cosine(v, v) ≈ 1 through the vec_dot expression") {
    for (seed <- 16 to 18) {
      val rnd = new Random(seed)
      val vecs = (1 to 50).map(i => (i.toLong, Seq.fill(64)(rnd.nextDouble() - 0.5)))
        .toDF("id", "v")
      val bad = vecs
        .select(abs(expr("vec_dot(v, v)") / (sqrt(expr("vec_dot(v, v)")) * sqrt(expr("vec_dot(v, v)"))) - 1.0).as("err"))
        .filter($"err" > 1e-9)
      assert(bad.count() == 0)
    }
  }

  test("watermark-late twin drops exactly the rows a running max excludes") {
    import org.apache.spark.sql.expressions.Window
    for (seed <- 19 to 20) {
      val rnd = new Random(seed)
      val df = (1 to 300).map { i =>
        (i.toLong, 1000000L * rnd.nextInt(5000))
      }.toDF("arrival", "us")
      val w = Window.orderBy($"arrival")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val kept = df.withColumn("runmax", max($"us").over(w))
        .filter($"us" >= $"runmax" - 600000000L)
      // every kept row is within 10 min of the max seen at its arrival;
      // the first row always survives (its own max)
      assert(kept.count() >= 1)
      assert(kept.filter($"us" < $"runmax" - 600000000L).count() == 0)
    }
  }

  test("native operators are shuffle-partition-count invariant") {
    // The custom execs own their distribution/merge logic — a
    // co-partitioning or partial-cap bug would show up exactly as a
    // partition-count-dependent result. Same data, partitions 1/3/7:
    // bit-identical output required.
    val base = randDf(42)
    val rBase = randDf(43).select($"id".as("rid"), $"user".as("ruser"),
      $"value".as("rvalue"))
    def results(parts: Int): (Seq[String], Seq[String], Seq[String]) = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try {
        val topk = graft.plans.TopK.perGroup(base.repartition(parts), 3,
            Seq("user"), Seq(("value", true), ("id", false)))
          .orderBy($"user", desc("value"), $"id")
          .collect().map(_.toString).toSeq
        val back = graft.plans.AsOf.joinPrev(base.repartition(parts),
            rBase.repartition(parts), Seq("user"), Seq("ruser"), "id", "rid",
            rightTiebreak = Seq("rvalue"))
          .orderBy($"id").collect().map(_.toString).toSeq
        val fwd = graft.plans.AsOf.joinNext(base.repartition(parts),
            rBase.repartition(parts), Seq("user"), Seq("ruser"), "id", "rid",
            rightTiebreak = Seq("rvalue"))
          .orderBy($"id").collect().map(_.toString).toSeq
        (topk, back, fwd)
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val p1 = results(1)
    for (n <- Seq(3, 7)) {
      val pn = results(n)
      assert(pn._1 == p1._1, s"TopK.perGroup differs at $n partitions")
      assert(pn._2 == p1._2, s"AsOf.joinPrev differs at $n partitions")
      assert(pn._3 == p1._3, s"AsOf.joinNext differs at $n partitions")
    }
  }

  test("round-7 queries are invariant to AQE and shuffle-partition config") {
    // Every checked query carries a total ORDER BY (SURVEY §0.2.1), so
    // its collected row sequence must be bit-identical however the
    // engine partitions or re-plans — the property the driver's hash
    // compare silently relies on.
    val keys = Seq("layout_zorder", "profile_table", "cdc_incremental_agg",
      "dedup_spans", "win_ewma", "stream_cdc_upsert", "agg_histogram",
      "join_asof_nearest", "cdc_snapshot_diff", "ts_resample_ohlc",
      "pipeline_cdc_roundtrip", "cdc_upsert_latest")
    def runAll(): Map[String, Seq[String]] =
      keys.map { k =>
        k -> SparkEntry.queries(k)(spark, sf("0.001"))
          .collect().map(_.toString).toSeq
      }.toMap
    val base = runAll()
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val alt = runAll()
      keys.foreach { k =>
        assert(alt(k) == base(k), s"$k differs under AQE-off/7 partitions")
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }
}
