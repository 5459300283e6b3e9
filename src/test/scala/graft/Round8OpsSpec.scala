package graft

import graft.operators.SimOps
import org.apache.spark.sql.functions._

/** Round-8 items: bounded-sample IVF quantizer fit (the r7 weak),
  * plus the low-severity ADVICE fixes that are spec-assertable.
  */
class Round8OpsSpec extends SparkSpec {
  import spark.implicits._

  test("ivf training sample is bounded at IvfFitCap regardless of corpus size") {
    val base = Tables.load(spark, sf(), "embeddings")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    val n = base.count()
    // synthesize a corpus past the cap: shifted-id copies of the base
    val copies = (0 to (SimOps.IvfFitCap / n).toInt + 1).map(i =>
      base.select(($"vec_id" + lit(i * 1000000L)).as("vec_id"), $"v"))
    val big = copies.reduce(_ unionAll _)
    assert(big.count() > SimOps.IvfFitCap, "fixture must exceed the cap")
    val sample = SimOps.ivfTrainingSample(big)
    assert(sample.count() == SimOps.IvfFitCap,
      "fit input must be capped no matter the corpus size")
    // the sort+limit must plan as bounded per-partition top-k heaps
    // (TakeOrderedAndProject), never a full-corpus global sort
    val plan = sample.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // hash membership is deterministic across independent evaluations
    val ids = sample.collect().map(_.getLong(0)).toSeq
    assert(ids == SimOps.ivfTrainingSample(big).collect().map(_.getLong(0)).toSeq)
    // ...and feeds KMeans in ascending vec_id order (fixed reduction order)
    assert(ids == ids.sorted)
  }

  test("ivf training sample below the cap is the whole corpus, vec_id-sorted") {
    val base = Tables.load(spark, sf(), "embeddings")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    assert(base.count() <= SimOps.IvfFitCap)
    val ids = SimOps.ivfTrainingSample(base).collect().map(_.getLong(0)).toSeq
    val all = base.select($"vec_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == all, "below the cap, sampling must change nothing")
  }

  test("interleave_bits coerces non-BIGINT args at analysis time") {
    // INT literals: implicit cast to BIGINT instead of a runtime
    // ClassCastException through constant folding
    val got = spark.sql("SELECT interleave_bits(3, 1) AS m").collect()(0).getLong(0)
    assert(got == graft.functions.BitExprs.mortonRef(3L, 1L))
    // un-castable argument types are an analysis error, not broken codegen
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT interleave_bits(array(1), 1)").collect()
    }
  }

  test("cdc_snapshot_diff injected 'added' keys sit beyond the real key domain") {
    val maxk = Tables.load(spark, sf(), "customer")
      .agg(max($"c_custkey")).collect()(0).getLong(0)
    val added = graft.operators.CdcOps.cdcSnapshotDiff(spark, sf())
      .filter($"op" === "added").select($"custkey").collect().map(_.getLong(0))
    assert(added.nonEmpty, "the added path must be non-vacuous")
    assert(added.forall(_ > maxk),
      "injected keys must never collide with real custkeys at any SF")
  }

  test("layout_compact: file count drops and per-file bounding boxes shrink to cell-local") {
    import graft.operators.WarehouseOps
    val dir = sf("0.01")
    WarehouseOps.layoutCompact(spark, dir).collect() // runs both rewrites
    // r21: the 8 fragment writes run as overlapping jobs, one subdir
    // each (f0..f7) — list recursively so the physical evidence keeps
    // counting the same per-slice files
    def parquetFiles(path: String): Array[java.io.File] = {
      def walk(f: java.io.File): Array[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toArray.flatten.flatMap(walk)
        else Array(f)
      walk(new java.io.File(path))
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    }
    val fragDir = Qx.tmpOut("frag", dir)
    val compDir = Qx.tmpOut("compacted", dir)
    val frag = parquetFiles(fragDir)
    val comp = parquetFiles(compDir)
    assert(frag.length >= 8, s"expected >=8 fragmented delta files, got ${frag.length}")
    assert(comp.length <= 4 && comp.length < frag.length,
      s"compaction must shrink the file count: ${frag.length} -> ${comp.length}")
    def meanArea(files: Array[java.io.File]): Double = {
      val areas = files.map { f =>
        val r = spark.read.parquet(f.getAbsolutePath).agg(
          max($"l_partkey") - min($"l_partkey"),
          max($"l_suppkey") - min($"l_suppkey")).head()
        (r.getLong(0) + 1.0) * (r.getLong(1) + 1.0)
      }
      areas.sum / areas.length
    }
    val g = spark.read.parquet(frag.map(_.getAbsolutePath).toSeq: _*).agg(
      max($"l_partkey") - min($"l_partkey"),
      max($"l_suppkey") - min($"l_suppkey")).head()
    val gArea = (g.getLong(0) + 1.0) * (g.getLong(1) + 1.0)
    val fragArea = meanArea(frag)
    val compArea = meanArea(comp)
    // each delta file spans ~the whole key grid (that's the problem);
    // compacted files must be cell-local (that's the fix)
    assert(fragArea > gArea * 0.5,
      s"fixture broken: delta files should span the grid ($fragArea vs $gArea)")
    assert(compArea < gArea / 2.0 && compArea < fragArea / 2.0,
      s"compacted files not z-clustered: $compArea vs global $gArea / frag $fragArea")
    // lossless through both rewrites (the oracle also checks this by value)
    assert(spark.read.parquet(compDir).count() ==
      Tables.load(spark, dir, "lineitem").count())
  }

  test("ANALYZE stats + CBO flip the filtered-dim join to broadcast") {
    import graft.operators.WarehouseOps
    val dir = sf("0.01")
    val (tc, to) = WarehouseOps.ensureStatsTables(spark, dir)
    val cbo0 = spark.conf.get("spark.sql.cbo.enabled")
    val thr0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      def filteredEstimate = spark.table(tc).filter($"c_acctbal" > 9000)
        .queryExecution.optimizedPlan.stats.sizeInBytes
      // without CBO the filter keeps its child's size estimate (here:
      // the table's on-disk bytes); with CBO + column stats,
      // FilterEstimation applies the ~10% selectivity
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val estOff = filteredEstimate
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val estOn = filteredEstimate
      assert(estOn < estOff / 2,
        s"column stats must shrink the filter estimate: $estOn vs $estOff")
      // hold the broadcast threshold BETWEEN the two estimates, then
      // the join strategy is decided purely by whether stats are used
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        ((estOn + estOff) / 2).toString)
      spark.conf.set("spark.sql.adaptive.enabled", "false") // static plan only
      def join = spark.table(to)
        .join(spark.table(tc).filter($"c_acctbal" > 9000),
          $"o_custkey" === $"c_custkey")
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val without = join.queryExecution.sparkPlan.toString
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val withStats = join.queryExecution.sparkPlan.toString
      assert(!without.contains("BroadcastHashJoin"),
        s"without CBO the size-only estimate must exceed the threshold:\n$without")
      assert(withStats.contains("BroadcastHashJoin"),
        s"with stats the filtered dim must broadcast:\n$withStats")
      // results are identical either way (the oracle checks values too)
      assert(spark.table(tc).queryExecution.optimizedPlan.stats.rowCount.isDefined,
        "ANALYZE must publish a row count to the catalog")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", cbo0)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr0)
      spark.conf.set("spark.sql.adaptive.enabled", aqe0)
    }
  }

  test("TopKPerGroup final mode enforces its sizing contract instead of OOMing") {
    import graft.plans.TopK
    val docs = Tables.load(spark, sf("0.01"), "documents")
      .select($"doc_id", $"lang", $"n_chars") // ~2000 groups at k=1
    def topkPerDoc = TopK.perGroup(docs, 1, Seq("doc_id"), Seq(("n_chars", true)))
    val key = TopK.MaxFinalHeapRowsKey
    try {
      // bound far below the group count IN STRICT MODE (r9 made the
      // sort degrade the default): the final exec must fail with the
      // sizing error, not silently retain unbounded heap rows
      spark.conf.set(key, "100")
      spark.conf.set(TopK.FinalOverflowKey, "error")
      val ex = intercept[Exception] { topkPerDoc.collect() }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(ex).exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains(key)),
        s"expected the $key sizing error, got: $ex")
    } finally {
      spark.conf.unset(key)
      spark.conf.unset(TopK.FinalOverflowKey)
    }
    // at the default cap the same plan runs, and the new metric reports
    // the retained-row count the sizing rule is stated in
    val df = topkPerDoc
    val n = df.collect().length.toLong // executes THIS plan's metrics
    assert(n > 100)
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        flatten(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    val finalExec = flatten(df.queryExecution.executedPlan)
      .collect { case t: graft.plans.TopKPerGroupExec if !t.partial => t }
    assert(finalExec.nonEmpty)
    assert(finalExec.head.metrics("numHeapRows").value == n,
      "final-mode retention must equal the output rows at k=1")
  }

  test("multimodal_decode really parses the binary format (and routes corrupt payloads)") {
    val rows = SimOps.multimodalDecode(spark, sf()).collect()
    assert(rows.length == 500)
    val (bad, good) = rows.partition(r => !r.getBoolean(1))
    assert(bad.nonEmpty && bad.forall(_.getLong(0) % 37 == 0),
      "exactly the truncated payloads must be flagged invalid")
    assert(bad.forall(r => (2 to 6).forall(i => r.getLong(i) == 0L)))
    good.foreach { r =>
      val (id, w, h) = (r.getLong(0), r.getLong(2), r.getLong(3))
      assert(w == 8 + id % 9 && h == 4 + id % 7, s"header dims wrong for $id")
      // independent JVM-side reference decode from the generating formula
      val pix = (0L until w * h).map(i => (id * 31 + i * 7) % 256)
      assert(r.getLong(4) == pix.sum && r.getLong(5) == pix.min &&
        r.getLong(6) == pix.max, s"pixel stats wrong for $id")
    }
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    import graft.operators.Joins
    val dir = sf("0.01")
    val want = Joins.joinBloomPruned(spark, dir).collect().toSeq // default plan
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force the shuffle join
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val df = Joins.joinBloomPruned(spark, dir)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter_agg") && plan.contains("might_contain"),
        s"expected an injected runtime bloom filter in:\n$plan")
      // the filter is an optimization, never a semantics change
      assert(df.collect().toSeq == want)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("scd2Stream rejects an out-of-order cross-batch arrival (no inverted intervals)") {
    import graft.streaming.StreamRunner
    import graft.streaming.StreamRunner.Ev
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def ts(minute: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")
    val ms = MemoryStream[Ev]
    val q = StreamRunner.scd2Stream(ms.toDS())
      .writeStream.format("memory").queryName("scd2guard")
      .outputMode("append").start()
    try {
      ms.addData(Seq(Ev(2L, ts(10), 1L, "purchase", 1.0)))
      q.processAllAvailable()
      // EXACT redelivery of the open version (at-least-once upstream)
      // is an idempotent no-op — must not throw, must not emit
      ms.addData(Seq(Ev(2L, ts(10), 1L, "purchase", 1.0)))
      q.processAllAvailable()
      assert(spark.table("scd2guard").count() == 0,
        "a redelivered open version must not emit an interval")
      // a later batch delivering a strictly EARLIER (ts, event_id) for
      // the same key violates the documented time-ordered-feed contract:
      // the processor must fail the batch, not publish valid_from > valid_to
      ms.addData(Seq(Ev(1L, ts(5), 1L, "purchase", 2.0)))
      val ex = intercept[Exception] { q.processAllAvailable() }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(ex).exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("ordering contract")),
        s"expected the ordering-contract guard, got: $ex")
    } finally q.stop()
  }
}
