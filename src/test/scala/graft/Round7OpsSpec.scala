package graft

import org.apache.spark.sql.functions._

import graft.operators.{Aggs, CdcOps, SimOps, TextOps, WarehouseOps, Windows}

/** Round-7 additions and hardening. */
class Round7OpsSpec extends SparkSpec {

  test("cdc_upsert_latest: one row per surviving key, tombstoned keys dropped") {
    import spark.implicits._
    val snap = CdcOps.cdcUpsertLatest(spark, sf("0.01")).collect()
    assert(snap.map(_.getLong(0)).distinct.length == snap.length,
      "compaction must emit at most one row per key")
    assert(snap.forall(_.getString(3) != "error"),
      "tombstoned keys must not reach the snapshot")
    // 150 users total; some latest rows ARE tombstones, so the snapshot
    // must be a strict subset — otherwise the delete path is vacuous.
    assert(snap.length < 150 && snap.length > 100, s"got ${snap.length}")
  }

  test("cdc_merge_apply: insert, update, and keep paths all non-vacuous and disjoint") {
    import spark.implicits._
    val out = CdcOps.cdcMergeApply(spark, sf("0.01")).collect()
    val byOp = out.groupBy(_.getString(3))
    assert(byOp.keySet == Set("inserted", "updated", "kept"), s"${byOp.keySet}")
    assert(out.map(_.getLong(0)).distinct.length == out.length,
      "merged snapshot must be unique per key")
    // inserted = changelog keys outside the snapshot window [50, 300)
    assert(byOp("inserted").forall(_.getLong(0) < 50))
    // kept = snapshot keys with no changelog row (users stop at 149)
    assert(byOp("kept").forall(_.getLong(0) >= 150))
    assert(byOp("updated").forall { r =>
      val k = r.getLong(0); k >= 50 && k < 150 })
  }

  test("scd2_intervals: versions chain per key and exactly one is current") {
    import spark.implicits._
    val rows = CdcOps.scd2Intervals(spark, sf("0.01"))
      .select($"user_id", $"valid_from", $"valid_to", $"is_current", $"event_id")
      .collect()
    rows.groupBy(_.getLong(0)).foreach { case (uid, vs) =>
      assert(vs.count(_.getBoolean(3)) == 1, s"user $uid: != 1 current version")
      // full-precision Timestamp ordering + event_id tiebreak — the
      // window's order; getTime alone is only millisecond-granular
      val sorted = vs.sortWith { (a, b) =>
        val c = a.getTimestamp(1).compareTo(b.getTimestamp(1))
        if (c != 0) c < 0 else a.getLong(4) < b.getLong(4)
      }
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getTimestamp(2) == b.getTimestamp(1),
            s"user $uid: valid_to must chain to the next valid_from")
        case _ =>
      }
      assert(sorted.last.isNullAt(2), s"user $uid: newest version must be open")
    }
  }

  test("agg_hll_partial_merge: union of partials == single-pass sketch, within HLL error of exact") {
    import spark.implicits._
    val dir = sf("0.01")
    val merged = Aggs.aggHllPartialMerge(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // single-pass sketch per type, no daily pre-aggregation level
    val onePass = Tables.load(spark, dir, "events")
      .groupBy($"event_type")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // sketch union is lossless over partials of the same stream: the
    // two-level estimate must equal the one-level estimate EXACTLY
    assert(merged == onePass, s"union changed the sketch: $merged vs $onePass")
    val exact = Tables.load(spark, dir, "events")
      .groupBy($"event_type").agg(countDistinct($"user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    merged.foreach { case (t, est) =>
      val rel = math.abs(est.toDouble - exact(t)) / exact(t).max(1L)
      assert(rel <= 0.05, s"$t: estimate $est vs exact ${exact(t)} (rel $rel)")
    }
  }

  test("agg_approx_topk is exact below maxItemsTracked (5 types, k=3)") {
    import spark.implicits._
    val dir = sf("0.01")
    val got = Aggs.aggApproxTopk(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val exact = Tables.load(spark, dir, "events")
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"event_type").limit(3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.sameElements(exact), s"${got.toSeq} vs ${exact.toSeq}")
  }

  test("embedding quantization pins a constant dimension to q=0, err=0 (no NaN)") {
    import spark.implicits._
    // dim 1 varies; dim 2 is constant across the corpus (mx == mn).
    val e = Seq(
      (1L, 1, 0.0), (1L, 2, 7.5),
      (2L, 1, 1.0), (2L, 2, 7.5),
      (3L, 1, 2.0), (3L, 2, 7.5)).toDF("vec_id", "dim", "x")
    val out = SimOps.quantizeExploded(e).collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(!r.anyNull, s"NaN/null leaked through the degenerate guard: $r")
      assert(r.getLong(1) == 2) // n_dims
      // + 5e-7: err itself is rounded to 6 decimals before the max
      assert(r.getDouble(5) <= 0.5 * (2.0 - 0.0) / 255.0 + 5e-7,
        s"reconstruction error bound violated: $r")
    }
    // the constant dimension contributes q = 0 to every checksum, so
    // the checksums are exactly the varying dimension's codes.
    val byVec = out.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(byVec == Map(1L -> -128L, 2L -> 0L, 3L -> 127L), s"$byVec")
  }

  test("interleave_bits: codegen twiddle == per-bit arithmetic reference, incl. edges") {
    import spark.implicits._
    import graft.functions.BitExprs
    val edges = Seq(0L, 1L, 2L, 0x5555L, 0xAAAAL, 0xFFFFL, 0x10000L, 123456789L)
    val pairs = for (x <- edges; y <- edges) yield (x, y)
    val got = pairs.toDF("x", "y")
      .selectExpr("x", "y", "interleave_bits(x, y) AS z").collect()
    got.foreach { r =>
      val exp = BitExprs.mortonRef(r.getLong(0) & 0xFFFFL, r.getLong(1) & 0xFFFFL)
      assert(r.getLong(2) == exp, s"(${r.getLong(0)}, ${r.getLong(1)})")
    }
    // interleave is a bijection on 16-bit pairs: distinct inputs (mod
    // 2^16) must give distinct codes — 0x10000 collapses onto 0.
    val inBounds = got.filter(r => r.getLong(0) < 0x10000L && r.getLong(1) < 0x10000L)
    assert(inBounds.map(_.getLong(2)).distinct.length == inBounds.length)
  }

  test("layout_zorder: cells partition the data and bound BOTH dimension spans") {
    import spark.implicits._
    val dir = sf("0.01")
    val cells = WarehouseOps.layoutZorder(spark, dir).collect()
    val total = Tables.load(spark, dir, "lineitem").count()
    assert(cells.map(_.getLong(1)).sum == total, "cells must partition all rows")
    // each zcell drops 6 low bits per dimension: spans are < 64 by
    // construction — the zone-map-pruning property the layout exists for
    assert(cells.forall(_.getLong(4) < 64), "part_span must be < 64 in every cell")
    assert(cells.forall(_.getLong(7) < 64), "supp_span must be < 64 in every cell")
    assert(cells.map(_.getLong(0)).distinct.length == cells.length)
  }

  test("profile_table: one row per profiled column, stats match direct queries") {
    import spark.implicits._
    val dir = sf("0.01")
    val prof = WarehouseOps.profileTable(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(prof.keySet ==
      Set("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    val li = Tables.load(spark, dir, "lineitem")
    val q = prof("l_quantity")
    assert(q.getLong(1) == li.count())
    assert(q.getLong(2) == 0, "no nulls in the fixture")
    assert(q.getLong(3) == li.select($"l_quantity").distinct().count())
    assert(q.getDouble(4) == 1.0 && q.getDouble(5) == 50.0,
      s"quantity min/max: $q")
  }

  test("cdc_incremental_agg: merge(snapshot, delta) == full recompute, insert path live") {
    import spark.implicits._
    val dir = sf("0.01")
    val merged = CdcOps.cdcIncrementalAgg(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val full = Tables.load(spark, dir, "events")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(38,6)")).cast("double").as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(merged == full, "incremental merge must equal full recompute exactly")
    // day-1 cutoff: some users have no snapshot row, so the merge's
    // insert (null-snapshot) path is exercised, not just update
    val cutoff = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    val snapUsers = Tables.load(spark, dir, "events")
      .filter($"ts" < lit(cutoff)).select($"user_id").distinct().count()
    assert(snapUsers < merged.size, "cutoff must leave some users delta-only")
  }

  test("dedup_spans: first occurrence never counts, fractions in range, dups real") {
    import spark.implicits._
    val out = TextOps.dedupSpans(spark, sf("0.01")).collect()
    assert(out.length == 500)
    assert(out.forall(r => r.getLong(2) <= r.getLong(1)),
      "dup spans cannot exceed total spans")
    assert(out.forall { r =>
      val f = r.getDouble(3); f >= 0.0 && f <= 1.0 })
    val totalDups = out.map(_.getLong(2)).sum
    assert(totalDups > 0, "3-word spans over a 31-word vocab must collide")
    // doc 0 is first in corpus order: its spans can only duplicate
    // WITHIN the doc, so its dup count is bounded by n_spans - distinct
    val d0 = out.find(_.getLong(0) == 0L).get
    assert(d0.getLong(2) < d0.getLong(1))
  }

  test("cdc_snapshot_diff: three change classes, disjoint and complete, no unchanged leak") {
    import spark.implicits._
    val out = CdcOps.cdcSnapshotDiff(spark, sf("0.01")).collect()
    val byOp = out.groupBy(_.getString(1))
    assert(byOp.keySet == Set("added", "removed", "changed"), s"${byOp.keySet}")
    // added keys carry the data-derived shift of max(c_custkey)+1, so
    // they always land strictly beyond the real key domain
    val maxk = Tables.load(spark, sf("0.01"), "customer")
      .agg(org.apache.spark.sql.functions.max($"c_custkey")).head().getLong(0)
    assert(byOp("added").forall(r => r.getLong(0) > maxk && r.isNullAt(2)))
    assert(byOp("removed").forall(r => r.getLong(0) % 13 == 0 && r.isNullAt(3)))
    assert(byOp("changed").forall { r =>
      val k = r.getLong(0)
      k % 7 == 0 && k % 13 != 0 && r.getDouble(3) == r.getDouble(2) + 10.0
    })
    // completeness against the derivation: 50 inserts, |old|/13 deletes
    assert(byOp("added").length == 50)
    assert(byOp("removed").length == 1500 / 13 + 1) // keys 0,13,...,1495
  }

  test("pipeline_cdc_roundtrip: diff(old, apply(old, log)) surfaces exactly the log's net effect") {
    import spark.implicits._
    val dir = sf("0.01")
    val out = CdcOps.cdcPipelineRoundtrip(spark, dir).collect()
    val byOp = out.groupBy(_.getString(1))
    assert(byOp.keySet == Set("added", "removed", "changed"), s"${byOp.keySet}")
    // the diff must recover the changelog's semantics from the snapshots
    val latest = CdcOps.scd2Intervals(spark, dir)
      .filter($"is_current").select($"user_id", $"value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byOp("added").forall(_.getLong(0) < 50), "adds = inserts below window")
    byOp("changed").foreach { r =>
      assert(r.getDouble(3) == latest(r.getLong(0)),
        s"changed key ${r.getLong(0)} must land on the changelog's latest value")
    }
    // removed keys are exactly the tombstoned ones inside the window
    val snap = CdcOps.cdcUpsertLatest(spark, dir).collect().map(_.getLong(0)).toSet
    assert(byOp("removed").forall(r => !snap.contains(r.getLong(0))),
      "removed keys must be absent from the compacted (tombstone-dropped) snapshot")
  }

  test("ts_resample_ohlc: bar invariants hold and bars partition the event stream") {
    import spark.implicits._
    val dir = sf("0.01")
    val bars = Windows.tsResampleOhlc(spark, dir).collect()
    bars.foreach { r =>
      val (open, high, low, close) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(high >= math.max(open, close) && low <= math.min(open, close),
        s"OHLC invariant violated: $r")
    }
    val total = Tables.load(spark, dir, "events").count()
    assert(bars.map(_.getLong(6)).sum == total, "bars must partition all events")
  }

  test("z-ordered sink: written files bound BOTH dimensions (file-level zone-map evidence)") {
    import spark.implicits._
    val dir = sf("0.01")
    WarehouseOps.sinkParquetZordered(spark, dir).collect() // runs the write
    val out = Qx.tmpOut("zord", dir)
    val files = new java.io.File(out).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    assert(files.length >= 4, s"expected several range files, got ${files.length}")
    val g = spark.read.parquet(out).agg(
      (max($"l_partkey") - min($"l_partkey")).as("ps"),
      (max($"l_suppkey") - min($"l_suppkey")).as("ss")).head()
    val gArea = (g.getLong(0) + 1.0) * (g.getLong(1) + 1.0)
    val areas = files.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath).agg(
        max($"l_partkey") - min($"l_partkey"),
        max($"l_suppkey") - min($"l_suppkey")).head()
      (r.getLong(0) + 1.0) * (r.getLong(1) + 1.0)
    }
    val meanArea = areas.sum / areas.length
    // a random (unclustered) write gives every file ~the global area;
    // contiguous z-ranges must shrink the mean bounding box sharply
    assert(meanArea < gArea / 2.0,
      s"files not z-clustered: mean area $meanArea vs global $gArea")
  }

  test("win_ewma: renormalized truncated EWMA equals a sequential reference per user") {
    import spark.implicits._
    val rows = Windows.winEwma(spark, sf("0.001")).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, vs) =>
      // rows arrive in (ts, event_id) order from the final sort
      val xs = vs.map(_.getDouble(3))
      vs.zipWithIndex.foreach { case (r, i) =>
        val k = math.min(i + 1, 8)
        val num = (0 until k).map(j => xs(i - j) / (1L << j)).sum
        val den = (0 until k).map(j => 1.0 / (1L << j)).sum
        assert(math.abs(r.getDouble(4) - num / den) < 1e-9,
          s"row $i: ${r.getDouble(4)} vs ${num / den}")
      }
    }
  }
}
