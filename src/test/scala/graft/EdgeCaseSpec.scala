package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Edge-case micro-fixtures (SURVEY §5.2 / FIXTURES.md §2): nulls in
  * join keys, empty groups, rank ties, empty arrays, malformed JSON —
  * the healthcare shapes (overlap, logistic score, allergy anti-join)
  * exercised on tiny hand-built tables.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private lazy val meds = Seq(
    // (med_id, patient_id, cui, class) — patient 1 has two meds in one
    // class (overlap positive), patient 2 has one med (negative),
    // patient 3 has a null class (must not self-match).
    (1L, 1L, "c1", "statin"),
    (2L, 1L, "c2", "statin"),
    (3L, 1L, "c3", "ppi"),
    (4L, 2L, "c4", "statin"),
    (5L, 3L, "c5", null.asInstanceOf[String]),
    (6L, 3L, "c6", null.asInstanceOf[String])
  ).toDF("med_id", "patient_id", "cui", "drug_class")

  test("profile handles nulls: null rows excluded from ndv/avg, counted as n_nulls") {
    val df = Seq(Some(1.0), None, Some(2.0), Some(2.0))
      .toDF("a")
    val p = graft.operators.WarehouseOps.profile(df, Seq("a")).collect()
    assert(p.length == 1)
    val r = p.head
    assert(r.getString(0) == "a")
    assert(r.getLong(1) == 4L, "n_rows counts null rows")
    assert(r.getLong(2) == 1L, "n_nulls")
    assert(r.getLong(3) == 2L, "ndv ignores nulls")
    assert(r.getDouble(4) == 1.0 && r.getDouble(5) == 2.0)
    assert(r.getDouble(6) == (1.0 + 2.0 + 2.0) / 3, "avg over NON-null count")
  }

  test("span dedup: identical later doc is fully duplicated; 1-word doc is 1 span") {
    val docs = Seq(
      (1L, "a b c d e f"),       // 2 spans, all first occurrences
      (2L, "a b c d e f"),       // identical → both spans duplicated
      (3L, "z")                  // single word → one 1-word span
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps.spanStats(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    assert(out(1L) == ((2L, 0L, true)), s"first doc never dup: ${out(1L)}")
    assert(out(2L) == ((2L, 2L, false)), s"identical doc fully dup + dropped: ${out(2L)}")
    assert(out(3L) == ((1L, 0L, true)), s"short doc one span: ${out(3L)}")
  }

  test("interleave_bits propagates nulls and ignores bits above 16") {
    val r = spark.sql(
      "SELECT interleave_bits(CAST(NULL AS BIGINT), 1L) AS a, " +
        "interleave_bits(65537L, 0L) AS b, interleave_bits(1L, 0L) AS c").head()
    assert(r.isNullAt(0), "null input must yield null")
    assert(r.getLong(1) == r.getLong(2), "bit 16 must not leak into the code")
  }

  test("self-overlap join finds duplicate-class pairs, null classes never match") {
    val a = meds.select($"med_id".as("m1"), $"patient_id".as("p1"), $"drug_class".as("dc1"))
    val b = meds.select($"med_id".as("m2"), $"patient_id".as("p2"), $"drug_class".as("dc2"))
    val pairs = a.join(b, $"p1" === $"p2" && $"dc1" === $"dc2" && $"m1" < $"m2")
      .select($"p1", $"m1", $"m2").collect()
    assert(pairs.toSet == Set(Row(1L, 1L, 2L)))
  }

  test("anti-join: meds with an allergy conflict are excluded, null keys kept") {
    val allergies = Seq((1L, "c1")).toDF("patient_id", "allergy_cui")
    val safe = meds.join(allergies,
      meds("patient_id") === allergies("patient_id") && meds("cui") === allergies("allergy_cui"),
      "left_anti")
    assert(safe.count() == 5)
    assert(!safe.select("med_id").as[Long].collect().contains(1L))
  }

  test("left join with no match yields nulls, coalesce defaults them") {
    val prices = Seq(("c1", 10.0)).toDF("cui", "price")
    val out = meds.join(prices, Seq("cui"), "left")
      .select($"med_id", coalesce($"price", lit(0.0)).as("price"))
      .as[(Long, Double)].collect().toMap
    assert(out(1L) == 10.0 && out(2L) == 0.0)
  }

  test("logistic denial score is monotone in tier and bounded (0,1)") {
    val rows = Seq((1L, 100.0, 1, false), (2L, 100.0, 4, false), (3L, 100.0, 1, true))
      .toDF("id", "price", "tier", "prior_auth")
    val z = lit(-1.0) + lit(0.01) * $"price" + lit(-0.35) * $"tier" +
      lit(1.2) * $"prior_auth".cast("double")
    val s = rows.select($"id", (lit(1.0) / (lit(1.0) + exp(-z))).as("score"))
      .as[(Long, Double)].collect().toMap
    assert(s.values.forall(v => v > 0.0 && v < 1.0))
    assert(s(1L) > s(2L), "lower tier (better) must score higher")
    assert(s(3L) > s(1L), "prior auth raises denial risk")
  }

  test("rank vs dense_rank vs row_number on ties") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq(("a", 1.0), ("a", 1.0), ("a", 2.0), ("b", 5.0))
      .toDF("grp", "price")
    val w = Window.partitionBy($"grp").orderBy($"price")
    val r = df.select($"grp", $"price",
        rank().over(w).as("rnk"), dense_rank().over(w).as("drnk"),
        row_number().over(w).as("rn"))
      .filter($"grp" === "a" && $"price" === 2.0).collect().head
    assert(r.getInt(2) == 3 && r.getInt(3) == 2 && r.getInt(4) == 3)
  }

  test("empty group: agg over zero rows returns empty, global agg returns null sum") {
    val empty = meds.filter($"patient_id" === 999L)
    assert(empty.groupBy($"drug_class").count().count() == 0)
    val g = empty.agg(sum($"med_id")).collect().head
    assert(g.isNullAt(0))
  }

  test("malformed JSON yields null, not an error") {
    // Spark 4 defaults to ANSI mode: a plain cast of a non-numeric
    // extract THROWS; try_cast is the null-safe form for dirty data.
    val df = Seq("""{"k": 7}""", """not json""", """{"k": "x"}""", null)
      .toDF("props")
    val ks = df.select(
        expr("try_cast(get_json_object(props, '$.k') AS int)")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(ks.toSeq == Seq(Some(7), None, None, None))
  }

  test("empty arrays: size 0, array_min null, fold returns zero element") {
    val df = Seq(Seq.empty[Double], Seq(1.0, 2.0)).toDF("arr")
    val out = df.select(size($"arr"),
      aggregate($"arr", lit(0.0), (a, x) => a + x)).collect()
    assert(out(0).getInt(0) == 0 && out(0).getDouble(1) == 0.0)
    assert(out(1).getDouble(1) == 3.0)
  }

  test("vec_dot custom expression matches interpreted fold and handles length skew") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
                 (Seq(1.0, 2.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    val got = df.select(expr("vec_dot(a, b)")).as[Double].collect()
    assert(got(0) == 32.0)
    assert(got(1) == 14.0, "shorter array bounds the loop")
  }

  test("hl7Rows on malformed messages yields null fields, never throws") {
    // a continuous ingest sees garbage: missing segments, empty lines,
    // non-HL7 text — the parser must degrade to nulls per field (the
    // stream would route these to a dead-letter filter), not error
    val df = Seq(
      "MSH|^~\\&|PHARMACY|SIGMA|RX|SITE|42",      // header only
      "PID|1|7|Name|SEG",                          // no MSH/RXE
      "garbage with no pipes",
      "",
      // PRESENT but non-numeric id fields — under Spark 4's default
      // ANSI mode a plain cast would throw CAST_INVALID_INPUT and kill
      // the batch; try_cast degrades them to null like everything else
      "MSH|^~\\&|PHARMACY|SIGMA|RX|SITE|xyz\nPID|1|abc|Name|SEG")
      .toDF("msg")
    val out = graft.sources.Scans.hl7Rows(df).collect()
    assert(out.length == 5)
    assert(out(0).getLong(0) == 42L && out(0).isNullAt(1) && out(0).isNullAt(7))
    assert(out(1).isNullAt(0) && out(1).getLong(1) == 7L)
    assert(out(2).isNullAt(0) && out(2).isNullAt(1))
    assert(out(3).isNullAt(0))
    assert(out(4).isNullAt(0) && out(4).isNullAt(1) &&
      out(4).getString(3) == "SEG",
      "non-numeric id fields null out; the rest of the row survives")
  }

  test("fhirBundleRows: undecodable bundle dead-letters, med-less bundle emits nothing") {
    val df = Seq(
      // UNDECODABLE: from_json -> null; must surface as ONE all-null
      // dead-letter row (the ingest monitor's corrupt-record signal,
      // matching hl7Rows) — not vanish and silently corrupt counts
      "not json at all",
      // valid but med-less: still emits nothing (no fabricated rows)
      """{"resourceType":"Bundle","id":"b1","entry":[]}""",
      // med without a patient entry: row emitted, patient fields null
      """{"resourceType":"Bundle","id":"b2","entry":[{"resource":{"resourceType":"MedicationRequest","id":"rx-1","okey":9,"status":"O"}}]}""")
      .toDF("bundle")
    val out = graft.sources.Scans.fhirBundleRows(df).collect()
    assert(out.length == 2, s"dead-letter + orphan-med expected: ${out.toSeq}")
    val (dead, med) = (out.find(_.isNullAt(4)).get, out.find(!_.isNullAt(4)).get)
    assert((0 until 5).forall(dead.isNullAt), "corrupt bundle → all-null row")
    assert(med.getLong(0) == 9L && med.isNullAt(1) && med.getString(4) == "O")
  }
}
