package graft

import org.apache.spark.sql.functions._

/** Count-min sketch invariants on real table data: the estimate never
  * undercounts, and the probe set is fully covered.
  */
class SketchSpec extends SparkSpec {

  test("cms_freq: estimate dominates the true count for every probe") {
    val rows = QueriesStats.cmsFreqQ(spark, sf).collect()
    assert(rows.length == QueriesStats.cmsProbes.length)
    rows.foreach { r =>
      val (est, tru) = (r.getAs[Long]("cms_cnt"), r.getAs[Long]("true_cnt"))
      assert(est >= tru, s"partkey ${r.get(0)}: cms $est < true $tru")
    }
  }

  test("kmv_ndv accepts only integral columns (exact_ndv counts their string forms)") {
    val e = intercept[IllegalArgumentException](
      QueriesStats.kmvNdv(spark, sf, Seq(("orders", "o_totalprice"))))
    assert(e.getMessage.contains("orders.o_totalprice is double"), e.getMessage)
  }

  test("bloom_filter: no false negatives, positives = exact + false") {
    val m = QueriesStats.bloomFilterQ(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // a bloom filter can only err positive
    assert(m("bloom_positive_rows") >= m("exact_positive_rows"))
    assert(m("bloom_positive_rows") ===
      m("exact_positive_rows") + m("false_positive_rows"))
    assert(m("bits_set") <= QueriesStats.bloomM)
    assert(m("probe_rows") > 0)
  }

  test("winnowing guarantees shared fingerprints for long shared runs") {
    import spark.implicits._
    // two docs sharing a 9-word run (> k+w-1 = 7) must share a fingerprint
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota unique tail one"),
      (2L, "different head alpha beta gamma delta epsilon zeta eta theta iota"),
      (3L, "completely unrelated words with no overlap at all whatsoever here")
    ).toDF("doc_id", "text")
    val fps = graft.operators.TextOps.winnowFingerprints(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "shared run must share a fingerprint")
    assert((byDoc(1L) & byDoc(3L)).isEmpty, "unrelated docs should not collide")
  }

  test("bucketed exact quantiles equal the sorted formulation") {
    val base = QueriesStats.quantCols
      .map { case (t, c) =>
        Tables(spark, sf, t).filter(col(c).isNotNull)
          .select(lit(s"$t.$c").as("col_name"), col(c).cast("double").as("v"))
      }
      .reduce(_.unionAll(_))
    val sorted = graft.operators.Metrics
      .quantilesNearestBy(base, "col_name", "v").collect().toSeq
    val bucketed = graft.operators.Metrics
      .quantilesNearestBucketed(base, "col_name", "v").collect().toSeq
    assert(bucketed.map(_.toSeq) === sorted.map(_.toSeq))
  }

  test("corrMatrix: exact ±1 on linearly dependent columns, 2-decimal quantization") {
    import spark.implicits._
    val df = (1 to 200)
      .map(i => (i * 0.25, i * 0.5, 100.0 - i * 0.25)).toDF("x", "y", "z")
    val got = graft.operators.Stats.corrMatrix(df, Seq("x", "y", "z"), 100L, "t")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(got("t.x:y") - 1.0) < 1e-12) // y = 2x
    assert(math.abs(got("t.x:z") + 1.0) < 1e-12) // z = c − x
    assert(math.abs(got("t.y:z") + 1.0) < 1e-12)
  }

  test("hist2d concentrates diagonal data on diagonal buckets") {
    import spark.implicits._
    val df = (0 until 80).map(i => (i.toDouble, i.toDouble)).toDF("a", "b")
    val got = graft.operators.Stats.hist2d(df, "a", "b", 8, "t")
      .select("bucket_a", "bucket_b", "cnt")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.forall { case (a, b, _) => a == b })
    assert(got.map(_._3).sum == 80 && got.size == 8)
  }

  test("skewProfile: uniform column hits 1/ndv collision, constant column hits 1") {
    import spark.implicits._
    // 4 values × 25 rows each — perfectly uniform
    val uniform = (0 until 100).map(i => i % 4).toDF("v")
    val u = graft.operators.Stats.skewProfile(uniform, "v", "u")
      .select("n", "ndv", "collision_prob", "top_share")
      .as[(Long, Long, Double, Double)].head()
    assert(u._1 == 100 && u._2 == 4)
    assert(math.abs(u._3 - 24.0 / 99.0) < 1e-12) // Σ25·24 / (100·99)
    assert(u._4 == 0.25)
    // single-value column: collision probability exactly 1, nulls ignored
    val const = (Seq.fill(50)(Some(7)) ++ Seq(None, None)).toDF("v")
    val k = graft.operators.Stats.skewProfile(const, "v", "k")
      .select("n", "ndv", "collision_prob", "top_share")
      .as[(Long, Long, Double, Double)].head()
    assert(k == ((50L, 1L, 1.0, 1.0)))
  }

  test("salted two-phase aggregation equals the direct groupBy") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ev = Tables(spark, sf, "events")
    val salted = graft.operators.Skew
      .saltedCountSum(ev, Seq("event_type"), "value", 32)
      .orderBy("event_type")
      .as[(String, Long, Double)].collect().toSeq
    val direct = ev.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(38,6)")).cast("double").as("sum_value"))
      .orderBy("event_type")
      .as[(String, Long, Double)].collect().toSeq
    assert(salted == direct)
    // degenerate hot key — 500 IDENTICAL rows: round-robin salting must
    // still spread them (content hashing would not) and stay correct
    val dup = Seq.fill(500)(("hot", 1.0)).toDF("event_type", "value")
    val dupSalted = graft.operators.Skew
      .saltedCountSum(dup, Seq("event_type"), "value", 32)
      .as[(String, Long, Double)].collect().toSeq
    assert(dupSalted == Seq(("hot", 500L, 500.0)))
  }

  test("cmsBucket (plan-side) and cmsBucketOf (driver-side) agree") {
    import spark.implicits._
    val vals = Seq("1", "42", "xyz", "1995-03-15")
    val planSide = vals.toDF("v")
      .select(
        col("v"),
        graft.operators.Stats.cmsBucket(0, col("v")).as("b0"),
        graft.operators.Stats.cmsBucket(3, col("v")).as("b3"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    vals.foreach { v =>
      val (b0, b3) = planSide(v)
      assert(b0 == graft.operators.Stats.cmsBucketOf(0, v))
      assert(b3 == graft.operators.Stats.cmsBucketOf(3, v))
    }
  }
}
