package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.operators.Stats

/** Stats / sketch queries (SURVEY.md §2 rows 15-18). Oracle SQL is
  * generated from the same column specs the Spark side iterates.
  */
object QueriesStats extends QueryModule {

  /** (table, column, isNumeric) */
  val statCols: Seq[(String, String, Boolean)] = Seq(
    ("lineitem", "l_quantity", true),
    ("lineitem", "l_returnflag", false),
    ("orders", "o_totalprice", true),
    ("orders", "o_custkey", true),
    ("customer", "c_mktsegment", false),
    ("part", "p_size", true),
    ("events", "value", true),
    ("documents", "lang", false))

  def colStatsQ(spark: SparkSession, dir: String): DataFrame =
    statCols
      .map { case (t, c, num) =>
        Stats.colStats(Tables(spark, dir, t), c, num, s"$t.$c")
      }
      .reduce(_.unionAll(_))
      .orderBy(col("col_name"))

  val colStatsSql: String =
    statCols
      .map { case (t, c, num) =>
        val (minNum, maxNum, minStr, maxStr) =
          if (num) (s"CAST(MIN($c) AS DOUBLE)", s"CAST(MAX($c) AS DOUBLE)",
            "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
          else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
            s"CAST(MIN($c) AS VARCHAR)", s"CAST(MAX($c) AS VARCHAR)")
        s"""SELECT '$t.$c' AS col_name, COUNT(*) AS cnt,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
           |  COUNT(DISTINCT $c) AS ndv,
           |  $minNum AS min_num, $maxNum AS max_num,
           |  $minStr AS min_str, $maxStr AS max_str
           |FROM $t""".stripMargin
      }
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  val histCols: Seq[(String, String)] = Seq(
    ("lineitem", "l_extendedprice"),
    ("orders", "o_totalprice"),
    ("customer", "c_acctbal"))
  val histBins = 10

  def histogramQ(spark: SparkSession, dir: String): DataFrame =
    histCols
      .map { case (t, c) =>
        Stats.histogram(Tables(spark, dir, t), c, histBins, s"$t.$c")
      }
      .reduce(_.unionAll(_))
      .orderBy(col("col_name"), col("bucket"))

  val histogramSql: String =
    histCols
      .map { case (t, c) =>
        s"""SELECT '$t.$c' AS col_name,
           |  LEAST(CAST(FLOOR((CAST($c AS DOUBLE) - mn) * $histBins.0 / (mx - mn)) AS BIGINT),
           |        ${histBins - 1}) AS bucket,
           |  COUNT(*) AS cnt
           |FROM $t, (SELECT CAST(MIN($c) AS DOUBLE) AS mn, CAST(MAX($c) AS DOUBLE) AS mx FROM $t)
           |GROUP BY 1, 2""".stripMargin
      }
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name, bucket")

  val mcvCols: Seq[(String, String, Int)] = Seq(
    ("orders", "o_orderpriority", 5),
    ("customer", "c_mktsegment", 5),
    ("part", "p_brand", 8))

  def mcvQ(spark: SparkSession, dir: String): DataFrame =
    mcvCols
      .map { case (t, c, k) =>
        Stats.mcv(Tables(spark, dir, t), c, k, s"$t.$c")
      }
      .reduce(_.unionAll(_))
      .orderBy(col("col_name"), col("rnk"))

  val mcvSql: String =
    mcvCols
      .map { case (t, c, k) =>
        s"""SELECT * FROM (
           |  SELECT '$t.$c' AS col_name, CAST($c AS VARCHAR) AS val, COUNT(*) AS cnt,
           |    CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, CAST($c AS VARCHAR)) AS INTEGER) AS rnk
           |  FROM $t WHERE $c IS NOT NULL GROUP BY $c
           |) WHERE rnk <= $k""".stripMargin
      }
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name, rnk")

  // ---- row 18b: count-min sketch (portable md5 hash family) ----

  /** depth 4 × width 256; probe partkeys 1..20 exist at every SF. */
  val cmsDepth = 4
  val cmsProbes: Seq[Long] = 1L to 20L

  /** CMS frequency estimates vs true counts for the probe keys:
    * est(v) = min over sketch rows d of counter[d][bucket_d(v)] — always
    * ≥ the true count, equal when no collision. Probe buckets are md5'd
    * driver-side (20×4 constants); the counter build is the only data
    * pass.
    */
  def cmsFreqQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables(spark, dir, "lineitem")
    val counters = Stats.cmsCounters(li, "l_partkey", cmsDepth)
    val probeCells = cmsProbes
      .flatMap(v => (0 until cmsDepth).map(d => (v, d, Stats.cmsBucketOf(d, v.toString))))
      .toDF("partkey", "d", "bucket")
    // broadcast the BUILDABLE side: for a left-outer join only the right
    // side can be broadcast, and counters is bounded at depth×256 rows
    val est = probeCells
      .join(broadcast(counters), Seq("d", "bucket"), "left")
      .groupBy(col("partkey"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_cnt"))
    val tru = li
      .filter(col("l_partkey").isin(cmsProbes: _*))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("true_cnt"))
      .select(col("l_partkey").cast("long").as("partkey"), col("true_cnt"))
    est.join(tru, Seq("partkey"), "left")
      .select(
        col("partkey"), col("cms_cnt").cast("long").as("cms_cnt"),
        coalesce(col("true_cnt"), lit(0L)).as("true_cnt"))
      .orderBy(col("partkey"))
  }

  val cmsFreqSql: String = {
    def bucketSql(v: String): String =
      s"(strpos('0123456789abcdef', substr(md5(depths.d || ':' || $v), 1, 1)) - 1) * 16" +
        s" + (strpos('0123456789abcdef', substr(md5(depths.d || ':' || $v), 2, 1)) - 1)"
    s"""WITH depths AS (SELECT UNNEST([${(0 until cmsDepth).mkString(", ")}]) AS d),
       |counters AS (
       |  SELECT depths.d AS d, ${bucketSql("l_partkey")} AS bucket, COUNT(*) AS cnt
       |  FROM lineitem, depths
       |  GROUP BY 1, 2
       |),
       |probes AS (SELECT UNNEST([${cmsProbes.mkString(", ")}]) AS pk),
       |probe_cells AS (
       |  SELECT probes.pk, depths.d, ${bucketSql("probes.pk")} AS bucket
       |  FROM probes, depths
       |),
       |est AS (
       |  SELECT pc.pk, MIN(COALESCE(c.cnt, 0)) AS cms_cnt
       |  FROM probe_cells pc LEFT JOIN counters c ON pc.d = c.d AND pc.bucket = c.bucket
       |  GROUP BY pc.pk
       |),
       |tru AS (
       |  SELECT l_partkey AS pk, COUNT(*) AS true_cnt FROM lineitem
       |  WHERE l_partkey IN (SELECT pk FROM probes) GROUP BY 1
       |)
       |SELECT CAST(est.pk AS BIGINT) AS partkey, CAST(est.cms_cnt AS BIGINT) AS cms_cnt,
       |  CAST(COALESCE(tru.true_cnt, 0) AS BIGINT) AS true_cnt
       |FROM est LEFT JOIN tru ON est.pk = tru.pk
       |ORDER BY partkey""".stripMargin
  }

  val hllCols: Seq[(String, String)] = Seq(
    ("orders", "o_custkey"),
    ("lineitem", "l_partkey"),
    ("customer", "c_custkey"),
    ("events", "user_id"))

  /** Error bound for the hll_ndv verdict: rsd 0.01 keeps observed error
    * well under 10% at every test scale (≤ 6.7% was the max even at the
    * DEFAULT rsd 0.05), and the sketch is deterministic per dataset.
    */
  val hllBound = 0.10

  def hllNdvQ(spark: SparkSession, dir: String): DataFrame =
    hllCols
      .map { case (t, c) => Stats.hllNdv(Tables(spark, dir, t), c, s"$t.$c", hllBound) }
      .reduce(_.unionAll(_))
      .orderBy(col("col_name"))

  /** The oracle can't reproduce the HLL registers, but it CAN assert the
    * bounded-error contract: exact ndv plus within_bound = TRUE.
    */
  val hllNdvSql: String =
    hllCols
      .map { case (t, c) =>
        s"SELECT '$t.$c' AS col_name, CAST(COUNT(DISTINCT $c) AS BIGINT) AS exact_ndv, TRUE AS within_bound FROM $t"
      }
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  // ---- row 18c: KMV (k-minimum-values) ndv sketch, portable ----

  /** Sketch size; estimate = (k−1)/u_k with u_k the k-th smallest
    * md5-derived uniform over the column's DISTINCT values — the
    * classic KMV estimator, built entirely from engine-portable pieces
    * (md5 → 52-bit integer), unlike HLL++ whose register layout is
    * implementation-specific.
    */
  val kmvK = 64

  def kmvNdvQ(spark: SparkSession, dir: String): DataFrame = kmvNdv(spark, dir, hllCols)

  private[graft] def kmvNdv(spark: SparkSession, dir: String,
      cols: Seq[(String, String)]): DataFrame =
    cols
      .map { case (t, c) =>
        // ONE pass over the distinct set: the old plan scanned the
        // table twice (KMV hash sample + a separate count_distinct for
        // the exact NDV). For an integral column the cast-to-string
        // distinct has exactly count_distinct(c) rows — exact_ndv is a
        // plain count over the same deduped frame the sample is drawn
        // from, and the 64-smallest-hash cut runs as a bounded top-k
        // aggregate (map-side ≤64-entry buffers) instead of a
        // TakeOrdered pass. m = min(ndv, k) and hk = k-th smallest hash
        // are identical to the old sample. A floating column would
        // break that equality (-0.0 and 0.0 are one value but two
        // strings), so only integral columns are accepted.
        val table = Tables(spark, dir, t)
        val dt = table.schema(c).dataType
        require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
          s"kmv_ndv needs an integral column: $t.$c is ${dt.simpleString}")
        val topk = udaf(new graft.functions.TopKPairs(kmvK, false))
        table
          .filter(col(c).isNotNull)
          .select(col(c).cast("string").as("v"))
          .distinct()
          .select(
            conv(substring(md5(concat(lit("kmv:"), col("v"))), 1, 13), 16, 10)
              .cast("long").as("h"))
          .agg(count(lit(1)).as("exact_ndv"),
            topk(col("h").cast("double"), col("h")).as("__top"))
          .select(
            lit(s"$t.$c").as("col_name"),
            when(col("exact_ndv") < kmvK, col("exact_ndv").cast("double"))
              .otherwise(lit((kmvK - 1).toDouble) /
                (element_at(col("__top"), size(col("__top"))).getField("_2")
                  .cast("double") / lit(4503599627370496.0)))
              .as("kmv_est"),
            col("exact_ndv"))
      }
      .reduce(_.unionAll(_))
      .orderBy(col("col_name"))

  val kmvNdvSql: String =
    hllCols
      .map { case (t, c) =>
        s"""SELECT '$t.$c' AS col_name,
           |  CASE WHEN m < $kmvK THEN CAST(m AS DOUBLE)
           |       ELSE CAST(${kmvK - 1} AS DOUBLE) / (CAST(hk AS DOUBLE) / 4503599627370496.0) END AS kmv_est,
           |  (SELECT CAST(COUNT(DISTINCT $c) AS BIGINT) FROM $t) AS exact_ndv
           |FROM (SELECT MAX(h) AS hk, CAST(COUNT(*) AS BIGINT) AS m FROM (
           |  SELECT CAST(('0x' || substr(md5('kmv:' || CAST($c AS VARCHAR)), 1, 13)) AS BIGINT) AS h
           |  FROM (SELECT DISTINCT $c FROM $t WHERE $c IS NOT NULL)
           |  ORDER BY h LIMIT $kmvK) z)""".stripMargin
      }
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  // ---- row 15b: exact column quantiles (nearest interpolation) ----

  /** Columns for the exact-quantile report. Exact quantiles need a
    * per-column sort (the semantics demand it); the 100 TB path swaps in
    * approx_percentile with the same output shape.
    */
  val quantCols: Seq[(String, String)] = Seq(
    ("lineitem", "l_extendedprice"),
    ("lineitem", "l_quantity"),
    ("orders", "o_totalprice"))

  def colQuantilesQ(spark: SparkSession, dir: String): DataFrame = {
    // the bucket-locate plan scans this union → memoize, and memoize
    // the query-independent bucket-CDF prefix too: the per-query tail
    // is then ONE scan of the union (located-bucket keep pass) instead
    // of three (guide §2.4 — share one expensive subtree)
    val vals = Memo(spark, dir, "stats:quantColVals")(
      quantCols
        .map { case (t, c) =>
          Tables(spark, dir, t)
            .filter(col(c).isNotNull)
            .select(lit(s"$t.$c").as("col_name"), col(c).cast("double").as("v"))
        }
        .reduce(_.unionAll(_)))
    val cdf = Memo(spark, dir, "stats:quantColCdf")(
      graft.operators.Metrics.bucketCdf(vals, "col_name", "v"))
    graft.operators.Metrics.quantilesNearestBucketedFrom(
      vals, cdf, "col_name", "v")
  }

  val colQuantilesSql: String = {
    val vals = quantCols
      .map { case (t, c) =>
        s"SELECT '$t.$c' AS col_name, CAST($c AS DOUBLE) AS v FROM $t WHERE $c IS NOT NULL"
      }
      .mkString("\nUNION ALL\n")
    val arms = graft.operators.Metrics.quantiles
      .map(q =>
        s"SELECT col_name, $q AS quantile, v AS value FROM ranked" +
          s" WHERE rn = CAST(roundbankers($q * (n - 1), 0) AS BIGINT) + 1")
      .mkString("\nUNION ALL\n")
    s"""WITH vals AS MATERIALIZED (
       |$vals
       |),
       |ranked AS MATERIALIZED (SELECT col_name, v,
       |    ROW_NUMBER() OVER (PARTITION BY col_name ORDER BY v) AS rn,
       |    COUNT(*) OVER (PARTITION BY col_name) AS n
       |  FROM vals)
       |$arms
       |ORDER BY col_name, quantile""".stripMargin
  }

  // ---- row 15d: distribution-skew profile (run.py:45 calc_entropy analogue) ----

  def colSkewProfileQ(spark: SparkSession, dir: String): DataFrame =
    statCols
      .map { case (t, c, _) =>
        Stats.skewProfile(Tables(spark, dir, t), c, s"$t.$c")
      }
      .reduce(_.unionAll(_))
      .orderBy(col("col_name"))

  val colSkewProfileSql: String =
    statCols
      .map { case (t, c, _) =>
        s"""SELECT '$t.$c' AS col_name, n, ndv,
           |  CAST(pairs AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS collision_prob,
           |  CAST(mx AS DOUBLE) / CAST(n AS DOUBLE) AS top_share
           |FROM (SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS ndv, MAX(c) AS mx,
           |        SUM(c * (c - 1)) AS pairs
           |      FROM (SELECT COUNT(*) AS c FROM $t WHERE $c IS NOT NULL GROUP BY $c))""".stripMargin
      }
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  // ---- row 15g: Shannon-entropy column profile (run.py:45 calc_entropy) ----

  /** Shannon entropy (nats) of each profiled column's value distribution
    * — the reference's per-column information measure (scardina/run.py:45
    * calc_entropy), H = ln(n) − Σ c·ln(c) / n over per-value counts c,
    * plus the ln(ndv)-normalized form.
    *
    * Cross-engine exactness: ln is the one transcendental here and JVM
    * Math.log vs DuckDB ln differ by 1 ulp on ~1 in 50k integer inputs,
    * so every ln-carrying term is quantized to DECIMAL(38,6) BEFORE the
    * (order-sensitive) sum / final combination; the remaining double
    * arithmetic is a fixed IEEE expression tree over identical inputs.
    * One groupBy per column with map-side partial aggregation — the
    * shuffle carries per-value counts, never rows.
    */
  def shannonEntropyQ(spark: SparkSession, dir: String): DataFrame =
    statCols
      .map { case (t, c, _) =>
        val cnt = col("cnt").cast("double")
        Tables(spark, dir, t)
          .filter(col(c).isNotNull)
          .groupBy(col(c)).agg(count(lit(1)).as("cnt"))
          .agg(
            sum(col("cnt")).cast("bigint").as("n"),
            count(lit(1)).as("ndv"),
            sum((cnt * log(cnt)).cast("decimal(38,6)")).as("s"))
          .select(
            lit(s"$t.$c").as("col_name"), col("n"), col("ndv"),
            (log(col("n").cast("double")).cast("decimal(38,6)").cast("double") -
              col("s").cast("double") / col("n").cast("double")).as("e"))
          .select(
            col("col_name"), col("n"), col("ndv"), col("e").as("entropy"),
            when(col("ndv") > 1,
              col("e") / log(col("ndv").cast("double")).cast("decimal(38,6)").cast("double"))
              .otherwise(lit(1.0)).as("norm_entropy"))
      }
      .reduce(_.unionAll(_))
      .orderBy(col("col_name"))

  val shannonEntropySql: String =
    statCols
      .map { case (t, c, _) =>
        s"""SELECT col_name, n, ndv, e AS entropy,
           |  CASE WHEN ndv > 1 THEN e / CAST(CAST(ln(CAST(ndv AS DOUBLE)) AS DECIMAL(38,6)) AS DOUBLE)
           |       ELSE 1.0 END AS norm_entropy
           |FROM (SELECT '$t.$c' AS col_name, n, ndv,
           |  CAST(CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(38,6)) AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS e
           |FROM (SELECT CAST(SUM(cnt) AS BIGINT) AS n, COUNT(*) AS ndv,
           |        SUM(CAST(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE)) AS DECIMAL(38,6))) AS s
           |      FROM (SELECT COUNT(*) AS cnt FROM $t WHERE $c IS NOT NULL GROUP BY $c)))""".stripMargin
      }
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  // ---- row 15h: join-key degree histogram (skew planning input) ----

  val degreeKeys: Seq[(String, String)] = Seq(
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"))

  /** Log2-bucketed degree distribution of the workload's join keys —
    * the statistic a planner needs to pick broadcast vs shuffle vs
    * salted joins (degree_bucket = bit length of the key's row count;
    * a populated high bucket means the key set is skew-salting
    * territory). One groupBy per key then vocabulary-sized bucketing;
    * the shuffle carries (key, count) pairs only.
    */
  def keyDegreeHistQ(spark: SparkSession, dir: String): DataFrame =
    degreeKeys
      .map { case (t, c) =>
        Tables(spark, dir, t)
          .filter(col(c).isNotNull)
          .groupBy(col(c)).agg(count(lit(1)).as("d"))
          .groupBy(length(bin(col("d"))).cast("int").as("degree_bucket"))
          .agg(
            count(lit(1)).as("n_keys"),
            min(col("d")).as("min_degree"),
            max(col("d")).as("max_degree"),
            sum(col("d")).cast("bigint").as("n_rows"))
          .select(lit(s"$t.$c").as("key_name"), col("degree_bucket"),
            col("n_keys"), col("min_degree"), col("max_degree"), col("n_rows"))
      }
      .reduce(_.unionAll(_))
      .orderBy(col("key_name"), col("degree_bucket"))

  val keyDegreeHistSql: String =
    degreeKeys
      .map { case (t, c) =>
        s"""SELECT '$t.$c' AS key_name, CAST(length(bin(d)) AS INT) AS degree_bucket,
           |  CAST(COUNT(*) AS BIGINT) AS n_keys, MIN(d) AS min_degree, MAX(d) AS max_degree,
           |  CAST(SUM(d) AS BIGINT) AS n_rows
           |FROM (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM $t WHERE $c IS NOT NULL GROUP BY $c)
           |GROUP BY 2""".stripMargin
      }
      .mkString("", "\nUNION ALL\n", "\nORDER BY key_name, degree_bucket")

  // ---- row 15i: robust (MAD) outlier profile ----

  /** 3σ-equivalent threshold: 3 × 1.4826 (the normal-consistency
    * constant), written as ONE literal so both engines parse the same
    * decimal.
    */
  val madThreshold = 4.4478

  /** Slim (event_type, value) projection shared by the per-group
    * quantile/MAD profiles: each bucket-locate pass scans it three
    * times, so it is materialized once per session (same cached-slim-
    * projection discipline as the minhash/pq frames).
    */
  private def eventVals(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "stats:eventVals")(
      Tables(spark, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("value").cast("double").as("v")))

  /** Query-independent bucket-CDF over [[eventVals]] — one memo serves
    * BOTH group_quantiles (5 quantiles) and mad_outliers' first median
    * pass (q = 0.5): the targets only enter the plan after the CDF.
    */
  private def eventValsCdf(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "stats:eventValsCdf")(
      graft.operators.Metrics.bucketCdf(eventVals(spark, dir), "event_type", "v"))

  /** Median-absolute-deviation outlier profile per event_type — the
    * robust counterpart of z-score spike detection (immune to the very
    * outliers it hunts). Exact medians come from the bucket-locate
    * quantile plan (no per-group global sort); deviations against the
    * broadcast medians; outlier = |v − med| > 4.4478·MAD. Three passes
    * over the value column, each a codegen'd scan + bounded-size
    * aggregation.
    */
  def madOutliersQ(spark: SparkSession, dir: String): DataFrame = {
    // The two bucket-locate median passes + the final outlier scan read
    // this 2-column projection seven times — materialize it once (same
    // cached-slim-projection discipline as the minhash/pq frames).
    val base = eventVals(spark, dir)
    val med = graft.operators.Metrics
      .quantilesNearestBucketedFrom(
        base, eventValsCdf(spark, dir), "event_type", "v", Seq(0.5))
      .select(col("event_type"), col("value").as("med"))
    val dev = Memo(spark, dir, "stats:madDev")(
      base.join(broadcast(med), "event_type")
        .select(col("event_type"), abs(col("v") - col("med")).as("d")))
    val devCdf = Memo(spark, dir, "stats:madDevCdf")(
      graft.operators.Metrics.bucketCdf(dev, "event_type", "d"))
    val mad = graft.operators.Metrics
      .quantilesNearestBucketedFrom(dev, devCdf, "event_type", "d", Seq(0.5))
      .select(col("event_type"), col("value").as("mad"))
    base
      .join(broadcast(med), "event_type")
      .join(broadcast(mad), "event_type")
      .groupBy(col("event_type"), col("med"), col("mad"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(abs(col("v") - col("med")) > lit(madThreshold) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col("event_type"), col("med"), col("mad"), col("n"), col("n_outliers"),
        (col("n_outliers").cast("double") / col("n").cast("double")).as("outlier_rate"))
      .orderBy(col("event_type"))
  }

  val madOutliersSql: String =
    s"""WITH vals AS MATERIALIZED (
       |  SELECT event_type, CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL),
       |ranked AS (SELECT event_type, v,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM vals),
       |med AS (SELECT event_type, v AS med FROM ranked
       |        WHERE rn = CAST(roundbankers(0.5 * (n - 1), 0) AS BIGINT) + 1),
       |devs AS MATERIALIZED (SELECT vals.event_type, abs(v - med) AS d
       |        FROM vals JOIN med USING (event_type)),
       |dranked AS (SELECT event_type, d,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM devs),
       |mad AS (SELECT event_type, d AS mad FROM dranked
       |        WHERE rn = CAST(roundbankers(0.5 * (n - 1), 0) AS BIGINT) + 1)
       |SELECT vals.event_type, med, mad, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(CASE WHEN abs(v - med) > $madThreshold * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       |  CAST(SUM(CASE WHEN abs(v - med) > $madThreshold * mad THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS outlier_rate
       |FROM vals JOIN med USING (event_type) JOIN mad USING (event_type)
       |GROUP BY 1, 2, 3 ORDER BY event_type""".stripMargin

  // ---- row 15e: per-group exact quantiles ----

  /** Exact per-event_type value quantiles through the same bucket-locate
    * plan as col_quantiles (no global sort; only located buckets are
    * ranked).
    */
  def groupQuantilesQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Metrics.quantilesNearestBucketedFrom(
      eventVals(spark, dir), eventValsCdf(spark, dir), "event_type", "v")

  val groupQuantilesSql: String = {
    val arms = graft.operators.Metrics.quantiles
      .map(q =>
        s"SELECT event_type, $q AS quantile, v AS value FROM ranked" +
          s" WHERE rn = CAST(roundbankers($q * (n - 1), 0) AS BIGINT) + 1")
      .mkString("\nUNION ALL\n")
    s"""WITH vals AS MATERIALIZED (
       |  SELECT event_type, CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL
       |),
       |ranked AS MATERIALIZED (SELECT event_type, v,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM vals)
       |$arms
       |ORDER BY event_type, quantile""".stripMargin
  }

  // ---- row 16c: joint (2-D) histogram ----

  val hist2dBins = 8

  def hist2dQ(spark: SparkSession, dir: String): DataFrame =
    Stats
      .hist2d(Tables(spark, dir, "lineitem"), "l_quantity", "l_discount",
        hist2dBins, "lineitem.l_quantity:l_discount")
      .orderBy(col("bucket_a"), col("bucket_b"))

  val hist2dSql: String =
    s"""WITH s AS (SELECT
       |  CAST(MIN(l_quantity) AS DOUBLE) AS mna, CAST(MAX(l_quantity) AS DOUBLE) AS mxa,
       |  CAST(MIN(l_discount) AS DOUBLE) AS mnb, CAST(MAX(l_discount) AS DOUBLE) AS mxb
       |  FROM lineitem)
       |SELECT 'lineitem.l_quantity:l_discount' AS col_pair,
       |  LEAST(CAST(FLOOR((CAST(l_quantity AS DOUBLE) - mna) * $hist2dBins.0 / (mxa - mna)) AS BIGINT),
       |        ${hist2dBins - 1}) AS bucket_a,
       |  LEAST(CAST(FLOOR((CAST(l_discount AS DOUBLE) - mnb) * $hist2dBins.0 / (mxb - mnb)) AS BIGINT),
       |        ${hist2dBins - 1}) AS bucket_b,
       |  COUNT(*) AS cnt
       |FROM lineitem, s GROUP BY 2, 3 ORDER BY 2, 3""".stripMargin

  // ---- row 15f: exact-moment correlation matrix ----

  val corrCols: Seq[String] = Seq("l_quantity", "l_extendedprice", "l_discount")
  val corrScale = 100L // the columns carry exactly 2 decimals

  def corrMatrixQ(spark: SparkSession, dir: String): DataFrame =
    Stats
      .corrMatrix(Tables(spark, dir, "lineitem"), corrCols, corrScale, "lineitem")
      .orderBy(col("col_pair"))

  val corrMatrixSql: String = {
    def d(c: String) =
      s"CAST(FLOOR(CAST($c AS DOUBLE) * $corrScale.0 + 0.5) AS BIGINT)"
    val pairs = for {
      i <- corrCols.indices; j <- corrCols.indices if i < j
    } yield (corrCols(i), corrCols(j))
    val sums = corrCols.map(c => s"SUM(${d(c)}) AS s_$c") ++
      corrCols.map(c => s"SUM(${d(c)} * ${d(c)}) AS q_$c") ++
      pairs.map { case (x, y) => s"SUM(${d(x)} * ${d(y)}) AS p_${x}_$y" }
    // exact int128 covariances, cast to double only at the end — mirrors
    // the Spark side's exact-decimal arithmetic (no cancellation drift)
    def cov(p: String, sa: String, sb: String): String =
      s"CAST(CAST(n AS HUGEINT) * $p - CAST($sa AS HUGEINT) * $sb AS DOUBLE)"
    val arms = pairs
      .map { case (x, y) =>
        val num = cov(s"p_${x}_$y", s"s_$x", s"s_$y")
        val den = s"sqrt(${cov(s"q_$x", s"s_$x", s"s_$x")})" +
          s" * sqrt(${cov(s"q_$y", s"s_$y", s"s_$y")})"
        s"SELECT 'lineitem.$x:$y' AS col_pair, n, ($num) / ($den) AS corr FROM m"
      }
      .mkString("\nUNION ALL\n")
    s"""WITH m AS (SELECT COUNT(*) AS n, ${sums.mkString(", ")} FROM lineitem)
       |$arms
       |ORDER BY col_pair""".stripMargin
  }

  // ---- row 18d: bloom filter (portable md5 hash family) ----

  /** m bits / k hashes. The bit set is carried as ≤ m distinct set-bit
    * positions — bounded by m however large the build side grows, so the
    * probe-side membership join broadcasts a fixed-size structure (the
    * relational twin of shipping a bitmap to every executor).
    */
  val bloomM = 8192L
  val bloomK = 3

  /** Build a bloom filter over partkeys with p_size ≤ 20, probe every
    * lineitem row, and report the sketch's confusion counts: bloom can
    * only err positive (no false negatives), so
    * bloom_positive = exact_positive + false_positive.
    */
  def bloomFilterQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val depths = (0 until bloomK).toDF("i")
    def pos(i: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =
      pmod(
        conv(substring(md5(concat_ws(":", i.cast("string"), v)), 1, 8), 16, 10)
          .cast("long"),
        lit(bloomM))
    val build = Tables(spark, dir, "part")
      .filter(col("p_size") <= 20)
      .select(col("p_partkey").cast("string").as("v")).distinct()
    val bits = build.crossJoin(depths)
      .select(pos(col("i"), col("v")).as("pos")).distinct()
    val probes = Tables(spark, dir, "lineitem")
      .select(col("l_partkey").cast("string").as("v")).distinct()
    val member = probes.crossJoin(depths)
      .select(col("v"), pos(col("i"), col("v")).as("pos"))
      .join(broadcast(bits.withColumn("__hit", lit(1))), Seq("pos"), "left")
      .groupBy(col("v"))
      .agg((min(coalesce(col("__hit"), lit(0))) === 1).as("bloom_pos"))
    val counts = Tables(spark, dir, "lineitem")
      .select(col("l_partkey").cast("string").as("v"))
      .join(member, Seq("v"))
      .join(build.withColumn("__ex", lit(1)), Seq("v"), "left")
      .agg(
        count(lit(1)).as("probe_rows"),
        sum(when(col("bloom_pos"), 1L).otherwise(0L)).as("bloom_positive_rows"),
        sum(when(col("__ex") === 1, 1L).otherwise(0L)).as("exact_positive_rows"),
        sum(when(col("bloom_pos") && col("__ex").isNull, 1L).otherwise(0L))
          .as("false_positive_rows"))
      .crossJoin(broadcast(bits.agg(count(lit(1)).as("bits_set"))))
    counts
      .select(explode(map(
        lit("bits_set"), col("bits_set"),
        lit("bloom_positive_rows"), col("bloom_positive_rows"),
        lit("exact_positive_rows"), col("exact_positive_rows"),
        lit("false_positive_rows"), col("false_positive_rows"),
        lit("probe_rows"), col("probe_rows"))))
      .select(col("key").as("metric"), col("value").cast("long").as("cnt"))
      .orderBy(col("metric"))
  }

  val bloomFilterSql: String = {
    def posSql(v: String): String =
      s"CAST(('0x' || substr(md5(i || ':' || $v), 1, 8)) AS BIGINT) % $bloomM"
    s"""WITH depths AS (SELECT UNNEST([${(0 until bloomK).mkString(", ")}]) AS i),
       |build AS (SELECT DISTINCT CAST(p_partkey AS VARCHAR) AS v FROM part WHERE p_size <= 20),
       |bits AS (SELECT DISTINCT ${posSql("v")} AS pos FROM build, depths),
       |probes AS (SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS v FROM lineitem),
       |member AS (
       |  SELECT c.v, MIN(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) = 1 AS bloom_pos
       |  FROM (SELECT v, ${posSql("v")} AS pos FROM probes, depths) c
       |  LEFT JOIN bits b ON c.pos = b.pos
       |  GROUP BY c.v
       |),
       |agg AS (
       |  SELECT COUNT(*) AS probe_rows,
       |    SUM(CASE WHEN m.bloom_pos THEN 1 ELSE 0 END) AS bloom_positive_rows,
       |    SUM(CASE WHEN bu.v IS NOT NULL THEN 1 ELSE 0 END) AS exact_positive_rows,
       |    SUM(CASE WHEN m.bloom_pos AND bu.v IS NULL THEN 1 ELSE 0 END) AS false_positive_rows
       |  FROM lineitem l
       |  JOIN member m ON CAST(l.l_partkey AS VARCHAR) = m.v
       |  LEFT JOIN build bu ON CAST(l.l_partkey AS VARCHAR) = bu.v
       |)
       |SELECT 'bits_set' AS metric, CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS cnt
       |UNION ALL SELECT 'bloom_positive_rows', CAST(bloom_positive_rows AS BIGINT) FROM agg
       |UNION ALL SELECT 'exact_positive_rows', CAST(exact_positive_rows AS BIGINT) FROM agg
       |UNION ALL SELECT 'false_positive_rows', CAST(false_positive_rows AS BIGINT) FROM agg
       |UNION ALL SELECT 'probe_rows', CAST(probe_rows AS BIGINT) FROM agg
       |ORDER BY metric""".stripMargin
  }

  // ---- row 18e: per-group KMV ndv sketch ----

  /** Approx distinct users per event_type via per-group KMV — the
    * grouped form of kmv_ndv. The sketch is mergeable (k smallest
    * hashes union-merge), which is what makes it maintainable
    * per-partition at scale; here the per-group k-th minimum comes from
    * one window over the distinct (group, hash) pairs.
    */
  def kmvGroupNdvQ(spark: SparkSession, dir: String): DataFrame = {
    val byGroup = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("h"))
    val hashed = Tables(spark, dir, "events")
      .filter(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id").cast("string").as("v"))
      .distinct()
      .select(
        col("event_type"),
        conv(substring(md5(concat(lit("kmv:"), col("v"))), 1, 13), 16, 10)
          .cast("long").as("h"))
    val exact = Tables(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("exact_ndv"))
    hashed
      .withColumn("rn", row_number().over(byGroup))
      .filter(col("rn") <= kmvK)
      .groupBy(col("event_type"))
      .agg(max(col("h")).as("hk"), count(lit(1)).as("m"))
      .join(exact, Seq("event_type"))
      .select(
        col("event_type"),
        when(col("m") < kmvK, col("m").cast("double"))
          .otherwise(lit((kmvK - 1).toDouble) /
            (col("hk").cast("double") / lit(4503599627370496.0)))
          .as("kmv_est"),
        col("exact_ndv"))
      .orderBy(col("event_type"))
  }

  val kmvGroupNdvSql: String =
    s"""WITH hashed AS (
       |  SELECT event_type,
       |    CAST(('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h
       |  FROM (SELECT DISTINCT event_type, user_id FROM events WHERE user_id IS NOT NULL)
       |),
       |topk AS (
       |  SELECT event_type, h,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |  FROM hashed
       |),
       |sk AS (
       |  SELECT event_type, MAX(h) AS hk, CAST(COUNT(*) AS BIGINT) AS m
       |  FROM topk WHERE rn <= $kmvK GROUP BY 1
       |),
       |ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_ndv FROM events GROUP BY 1)
       |SELECT sk.event_type,
       |  CASE WHEN m < $kmvK THEN CAST(m AS DOUBLE)
       |       ELSE CAST(${kmvK - 1} AS DOUBLE) / (CAST(hk AS DOUBLE) / 4503599627370496.0) END AS kmv_est,
       |  CAST(ex.exact_ndv AS BIGINT) AS exact_ndv
       |FROM sk JOIN ex ON sk.event_type = ex.event_type
       |ORDER BY 1""".stripMargin

  // ---- row 15c: mergeable per-partition stats (incremental maintenance) ----

  /** Stats maintained the way a 100 TB lake maintains them: one partial
    * row per data partition (here: per source), merged into the global
    * row by pure algebra (counts/sums add, min/max fold) — never
    * rescanning the whole corpus. The query emits both levels; the spec
    * asserts merged == direct.
    */
  def mergeableStatsQ(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val partials = d
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
    val merged = partials
      .agg(
        sum(col("cnt")).as("cnt"),
        sum(col("sum_chars")).as("sum_chars"),
        min(col("min_chars")).as("min_chars"),
        max(col("max_chars")).as("max_chars"))
      .select(lit("__merged__").as("source"),
        col("cnt"), col("sum_chars"), col("min_chars"), col("max_chars"))
    partials.unionAll(merged).orderBy(col("source"))
  }

  val mergeableStatsSql: String =
    """SELECT source, COUNT(*) AS cnt,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM documents GROUP BY source
      |UNION ALL
      |SELECT '__merged__', COUNT(*),
      |  CAST(SUM(n_chars) AS BIGINT),
      |  MIN(n_chars), MAX(n_chars)
      |FROM documents
      |ORDER BY source""".stripMargin

  // ---- row 16b: equi-depth histogram ----

  /** Equi-depth histogram over o_totalprice: boundaries are the exact
    * nearest-rank quantiles at i/B (computed by the bucket-locate plan,
    * no global sort), bins are [b_{i-1}, b_i) with the last bin closed.
    * The depth histogram is the estimator-grade structure equi-width
    * can't replace under skew — bin populations stay ~n/B regardless of
    * the value distribution.
    */
  val eqdepthBins = 8

  def eqdepthHistQ(spark: SparkSession, dir: String): DataFrame = {
    val qs = (1 until eqdepthBins).map(_.toDouble / eqdepthBins)
    // bucket-locate scans + the final binning scan → memoize the vals
    // AND the query-independent bucket-CDF prefix: the bounds pass is
    // then ONE located-bucket scan instead of three
    val vals = Memo(spark, dir, "stats:eqdepthVals")(
      Tables(spark, dir, "orders")
        .filter(col("o_totalprice").isNotNull)
        .select(lit("orders.o_totalprice").as("col_name"),
          col("o_totalprice").cast("double").as("v")))
    val cdf = Memo(spark, dir, "stats:eqdepthCdf")(
      graft.operators.Metrics.bucketCdf(vals, "col_name", "v"))
    val bounds = graft.operators.Metrics
      .quantilesNearestBucketedFrom(vals, cdf, "col_name", "v", qs)
      .agg(sort_array(collect_list(col("value"))).as("bs"))
    val binCol = (1 until eqdepthBins)
      .foldLeft(lit(0)) { (acc, i) =>
        when(col("v") >= expr(s"bs[${i - 1}]"), lit(i)).otherwise(acc)
      }
    vals.crossJoin(broadcast(bounds))
      .groupBy(col("col_name"), binCol.as("bin"))
      .agg(count(lit(1)).as("cnt"), min(col("v")).as("lo"), max(col("v")).as("hi"))
      .orderBy(col("col_name"), col("bin"))
  }

  val eqdepthHistSql: String = {
    val qs = (1 until eqdepthBins).map(_.toDouble / eqdepthBins)
    val arms = qs
      .map(q => s"SELECT $q AS q, v FROM ranked WHERE rn = CAST(roundbankers($q * (n - 1), 0) AS BIGINT) + 1")
      .mkString("\nUNION ALL\n")
    val binExpr = (1 until eqdepthBins)
      .foldLeft("0") { (acc, i) =>
        s"CASE WHEN v >= bs[$i] THEN $i ELSE $acc END"
      }
    s"""WITH vals AS MATERIALIZED (
       |  SELECT 'orders.o_totalprice' AS col_name, CAST(o_totalprice AS DOUBLE) AS v
       |  FROM orders WHERE o_totalprice IS NOT NULL
       |),
       |ranked AS MATERIALIZED (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn,
       |    COUNT(*) OVER () AS n FROM vals),
       |bounds AS (SELECT list_sort(list(v ORDER BY q)) AS bs FROM (
       |$arms
       |))
       |SELECT col_name, CAST(($binExpr) AS INT) AS bin,
       |  COUNT(*) AS cnt, MIN(v) AS lo, MAX(v) AS hi
       |FROM vals, bounds
       |GROUP BY 1, 2
       |ORDER BY col_name, bin""".stripMargin
  }

  // ---- row 31b: pivot report (the DataFrame pivot surface) ----

  /** Per-day event_type pivot: one count column per type, explicit value
    * list so the plan is a single groupBy (no extra distinct-values job)
    * with a fixed output schema the oracle mirrors as CASE sums.
    */
  val pivotTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  def eventPivotQ(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .pivot("event_type", pivotTypes)
      .agg(count(lit(1)))
      .na.fill(0L, pivotTypes)
      .orderBy(col("day"))

  val eventPivotSql: String = {
    val cols = pivotTypes
      .map(t => s"CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t")
      .mkString(",\n  ")
    s"""SELECT date_trunc('day', ts) AS day,
       |  $cols
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- sample_quantiles: bottom-k hash sample + rank-error audit ----

  val sqK = 512

  /** Decile estimates from a deterministic bottom-k-by-md5 sample (a
    * KMV-style mergeable uniform sample: per-partition top-k then one
    * driver merge — no global sort), audited against the full data: the
    * true CDF at each estimate and a within_bound flag (rank error ≤
    * 5%). The audit leg is one extra scan with a 9-row broadcast; at
    * 100 TB you keep the sample leg and sample the audit.
    */
  def sampleQuantilesQ(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables(spark, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("value").as("v"),
        conv(substring(md5(concat(lit("sq:"), col("event_id").cast("string"))), 1, 13), 16, 10)
          .cast("long").as("hk"))
    // The deterministic hash-sample is an index artifact (sqK rows):
    // memoized so the per-event md5 + top-k pass runs once per session
    // instead of once per consumer leg — the old plan recomputed it for
    // the rank leg AND again for the m count (a crossJoined agg, now a
    // count window over the same ≤sqK-row frame; already allowlisted in
    // WindowAuditSpec's shuffle-partition/sample-bounded class).
    val smp = Memo(spark, dir, "stats:sqSample")(
      h.orderBy(col("hk"), col("v")).limit(sqK).select(col("v")))
    val ranked = smp
      .withColumn("rn", row_number().over(Window.orderBy(col("v"))))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val qs = spark.range(1, 10).select((col("id").cast("double") / 10).as("q"))
    val est = qs.join(ranked, col("rn") === ceil(col("q") * col("m")))
      .groupBy(col("q")).agg(min(col("v")).as("est_v"))
    // Explicit projection: the CDF-check leg needs only v — guarantees
    // the per-event md5 never evaluates on this scan.
    h.select(col("v")).crossJoin(broadcast(est))
      .groupBy(col("q"), col("est_v"))
      .agg(
        sum(when(col("v") <= col("est_v"), 1L).otherwise(0L)).as("le"),
        count(lit(1)).as("nn"))
      .select(col("q"), col("est_v"),
        (col("le").cast("double") / col("nn")).as("true_cdf"))
      .withColumn("within_bound", abs(col("true_cdf") - col("q")) <= 0.05)
      .orderBy(col("q"))
  }

  val sampleQuantilesSql: String =
    s"""WITH h AS (SELECT value AS v,
       |    CAST(('0x'||substr(md5('sq:'||CAST(event_id AS VARCHAR)),1,13)) AS BIGINT) AS hk
       |  FROM events WHERE value IS NOT NULL),
       |smp AS (SELECT v FROM h ORDER BY hk, v LIMIT $sqK),
       |ranked AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM smp),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM smp),
       |qs AS (SELECT CAST(q AS DOUBLE)/10 AS q FROM range(1,10) t(q)),
       |est AS (SELECT q, MIN(v) AS est_v
       |        FROM qs CROSS JOIN m JOIN ranked ON rn = CAST(ceil(q * m) AS BIGINT) GROUP BY 1)
       |SELECT q, est_v, CAST(le AS DOUBLE) / nn AS true_cdf,
       |  (abs(CAST(le AS DOUBLE) / nn - q) <= 0.05) AS within_bound
       |FROM (SELECT e.q, e.est_v,
       |        CAST(SUM(CASE WHEN h.v <= e.est_v THEN 1 ELSE 0 END) AS BIGINT) AS le,
       |        CAST(COUNT(*) AS BIGINT) AS nn
       |      FROM est e CROSS JOIN h GROUP BY 1, 2)
       |ORDER BY q""".stripMargin

  // ---- bloom_prejoin: runtime-filter semi-join reduction audit ----

  val bpjM = 4096
  val bpjK = 3

  /** The runtime-filter pattern measured end-to-end: a 4096-bit, 3-hash
    * Bloom filter built from the dormant-customer roster, probed by
    * every order row, scored against the exact semi-join. Membership is
    * set-algebra on md5-derived bit positions (a join against the
    * distinct-position set), so both engines compute the identical
    * filter — no bitset state. Output: pass counts, false positives,
    * and the realized fp rate — the number that says whether shipping
    * this filter to the fact-scan side pays at 100 TB.
    */
  def bloomPrejoinQ(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val mx = o.agg(max(col("o_orderdate")).as("mxd"))
    val build = Memo(spark, dir, "stats:bloomBuild")(
      o.groupBy(col("o_custkey").as("k"))
        .agg(max(col("o_orderdate")).as("lo"))
        .crossJoin(broadcast(mx))
        .filter(col("lo") < col("mxd") - expr("INTERVAL 90 DAYS"))
        .select(col("k")))
    val probe = Memo(spark, dir, "stats:bloomProbe")(
      o.select(col("o_orderkey"), col("o_custkey")))
    // One md5 per key, 3 positions from disjoint 12-bit slices of the
    // 52-bit hash (the double-hashing trick) — a third of the hashing
    // the per-(key, h) salted form pays, same Bloom semantics.
    val hs = spark.range(0, bpjK).select(col("id").cast("int").as("h"))
    def hashOf(key: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(lit("b:"), key.cast("string"))), 1, 13), 16, 10)
        .cast("long")
    def posOf(h52: org.apache.spark.sql.Column) =
      expr(s"CAST(h52 AS BIGINT) DIV CAST(pow(CAST($bpjM AS BIGINT), h) AS BIGINT)") % bpjM
    val pos = build.select(hashOf(col("k")).as("h52")).crossJoin(hs)
      .select(posOf(col("h52")).as("p")).distinct()
    val ph = probe.select(col("o_orderkey"), col("o_custkey"),
        hashOf(col("o_custkey")).as("h52")).crossJoin(hs)
      .select(col("o_orderkey"), col("o_custkey"), posOf(col("h52")).as("p"))
    val hits = ph.join(broadcast(pos), Seq("p"))
      .groupBy(col("o_orderkey"), col("o_custkey"))
      .agg(count(lit(1)).as("c")).filter(col("c") === bpjK)
    val ex = probe.join(build, col("o_custkey") === col("k"), "leftsemi")
    build.agg(count(lit(1)).as("n_build"))
      .crossJoin(probe.agg(count(lit(1)).as("n_probe")))
      .crossJoin(hits.agg(count(lit(1)).as("bloom_pass")))
      .crossJoin(ex.agg(count(lit(1)).as("exact_pass")))
      .select(col("n_build"), col("n_probe"), col("bloom_pass"), col("exact_pass"),
        (col("bloom_pass") - col("exact_pass")).as("false_pos"),
        ((col("bloom_pass") - col("exact_pass")).cast("double") /
          (col("n_probe") - col("exact_pass"))).as("fp_rate"))
  }

  val bloomPrejoinSql: String =
    s"""WITH mx AS (SELECT MAX(o_orderdate) AS mxd FROM orders),
       |build AS (SELECT o_custkey AS k FROM orders CROSS JOIN mx
       |          GROUP BY 1, mxd HAVING MAX(o_orderdate) < mxd - INTERVAL 90 DAY),
       |pos AS (SELECT DISTINCT
       |          (CAST(('0x'||substr(md5('b:'||CAST(k AS VARCHAR)),1,13)) AS BIGINT)
       |           // CAST(pow($bpjM, h) AS BIGINT)) % $bpjM AS p
       |        FROM build, range(0,$bpjK) t(h)),
       |probe AS (SELECT o_orderkey, o_custkey FROM orders),
       |ph AS (SELECT o_orderkey, o_custkey,
       |         (CAST(('0x'||substr(md5('b:'||CAST(o_custkey AS VARCHAR)),1,13)) AS BIGINT)
       |          // CAST(pow($bpjM, h) AS BIGINT)) % $bpjM AS p
       |       FROM probe, range(0,$bpjK) t(h)),
       |hits AS (SELECT o_orderkey, o_custkey FROM ph JOIN pos USING (p)
       |         GROUP BY 1,2 HAVING COUNT(*) = $bpjK),
       |ex AS (SELECT o_orderkey FROM probe SEMI JOIN build ON probe.o_custkey = build.k)
       |SELECT n_build, n_probe, bloom_pass, exact_pass,
       |  bloom_pass - exact_pass AS false_pos,
       |  CAST(bloom_pass - exact_pass AS DOUBLE) / (n_probe - exact_pass) AS fp_rate
       |FROM (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM build) AS n_build,
       |        (SELECT CAST(COUNT(*) AS BIGINT) FROM probe) AS n_probe,
       |        (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS bloom_pass,
       |        (SELECT CAST(COUNT(*) AS BIGINT) FROM ex) AS exact_pass)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bloom_prejoin" -> (bloomPrejoinQ _),
    "sample_quantiles" -> (sampleQuantilesQ _),
    "col_skew_profile" -> (colSkewProfileQ _),
    "shannon_entropy" -> (shannonEntropyQ _),
    "key_degree_hist" -> (keyDegreeHistQ _),
    "mad_outliers" -> (madOutliersQ _),
    "hist2d" -> (hist2dQ _),
    "corr_matrix" -> (corrMatrixQ _),
    "group_quantiles" -> (groupQuantilesQ _),
    "eqdepth_hist" -> (eqdepthHistQ _),
    "event_pivot" -> (eventPivotQ _),
    "kmv_group_ndv" -> (kmvGroupNdvQ _),
    "mergeable_stats" -> (mergeableStatsQ _),
    "col_quantiles" -> (colQuantilesQ _),
    "bloom_filter" -> (bloomFilterQ _),
    "col_stats" -> (colStatsQ _),
    "histogram" -> (histogramQ _),
    "mcv" -> (mcvQ _),
    "cms_freq" -> (cmsFreqQ _),
    "hll_ndv" -> (hllNdvQ _),
    "kmv_ndv" -> (kmvNdvQ _)
  )

  val oracleSql: Map[String, String] = Map(
    "bloom_prejoin" -> bloomPrejoinSql,
    "sample_quantiles" -> sampleQuantilesSql,
    "hll_ndv" -> hllNdvSql,
    "shannon_entropy" -> shannonEntropySql,
    "key_degree_hist" -> keyDegreeHistSql,
    "mad_outliers" -> madOutliersSql,
    "col_skew_profile" -> colSkewProfileSql,
    "hist2d" -> hist2dSql,
    "corr_matrix" -> corrMatrixSql,
    "group_quantiles" -> groupQuantilesSql,
    "eqdepth_hist" -> eqdepthHistSql,
    "event_pivot" -> eventPivotSql,
    "kmv_group_ndv" -> kmvGroupNdvSql,
    "mergeable_stats" -> mergeableStatsSql,
    "col_quantiles" -> colQuantilesSql,
    "bloom_filter" -> bloomFilterSql,
    "col_stats" -> colStatsSql,
    "histogram" -> histogramSql,
    "mcv" -> mcvSql,
    "cms_freq" -> cmsFreqSql,
    "kmv_ndv" -> kmvNdvSql
  )
}
