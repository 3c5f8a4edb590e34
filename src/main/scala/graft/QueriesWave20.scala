package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 additions around the dedup/ANN/curation eval loops: the
  * band-join's measured PRECISION (the cost twin of `lsh_recall_audit`),
  * near-dup leakage across the train/valid/test split, the composed
  * IVF+residual-PQ search (FAISS's IVFADC — the architecture
  * billion-vector indexes actually run), moment-form polynomial-kernel
  * MMD² drift between sources, and Gumbel-key weighted
  * without-replacement sampling per source.
  */
object QueriesWave20 extends QueryModule {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  // ---- lsh_precision_audit: measured band-join precision ----

  /** MEASURED MinHash band-join precision: of the candidate pairs the
    * signature-collapsed band join emits, the share that survive exact
    * Jaccard verification at τ — `lsh_recall_audit` measures what the
    * bands MISS, this measures what they WASTE (every non-verified
    * candidate is a full shingle-set comparison thrown away, the direct
    * $ cost of banding too loose at 100 TB). Both counts are one
    * aggregate over already-memoized bounded frames; the result is a
    * 1-row literal checkpoint.
    */
  def lshPrecisionAuditQ(spark: SparkSession, dir: String): DataFrame = {
    val cand = SharedFrames.lshCand(spark, dir)
    val ver = QueriesText.lshPairs(spark, dir)
    Memo(spark, dir, "wave20:lshPrecRow") {
      import spark.implicits._
      cand.agg(count(lit(1)).as("n_cand"))
        .crossJoin(ver.agg(count(lit(1)).as("n_verified")))
        .select(col("n_cand"), col("n_verified"),
          when(col("n_cand") === 0, lit(1.0))
            .otherwise(col("n_verified").cast("double") /
              col("n_cand").cast("double")).as("band_precision"),
          (col("n_cand") - col("n_verified")).as("wasted_verifies"))
        .as[(Long, Long, Double, Long)].collect().toSeq
        .toDF("n_cand", "n_verified", "band_precision", "wasted_verifies")
    }
  }

  val lshPrecisionAuditSql: String =
    s"""WITH ${QueriesText.lshPairsCtes}
       |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_verified,
       |  CASE WHEN (SELECT COUNT(*) FROM cand) = 0 THEN 1.0
       |       ELSE CAST((SELECT COUNT(*) FROM pairs) AS DOUBLE)
       |         / CAST((SELECT COUNT(*) FROM cand) AS DOUBLE) END AS band_precision,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand)
       |    - (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS wasted_verifies""".stripMargin

  // ---- split_leak_audit: near-dup leakage across the train/test split ----

  /** Near-dup LEAKAGE across `train_split`'s md5 assignment: every
    * verified MinHash pair labeled with its two members' splits — a
    * train↔test near-dup pair is eval contamination the split itself
    * created (random splits leak whenever the corpus has near-dups;
    * this is the audit that says dedup must run BEFORE splitting). Per
    * unordered split pair: count + share of all verified pairs, with
    * the cross-split rows flagged. One map-side relabel of the memoized
    * pair frame + a ≤6-row aggregate.
    */
  def splitLeakAuditQ(spark: SparkSession, dir: String): DataFrame = {
    def splitOf(c: Column): Column = {
      val u = conv(substring(md5(concat(lit("split:"), c.cast("string"))), 1, 13),
        16, 10).cast("long")
      when(u < QueriesAnalytics.splitThresholds._1, "train")
        .when(u < QueriesAnalytics.splitThresholds._2, "valid")
        .otherwise("test")
    }
    val lab = QueriesText.lshPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"))
      .withColumn("__sa", splitOf(col("doc_a")))
      .withColumn("__sb", splitOf(col("doc_b")))
      .select(least(col("__sa"), col("__sb")).as("split_a"),
        greatest(col("__sa"), col("__sb")).as("split_b"))
    val tot = lab.agg(count(lit(1)).as("__t"))
    lab.groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(tot))
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        (col("split_a") =!= col("split_b")).as("leaky"),
        (col("n_pairs").cast("double") / col("__t").cast("double"))
          .as("pair_share"))
      .orderBy(col("split_a"), col("split_b"))
  }

  val splitLeakAuditSql: String = {
    val (t1, t2) = QueriesAnalytics.splitThresholds
    def splitOf(c: String): String =
      s"""CASE WHEN CAST(('0x' || substr(md5('split:' || CAST($c AS VARCHAR)), 1, 13)) AS BIGINT) < $t1 THEN 'train'
         |     WHEN CAST(('0x' || substr(md5('split:' || CAST($c AS VARCHAR)), 1, 13)) AS BIGINT) < $t2 THEN 'valid'
         |     ELSE 'test' END""".stripMargin
    s"""WITH ${QueriesText.lshPairsCtes},
       |lab AS (SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b
       |  FROM (SELECT ${splitOf("doc_a")} AS sa, ${splitOf("doc_b")} AS sb
       |        FROM pairs)),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM lab)
       |SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  split_a != split_b AS leaky,
       |  CAST(COUNT(*) AS DOUBLE) / CAST((SELECT t FROM tot) AS DOUBLE) AS pair_share
       |FROM lab GROUP BY 1, 2
       |ORDER BY split_a, split_b""".stripMargin
  }

  // ---- ivf_pq_adc: the composed coarse + residual-PQ search (IVFADC) ----

  /** Residual codebook slice: vec_ids [200, 208) — disjoint from the
    * coarse cells so codebook residuals are non-degenerate. */
  val ivfPqCbLo = 200L
  val ivfPqCbN = 8

  /** IVFADC — the composed index the separate legs build toward
    * (`embed_ivf_ann` = coarse cells, `embed_pq`/`pq_adc_topk` = PQ on
    * raw vectors): vectors are PQ-coded on their RESIDUAL to the
    * assigned coarse cell, and a probe ADC-scores only its nProbe
    * nearest cells via a per-(probe, cell) lookup table — candidates
    * ship nSub codes, never vectors, while residual coding keeps the
    * quantization error far below raw-vector PQ at the same code
    * budget (the reason FAISS's IVFADC is the billion-vector default).
    * All distances are exact integer L2 over the quantized grid
    * ([[graft.operators.Similarity.ivfPqAdc]]), so the oracle replays
    * the whole index bit-for-bit.
    */
  def ivfPqAdcQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val coarsePred = col("vec_id") >= QueriesText.ivfCentLo &&
      col("vec_id") < QueriesText.ivfCentLo + QueriesText.ivfNCent
    val cbPred = col("vec_id") >= ivfPqCbLo && col("vec_id") < ivfPqCbLo + ivfPqCbN
    // the residual codebook and the stored index are built ONCE per
    // (session, corpus) and shared — searches only pay the probe-side
    // LUT + one broadcast join, never an index-artifact rebuild
    val codebook = Memo(spark, dir, "wave20:ivfPqCodebook")(
      Similarity.ivfPqCodebook(Tables(spark, dir, "embeddings"),
        coarsePred, cbPred))
    val index = Memo(spark, dir, "wave20:ivfPqIndex")(
      Similarity.ivfPqIndex(Tables(spark, dir, "embeddings"),
        coarsePred, codebook, QueriesText.pqNSub))
    Similarity.ivfPqAdc(Tables(spark, dir, "embeddings"), index,
      col("vec_id") < QueriesText.probeMax, coarsePred, codebook,
      QueriesText.pqNSub, QueriesText.ivfNProbe, QueriesText.topK)
      .orderBy(col("probe_id"), col("rnk"))
  }

  val ivfPqAdcSql: String = {
    val (cLo, cHi) = (QueriesText.ivfCentLo, QueriesText.ivfCentLo + QueriesText.ivfNCent)
    val (kLo, kHi) = (ivfPqCbLo, ivfPqCbLo + ivfPqCbN)
    val nSub = QueriesText.pqNSub
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |coarse AS (SELECT vec_id AS cent_id, qv AS ccv FROM q
       |           WHERE vec_id >= $cLo AND vec_id < $cHi),
       |aex AS (SELECT v.vec_id, c.cent_id, v.qv, c.ccv,
       |               unnest(range(1, len(v.qv) + 1)) AS i
       |        FROM q v, coarse c),
       |ad2 AS (SELECT vec_id, cent_id,
       |          CAST(SUM((qv[i] - ccv[i]) * (qv[i] - ccv[i])) AS BIGINT) AS d2
       |        FROM aex GROUP BY 1, 2),
       |assign AS (SELECT vec_id, cent_id AS list_id FROM (
       |             SELECT vec_id, cent_id,
       |               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
       |             FROM ad2) WHERE rn = 1),
       |res AS (SELECT a.vec_id, a.list_id,
       |          list_transform(range(1, len(v.qv) + 1), i -> v.qv[i] - c.ccv[i]) AS rv
       |        FROM assign a
       |        JOIN q v ON v.vec_id = a.vec_id
       |        JOIN coarse c ON c.cent_id = a.list_id),
       |cb AS (SELECT vec_id AS code, rv AS kv FROM res
       |       WHERE vec_id >= $kLo AND vec_id < $kHi),
       |eex AS (SELECT r.vec_id, r.list_id, k.code, ms.m, r.rv, k.kv,
       |          CAST(FLOOR(len(r.rv) / $nSub.0) AS BIGINT) AS w,
       |          unnest(range(1, CAST(FLOOR(len(r.rv) / $nSub.0) AS BIGINT) + 1)) AS i
       |        FROM res r, cb k, (SELECT unnest(range(0, $nSub)) AS m) ms),
       |ed2 AS (SELECT vec_id, list_id, code, m,
       |          CAST(SUM((rv[m*w+i] - kv[m*w+i]) * (rv[m*w+i] - kv[m*w+i])) AS BIGINT) AS d2
       |        FROM eex GROUP BY 1, 2, 3, 4),
       |codes AS (SELECT vec_id AS cand_id, list_id, m, code FROM (
       |            SELECT vec_id, list_id, m, code,
       |              ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn
       |            FROM ed2) WHERE rn = 1),
       |plist AS (SELECT vec_id AS probe_id, cent_id AS list_id FROM (
       |            SELECT vec_id, cent_id,
       |              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
       |            FROM ad2 WHERE vec_id < ${QueriesText.probeMax})
       |          WHERE rn <= ${QueriesText.ivfNProbe}),
       |pres AS (SELECT p.probe_id, p.list_id,
       |           list_transform(range(1, len(v.qv) + 1), i -> v.qv[i] - c.ccv[i]) AS rv
       |         FROM plist p
       |         JOIN q v ON v.vec_id = p.probe_id
       |         JOIN coarse c ON c.cent_id = p.list_id),
       |lex AS (SELECT p.probe_id, p.list_id, k.code, ms.m, p.rv, k.kv,
       |          CAST(FLOOR(len(p.rv) / $nSub.0) AS BIGINT) AS w,
       |          unnest(range(1, CAST(FLOOR(len(p.rv) / $nSub.0) AS BIGINT) + 1)) AS i
       |        FROM pres p, cb k, (SELECT unnest(range(0, $nSub)) AS m) ms),
       |lut AS (SELECT probe_id, list_id, m, code,
       |          CAST(SUM((rv[m*w+i] - kv[m*w+i]) * (rv[m*w+i] - kv[m*w+i])) AS BIGINT) AS d2
       |        FROM lex GROUP BY 1, 2, 3, 4),
       |adc AS (SELECT l.probe_id, c.cand_id, CAST(SUM(l.d2) AS BIGINT) AS adc
       |        FROM codes c
       |        JOIN lut l ON l.list_id = c.list_id AND l.m = c.m AND l.code = c.code
       |        WHERE c.cand_id != l.probe_id
       |        GROUP BY 1, 2)
       |SELECT probe_id, CAST(rnk AS INT) AS rnk, cand_id, adc FROM (
       |  SELECT probe_id, cand_id, adc,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adc, cand_id) AS rnk
       |  FROM adc)
       |WHERE rnk <= ${QueriesText.topK}
       |ORDER BY probe_id, rnk""".stripMargin
  }

  // ---- mmd_drift: polynomial-kernel MMD² between sources, moment form ----

  /** Quantization grid for the quality score (1e-3) and the kernel
    * constant: k(a, b) = ((C + ab) / C)² with C = grid² — degree-2
    * polynomial kernel, so MMD² collapses to exact integer MOMENTS
    * (S1, S2, S4 per group) instead of any pairwise stage. */
  val mmdC = 1000000L

  /** Distribution drift between every source pair as the squared
    * maximum mean discrepancy under the degree-2 polynomial kernel —
    * the kernel two-sample statistic `jsd_drift`/`psi_drift` (which
    * bin) and `ks_test` (which sort) can't give without binning or
    * ordering. The polynomial kernel makes the V-statistic a CLOSED
    * FORM of per-group moments: ΣΣ_{i≠j}(C+ab)² = n(n−1)C² +
    * 2C(S1²−S2) + (S2²−S4) within groups, and nm C² + 2C S1S1' + S2S2'
    * across — so 100 TB of documents reduce to one keyed aggregate of
    * four integer moments per source, then a ≤|sources|²-row pair
    * frame. All moments are exact integers (scores on the 1e-3 grid);
    * one fixed-order double division chain at the end.
    */
  /** Per-source exact integer moments of the 1e-3-grid quality score
    * (n, S1, S2, S4) — one keyed aggregate memoized for the session;
    * shared by `mmd_drift` and Wave22's jackknife. */
  private[graft] def srcScoreMoments(spark: SparkSession, dir: String): DataFrame = {
    Memo(spark, dir, "wave20:srcScoreMoments")(
      QueriesText.quality(spark, dir)
        .select(col("doc_id"),
          expr("CAST(round(1e3 * score) AS BIGINT)").as("s3"))
        .join(QueriesText.toks(spark, dir).select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("s3")).as("s1"),
          sum(col("s3") * col("s3")).as("s2"),
          sum(dec(col("s3") * col("s3")) * dec(col("s3") * col("s3"))).as("s4")))
  }

  /** The same moment table as portable CTEs (`w`…, `scored`, `mom`). */
  private[graft] val srcScoreMomentsCte: String =
    s"""${QueriesText.wordsCte},
       |scored AS (
       |  SELECT w.doc_id, d.source,
       |    CAST(round(1e3 * (${QueriesText.scoreSqlExpr})) AS BIGINT) AS s3
       |  FROM w JOIN documents d USING (doc_id)),
       |mom AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(s3) AS BIGINT) AS s1,
       |    CAST(SUM(s3 * s3) AS BIGINT) AS s2,
       |    CAST(SUM(CAST(s3 * s3 AS HUGEINT) * (s3 * s3)) AS HUGEINT) AS s4
       |  FROM scored GROUP BY 1)""".stripMargin

  def mmdDriftQ(spark: SparkSession, dir: String): DataFrame = {
    val mom = srcScoreMoments(spark, dir)
    def within(n: Column, s1: Column, s2: Column, s4: Column): Column =
      dec(n) * dec(n - 1) * dec(lit(mmdC * mmdC)) +
        dec(lit(2L * mmdC)) * (dec(s1) * dec(s1) - dec(s2)) +
        (dec(s2) * dec(s2) - s4)
    // A singleton source has no within-group pair, so its n(n−1)
    // denominator is 0 → NaN mmd2 for every pair involving it; the
    // unbiased statistic is undefined there, so those sources are
    // excluded from pair enumeration (mirrored in the SQL oracle).
    val multi = mom.filter(col("n") > 1)
    val a = multi.select(col("source").as("src_a"), col("n").as("na"),
      col("s1").as("s1a"), col("s2").as("s2a"), col("s4").as("s4a"))
    val b = multi.select(col("source").as("src_b"), col("n").as("nb"),
      col("s1").as("s1b"), col("s2").as("s2b"), col("s4").as("s4b"))
    a.join(b, col("src_a") < col("src_b"))
      .withColumn("__wa", within(col("na"), col("s1a"), col("s2a"), col("s4a")))
      .withColumn("__wb", within(col("nb"), col("s1b"), col("s2b"), col("s4b")))
      .withColumn("__cr",
        dec(col("na")) * dec(col("nb")) * dec(lit(mmdC * mmdC)) +
          dec(lit(2L * mmdC)) * dec(col("s1a")) * dec(col("s1b")) +
          dec(col("s2a")) * dec(col("s2b")))
      .select(col("src_a"), col("src_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        (col("__wa").cast("double") /
          (col("na") * (col("na") - 1)).cast("double") / lit(1e12) +
          col("__wb").cast("double") /
            (col("nb") * (col("nb") - 1)).cast("double") / lit(1e12) -
          lit(2.0) * (col("__cr").cast("double") /
            (col("na") * col("nb")).cast("double") / lit(1e12))).as("mmd2"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val mmdDriftSql: String = {
    val c2 = mmdC * mmdC
    val twoC = 2L * mmdC
    s"""WITH $srcScoreMomentsCte,
       |p AS (SELECT a.source AS src_a, b.source AS src_b,
       |    a.n AS na, a.s1 AS s1a, a.s2 AS s2a, a.s4 AS s4a,
       |    b.n AS nb, b.s1 AS s1b, b.s2 AS s2b, b.s4 AS s4b
       |  FROM mom a JOIN mom b ON a.source < b.source
       |  WHERE a.n > 1 AND b.n > 1),
       |w2 AS (SELECT src_a, src_b, na, nb,
       |    CAST(na AS HUGEINT) * (na - 1) * $c2
       |      + $twoC * (CAST(s1a AS HUGEINT) * s1a - s2a)
       |      + (CAST(s2a AS HUGEINT) * s2a - s4a) AS wa,
       |    CAST(nb AS HUGEINT) * (nb - 1) * $c2
       |      + $twoC * (CAST(s1b AS HUGEINT) * s1b - s2b)
       |      + (CAST(s2b AS HUGEINT) * s2b - s4b) AS wb,
       |    CAST(na AS HUGEINT) * nb * $c2
       |      + $twoC * CAST(s1a AS HUGEINT) * s1b
       |      + CAST(s2a AS HUGEINT) * s2b AS cr
       |  FROM p)
       |SELECT src_a, src_b, na AS n_a, nb AS n_b,
       |  CAST(wa AS DOUBLE) / CAST(na * (na - 1) AS DOUBLE) / 1e12
       |    + CAST(wb AS DOUBLE) / CAST(nb * (nb - 1) AS DOUBLE) / 1e12
       |    - 2.0 * (CAST(cr AS DOUBLE) / CAST(na * nb AS DOUBLE) / 1e12) AS mmd2
       |FROM w2 ORDER BY src_a, src_b""".stripMargin
  }

  // ---- gumbel_topk_sample: weighted without-replacement per-source sample ----

  val gumbelK = 10

  /** Weighted WITHOUT-REPLACEMENT top-k sample per source (the
    * char-count-proportional pick a data-mixing pipeline draws):
    * Efraimidis–Spirakis keys — rank by ln(u)/w descending, u a
    * per-doc md5 uniform — make the k winners exactly a sequential
    * weighted draw without replacement, with zero coordination (any
    * executor computes any doc's key locally) and no rejection loop.
    * ln(u) is pinned to the 1e-6 grid (the one libm call), then the
    * key is a single IEEE division of identical integers in both
    * engines; selection runs through [[graft.operators.Layout
    * .groupedTopK]], so no source ever funnels through a one-task
    * sort. `join_sample` uses the k=1 form of the same trick per key;
    * this is the per-group top-k generalization.
    */
  def gumbelTopkSampleQ(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables(spark, dir, "documents")
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("__h",
        conv(substring(md5(concat(lit("gk:"), col("doc_id").cast("string"))), 1, 13),
          16, 10).cast("long"))
      .withColumn("__lnu6", expr(
        "CAST(round(1e6 * ln((CAST(__h AS DOUBLE) + 0.5) / 4503599627370496.0)) AS BIGINT)"))
      .withColumn("gumbel_key",
        col("__lnu6").cast("double") / col("n_chars").cast("double"))
    graft.operators.Layout
      .groupedTopK(keyed, Seq("source"),
        Seq(col("gumbel_key").desc, col("doc_id")), gumbelK, "rnk")
      .select(col("source"), col("rnk"), col("doc_id"), col("n_chars"),
        col("gumbel_key"))
      .orderBy(col("source"), col("rnk"))
  }

  val gumbelTopkSampleSql: String =
    s"""WITH keyed AS (
       |  SELECT doc_id, source, n_chars,
       |    CAST(round(1e6 * ln((CAST(CAST(('0x' || substr(md5('gk:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS DOUBLE) + 0.5) / 4503599627370496.0)) AS BIGINT) AS lnu6
       |  FROM documents WHERE n_chars > 0)
       |SELECT source, CAST(rnk AS INT) AS rnk, doc_id, n_chars,
       |  CAST(lnu6 AS DOUBLE) / CAST(n_chars AS DOUBLE) AS gumbel_key
       |FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
       |    ORDER BY CAST(lnu6 AS DOUBLE) / CAST(n_chars AS DOUBLE) DESC, doc_id) AS rnk
       |  FROM keyed)
       |WHERE rnk <= $gumbelK
       |ORDER BY source, rnk""".stripMargin

  // ---- registry ----

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lsh_precision_audit" -> (lshPrecisionAuditQ _),
    "split_leak_audit" -> (splitLeakAuditQ _),
    "ivf_pq_adc" -> (ivfPqAdcQ _),
    "mmd_drift" -> (mmdDriftQ _),
    "gumbel_topk_sample" -> (gumbelTopkSampleQ _)
  )

  def oracleSql: Map[String, String] = Map(
    "lsh_precision_audit" -> lshPrecisionAuditSql,
    "split_leak_audit" -> splitLeakAuditSql,
    "ivf_pq_adc" -> ivfPqAdcSql,
    "mmd_drift" -> mmdDriftSql,
    "gumbel_topk_sample" -> gumbelTopkSampleSql
  )
}
