package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12 wave 30: multilingual-corpus prep — margin-based bitext
  * mining over the embedding cloud (the parallel-pair selection step
  * of translation-data pipelines), run through the IVF index like
  * every other similarity leg.
  */
object QueriesWave30 extends QueryModule {

  /** Margin kNN depth (the k of the Artetxe–Schwenk margin score). */
  val bmK = 4

  /** Margin acceptance threshold as an exact rational τ = 6/5: on the
    * near-orthogonal synthetic embeddings mined-pair margins span
    * ≈ 0.98–2.2, so 1.2 splits the output non-trivially at every test
    * scale (real bitext mining runs τ ≈ 1.06 on LASER embeddings —
    * same dial, corpus-calibrated). */
  val bmTauNum = 6L
  val bmTauDen = 5L

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, the
    * margin-ratio criterion production parallel-corpus pipelines use):
    * treat label 0 as the source side and label 1 as the target side
    * of the embedding table; for every source vector, the nearest
    * target among its IVF-probed cells (forward mining), scored by
    * margin = cos(x, y) / ((avgK(x) + avgK(y)) / 2) where avgK is the
    * mean of each side's top-k retrieved cosines — the ratio that
    * separates genuine translations from hubs that are merely close
    * to everything. Accepted ⟺ margin ≥ τ, evaluated as the EXACT
    * integer predicate 2·τden·cos6·kx·ky ≥ τnum·(sx·ky + sy·kx) (sums
    * of 1e-6-grid cosines, so the verdict cannot float-drift) — the
    * cross-multiplied form flips sign when the mean-top-k denominator
    * is ≤ 0, so acceptance additionally requires sx·ky + sy·kx > 0
    * (kx, ky > 0 always): with a non-positive denominator the margin
    * ratio is meaningless and the pair is rejected, keeping the
    * `accepted` bit and the reported `margin` double mutually
    * consistent on adversarial/negative-cosine clouds. When the mined
    * target's own probed neighborhood retrieved no source-side vector
    * (sB absent after the left join), the margin falls back to the
    * FORWARD-ONLY form (sy := sx, ky := kx) rather than force-reject:
    * Artetxe–Schwenk always scores both neighborhoods, and the
    * nearest-neighbor's missing reverse view is an artifact of the
    * probe budget, not evidence against the pair. The reported margin
    * itself is one fixed-order double chain. Pair
    * work is probes × probed-cell population on BOTH directions
    * (the hard_negatives cell-bounded discipline — never side A ×
    * side B), candidates ride the shared memoized [[QueriesWave26
    * .ivfAcos]]/[[QueriesWave26.ivfAssign]] frames, and the oracle
    * replays cell assignment, top-k sums, argmax, and the margin
    * predicate bit-for-bit.
    */
  def bitextMineQ(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "wave30:bitext") {
      import org.apache.spark.sql.expressions.Window
      val assign = QueriesWave26.ivfAssign(spark, dir)
      def side(probeLabel: Int, candLabel: Int): DataFrame =
        QueriesWave26.ivfProbes(spark, dir, col("label") === probeLabel)
          .select(col("vec_id").as("vp"), col("qv").as("qp"),
            col("nn").as("np"), col("list_id"))
          .join(assign.filter(col("label") === candLabel)
            .select(col("vec_id").as("vc"), col("qv").as("qc"),
              col("nn").as("nc"), col("list_id")), Seq("list_id"))
          .withColumn("cos6", expr(
            """CAST(round(1e6 * (CAST(quantized_dot(qp, qc) AS DOUBLE)
              | / sqrt(CAST(np AS DOUBLE)) / sqrt(CAST(nc AS DOUBLE)))) AS BIGINT)"""
              .stripMargin))
          .select(col("vp"), col("vc"), col("cos6"))
      val ab = side(0, 1) // forward: source probes, target candidates
      val ba = side(1, 0) // reverse: target probes, source candidates
      def topkSum(df: DataFrame, key: String, other: String): DataFrame =
        df.withColumn("__rn", row_number().over(
            Window.partitionBy(col(key)).orderBy(col("cos6").desc, col(other))))
          .filter(col("__rn") <= bmK)
          .groupBy(col(key))
          .agg(sum(col("cos6")).as(s"s_$key"), count(lit(1)).as(s"k_$key"))
      val sA = topkSum(ab, "vp", "vc")
        .select(col("vp").as("va"), col("s_vp").as("sx"), col("k_vp").as("kx"))
      val sB = topkSum(ba, "vp", "vc")
        .select(col("vp").as("vb"), col("s_vp").as("sy"), col("k_vp").as("ky"))
      val best = ab
        .groupBy(col("vp").as("va"))
        .agg(max_by(struct(col("vc"), col("cos6")),
          struct(col("cos6"), -col("vc"))).as("__b"))
        .select(col("va"), col("__b.vc").as("vb"), col("__b.cos6").as("cos6"))
      best
        .join(sA, Seq("va"))
        .join(sB, Seq("vb"), "left")
        // forward-only fallback when the reverse neighborhood is empty
        .withColumn("sy2", coalesce(col("sy"), col("sx")))
        .withColumn("ky2", coalesce(col("ky"), col("kx")))
        .select(col("va"), col("vb"), col("cos6"),
          (lit(2.0) * col("cos6").cast("double") /
            (col("sx").cast("double") / col("kx").cast("double") +
              col("sy2").cast("double") / col("ky2").cast("double"))).as("margin"),
          (col("sx") * col("ky2") + col("sy2") * col("kx") > 0 &&
            lit(2L * bmTauDen) * col("cos6") * col("kx") * col("ky2") >=
              lit(bmTauNum) * (col("sx") * col("ky2") + col("sy2") * col("kx")))
            .as("accepted"))
    }.orderBy(col("va"))

  val bitextMineSql: String =
    s"""WITH ${QueriesWave6.knnQuantCte},
       |${QueriesWave26.ivfAcosCtes},
       |assign AS (SELECT q.vec_id, q.label, z.list_id FROM (
       |  SELECT vec_id, cent_id AS list_id,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
       |  FROM acos) z JOIN q ON q.vec_id = z.vec_id WHERE rn = 1),
       |plist AS (SELECT z.vec_id, q.label, z.list_id FROM (
       |  SELECT vec_id, cent_id AS list_id,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
       |  FROM acos) z JOIN q ON q.vec_id = z.vec_id
       |  WHERE rn <= ${QueriesText.ivfNProbe}),
       |pairsAB AS (SELECT p.vec_id AS va, b.vec_id AS vb
       |  FROM plist p JOIN assign b ON b.list_id = p.list_id AND b.label = 1
       |  WHERE p.label = 0 GROUP BY 1, 2),
       |pairsBA AS (SELECT a.vec_id AS va, p.vec_id AS vb
       |  FROM plist p JOIN assign a ON a.list_id = p.list_id AND a.label = 0
       |  WHERE p.label = 1 GROUP BY 1, 2),
       |allp AS (SELECT va, vb FROM pairsAB UNION SELECT va, vb FROM pairsBA),
       |pex AS (SELECT p.va, p.vb, qa.qv AS qva, qb.qv AS qvb,
       |    unnest(range(1, len(qa.qv) + 1)) AS i
       |  FROM allp p JOIN q qa ON qa.vec_id = p.va JOIN q qb ON qb.vec_id = p.vb),
       |dots AS MATERIALIZED (SELECT va, vb, CAST(SUM(qva[i] * qvb[i]) AS BIGINT) AS dot
       |  FROM pex GROUP BY 1, 2),
       |cs AS (SELECT d.va, d.vb,
       |    CAST(round(1e6 * (CAST(d.dot AS DOUBLE)
       |      / sqrt(CAST(na.nn AS DOUBLE)) / sqrt(CAST(nb.nn AS DOUBLE)))) AS BIGINT) AS cos6
       |  FROM dots d JOIN norms na ON na.vec_id = d.va JOIN norms nb ON nb.vec_id = d.vb),
       |csAB AS (SELECT c.* FROM cs c JOIN pairsAB p ON p.va = c.va AND p.vb = c.vb),
       |csBA AS (SELECT c.* FROM cs c JOIN pairsBA p ON p.va = c.va AND p.vb = c.vb),
       |sA AS (SELECT va AS sa_va, CAST(SUM(cos6) AS BIGINT) AS sx,
       |    CAST(COUNT(*) AS BIGINT) AS kx FROM (
       |  SELECT va, cos6, ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos6 DESC, vb) AS rn
       |  FROM csAB) WHERE rn <= $bmK GROUP BY 1),
       |sB AS (SELECT vb AS sb_vb, CAST(SUM(cos6) AS BIGINT) AS sy,
       |    CAST(COUNT(*) AS BIGINT) AS ky FROM (
       |  SELECT vb, cos6, ROW_NUMBER() OVER (PARTITION BY vb ORDER BY cos6 DESC, va) AS rn
       |  FROM csBA) WHERE rn <= $bmK GROUP BY 1),
       |best AS (SELECT va, vb, cos6 FROM (
       |  SELECT va, vb, cos6, ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos6 DESC, vb) AS rn
       |  FROM csAB) WHERE rn = 1)
       |, scored AS (SELECT b.va, b.vb, b.cos6, sA.sx, sA.kx,
       |    COALESCE(sB.sy, sA.sx) AS sy2, COALESCE(sB.ky, sA.kx) AS ky2
       |  FROM best b JOIN sA ON sA.sa_va = b.va LEFT JOIN sB ON sB.sb_vb = b.vb)
       |SELECT va, vb, cos6,
       |  2.0 * CAST(cos6 AS DOUBLE)
       |    / (CAST(sx AS DOUBLE) / CAST(kx AS DOUBLE)
       |       + CAST(sy2 AS DOUBLE) / CAST(ky2 AS DOUBLE)) AS margin,
       |  (sx * ky2 + sy2 * kx > 0 AND ${2 * bmTauDen} * cos6 * kx * ky2 >=
       |    $bmTauNum * (sx * ky2 + sy2 * kx)) AS accepted
       |FROM scored
       |ORDER BY va""".stripMargin

  // ---- bitext_recall: probed mining vs brute-force truth ----

  /** Eval-sample COUNT: the brute-force truth side of
    * [[bitextRecallQ]] is computed for a fixed-size md5-seeded sample
    * of source vectors (the reference's `--eval-sample-size`
    * discipline — a fixed COUNT, not a fraction, so the eval budget is
    * genuinely constant at 100 TB: sample × targets, never
    * (sources/k) × targets). The seed is the md5 of `btr:<vec_id>`
    * used as a deterministic shuffle key — take the [[bmEvalN]]
    * smallest (a per-partition top-N + driver merge, no global sort) —
    * replayed bit-for-bit by the oracle, so both engines measure the
    * identical sample. */
  val bmEvalN = 256

  /** The fixed-count md5-seeded eval sample of source vectors (also
    * the frame PairGrowthAuditSpec measures): `vec_id`s of the
    * [[bmEvalN]] smallest seeded keys among label-0 vectors. */
  private[graft] def bmEvalSources(q: DataFrame): DataFrame =
    q.filter(col("label") === 0)
      .select(col("vec_id"),
        md5(concat(lit("btr:"), col("vec_id").cast("string"))).as("__k"))
      .orderBy(col("__k"), col("vec_id")).limit(bmEvalN)
      .select(col("vec_id"))

  private val bmEvalSampleCte =
    s"""__btr_sample AS (SELECT vec_id FROM q WHERE label = 0
       |  ORDER BY md5('btr:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT $bmEvalN)""".stripMargin

  private val bmEvalSampledSql =
    "a.vec_id IN (SELECT vec_id FROM __btr_sample)"

  /** The eval loop of the bitext leg (the `ann_recall` discipline
    * applied to mining): for every SAMPLED source vector ([[bmEvalMod]]
    * — the probe side is an md5-seeded sample, the reference's
    * `--eval-sample-size` discipline) the IVF-probed search mined a
    * target for, the BRUTE-FORCE best target over the whole
    * target side — same exact cosine grid, same (cos desc, lower id)
    * tie-break — plus whether the probed search found it. The
    * brute-force side is the documented ground-truth leg (the
    * `embed_cosine_topk` role): linear in the target side per sampled
    * probe — a FIXED eval budget at 100 TB, not a quadratic — run
    * exactly to MEASURE the probe budget's recall, never as
    * the production path. Itemized per source vector so a recall
    * regression is visible per row, not hidden in an average.
    */
  def bitextRecallQ(spark: SparkSession, dir: String): DataFrame = {
    val q = QueriesWave6.knnQuantized(spark, dir)
    val bf = q.filter(col("label") === 0)
      .join(broadcast(bmEvalSources(q)), Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("va"), col("qv").as("qa"), col("nn").as("na"))
      .crossJoin(q.filter(col("label") === 1)
        .select(col("vec_id").as("vc"), col("qv").as("qc"), col("nn").as("nc")))
      .withColumn("cos6", expr(
        """CAST(round(1e6 * (CAST(quantized_dot(qa, qc) AS DOUBLE)
          | / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nc AS DOUBLE)))) AS BIGINT)"""
          .stripMargin))
      .groupBy(col("va"))
      .agg(max_by(struct(col("vc"), col("cos6")),
        struct(col("cos6"), -col("vc"))).as("__b"))
      .select(col("va"), col("__b.vc").as("vb_true"),
        col("__b.cos6").as("cos6_true"))
    bitextMineQ(spark, dir)
      .select(col("va"), col("vb").as("vb_mined"), col("cos6").as("cos6_mined"))
      .join(bf, Seq("va"))
      .select(col("va"), col("vb_mined"), col("cos6_mined"),
        col("vb_true"), col("cos6_true"),
        (col("vb_mined") === col("vb_true")).as("hit"))
      .orderBy(col("va"))
  }

  val bitextRecallSql: String =
    s"""WITH ${QueriesWave6.knnQuantCte},
       |${QueriesWave26.ivfAcosCtes},
       |assign AS (SELECT q.vec_id, q.label, z.list_id FROM (
       |  SELECT vec_id, cent_id AS list_id,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
       |  FROM acos) z JOIN q ON q.vec_id = z.vec_id WHERE rn = 1),
       |plist AS (SELECT z.vec_id, q.label, z.list_id FROM (
       |  SELECT vec_id, cent_id AS list_id,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
       |  FROM acos) z JOIN q ON q.vec_id = z.vec_id
       |  WHERE rn <= ${QueriesText.ivfNProbe}),
       |pairsAB AS (SELECT p.vec_id AS va, b.vec_id AS vb
       |  FROM plist p JOIN assign b ON b.list_id = p.list_id AND b.label = 1
       |  WHERE p.label = 0 GROUP BY 1, 2),
       |$bmEvalSampleCte,
       |bfp AS (SELECT a.vec_id AS va, b.vec_id AS vb, a.qv AS qva, b.qv AS qvb
       |  FROM q a JOIN q b ON a.label = 0 AND b.label = 1
       |  WHERE $bmEvalSampledSql),
       |bex AS (SELECT va, vb, qva, qvb, unnest(range(1, len(qva) + 1)) AS i FROM bfp),
       |bdots AS MATERIALIZED (SELECT va, vb, CAST(SUM(qva[i] * qvb[i]) AS BIGINT) AS dot
       |  FROM bex GROUP BY 1, 2),
       |bcs AS (SELECT d.va, d.vb,
       |    CAST(round(1e6 * (CAST(d.dot AS DOUBLE)
       |      / sqrt(CAST(na.nn AS DOUBLE)) / sqrt(CAST(nb.nn AS DOUBLE)))) AS BIGINT) AS cos6
       |  FROM bdots d JOIN norms na ON na.vec_id = d.va JOIN norms nb ON nb.vec_id = d.vb),
       |bbest AS (SELECT va, vb AS vb_true, cos6 AS cos6_true FROM (
       |  SELECT va, vb, cos6, ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos6 DESC, vb) AS rn
       |  FROM bcs) WHERE rn = 1),
       |mcs AS (SELECT c.* FROM bcs c JOIN pairsAB p ON p.va = c.va AND p.vb = c.vb),
       |mbest AS (SELECT va, vb AS vb_mined, cos6 AS cos6_mined FROM (
       |  SELECT va, vb, cos6, ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos6 DESC, vb) AS rn
       |  FROM mcs) WHERE rn = 1)
       |SELECT m.va, m.vb_mined, m.cos6_mined, b.vb_true, b.cos6_true,
       |  m.vb_mined = b.vb_true AS hit
       |FROM mbest m JOIN bbest b ON b.va = m.va
       |ORDER BY m.va""".stripMargin

  // ---- bradley_terry: pairwise-preference strength fit (RLHF prep) ----

  /** MM iterations (Hunter 2004) — quantized, so both engines replay
    * the identical trajectory. */
  val btIters = 20

  /** Strength floor on the 1e-6 grid (keeps the update's divisions
    * away from zero for sources that lose every comparison). */
  val btMin6 = 1000L

  /** Per-ordered-source-pair win counts from document-quality
    * comparisons: wins(a, b) = #{(i ∈ a, j ∈ b) : v_i > v_j} on the
    * 1e-3 score grid (ties contribute to neither side). Computed from
    * per-source score HISTOGRAMS — one doc scan, then histogram ×
    * cumulative-histogram algebra bounded by sources × grid values,
    * never a doc × doc pair join (the pairwise-preference matrix of a
    * 100 TB corpus reduces to the same bounded product). */
  private def btWins(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "wave30:btWins") {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(spark, dir, "documents")
        .select(col("doc_id"), col("source"))
      val hist = QueriesWave10.scoredDocs(spark, dir)
        .join(docs, "doc_id")
        .select(col("source"), expr("s6 DIV 1000").as("v"))
        .groupBy(col("source"), col("v"))
        .agg(count(lit(1)).as("cnt"))
      val vals = hist.select(col("v")).distinct()
      val srcs = docs.select(col("source")).distinct()
      // exclusive running count of b-docs strictly below each grid
      // value, materialized on the full (source × distinct-value)
      // skeleton so a-values absent from b's histogram still resolve
      val skel = srcs.crossJoin(vals)
        .join(hist, Seq("source", "v"), "left")
        .select(col("source"), col("v"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      val cum = skel.withColumn("cum",
        coalesce(sum(col("cnt")).over(
          Window.partitionBy(col("source")).orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      hist.select(col("source").as("a"), col("v"), col("cnt"))
        .join(cum.select(col("source").as("b"), col("v"), col("cum")), Seq("v"))
        .filter(col("a") =!= col("b"))
        .groupBy(col("a"), col("b"))
        .agg(sum(col("cnt") * col("cum")).as("wins"))
    }

  /** Bradley–Terry preference-strength fit over the sources — the
    * reward-model data-prep primitive (which corpus slice "wins"
    * head-to-head quality comparisons, as ONE consistent strength
    * scale rather than #sources² pairwise rates): outcomes are the
    * histogram-derived win counts of [[btWins]]; strengths come from
    * [[btIters]] minorize-maximize iterations s_a ← W_a / Σ_b
    * n_ab/(s_a+s_b) (Hunter 2004), QUANTIZED — every per-pair term and
    * every updated strength is rounded onto an integer grid through
    * one fixed-order double chain, so all cross-term SUMS are exact
    * integers and the whole trajectory is engine-replayable (sums of
    * doubles never cross the hash). The iteration runs on the
    * collected ≤ #sources² matrix (a documented bounded literal
    * checkpoint, like the NAR combo tables); per-iteration
    * normalization pins Σ strengths = #sources, floor [[btMin6]].
    */
  def bradleyTerryQ(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "wave30:bt") {
      import spark.implicits._
      val w = btWins(spark, dir)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val sources = Tables(spark, dir, "documents")
        .select(col("source")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val wins = w.map(t => (t._1, t._2) -> t._3).toMap
      def winsOf(a: String, b: String): Long = wins.getOrElse((a, b), 0L)
      val games = (for (a <- sources; b <- sources if a != b)
        yield (a, b) -> (winsOf(a, b) + winsOf(b, a))).toMap
      val wTot = sources.map(a => a -> sources.filter(_ != a).map(winsOf(a, _)).sum).toMap
      val target = sources.length * 1000000L
      var s6 = sources.map(_ -> 1000000L).toMap
      for (_ <- 1 to btIters) {
        val raw = sources.map { a =>
          // exact-integer term sum: each term rounded onto the 1e-12
          // grid through the same fixed-order chain the oracle runs
          val den = sources.filter(_ != a).map { b =>
            math.round(games((a, b)).toDouble / (s6(a) + s6(b)).toDouble * 1e12)
          }.sum
          a -> math.round(wTot(a).toDouble / math.max(den, 1L).toDouble * 1e12)
        }.toMap
        val tot = math.max(raw.values.sum, 1L)
        s6 = sources.map { a =>
          a -> math.max(
            math.round(raw(a).toDouble / tot.toDouble * target.toDouble), btMin6)
        }.toMap
      }
      sources.map { a =>
        (a, wTot(a), sources.filter(_ != a).map(b => games((a, b))).sum,
          s6(a), s6(a).toDouble / 1e6)
      }.toDF("source", "wins", "games", "strength6", "strength")
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("strength6").desc, col("source"))))
    }.orderBy(col("source"))

  val bradleyTerrySql: String = {
    val iters = (1 to btIters).map { t =>
      s"""term$t AS MATERIALIZED (SELECT m.a, CAST(round(CAST(m.n AS DOUBLE)
         |    / CAST(ia.s6 + ib.s6 AS DOUBLE) * 1e12) AS BIGINT) AS t6
         |  FROM games m
         |  JOIN it${t - 1} ia ON ia.a = m.a
         |  JOIN it${t - 1} ib ON ib.a = m.b),
         |raw$t AS MATERIALIZED (SELECT i.a, CAST(round(CAST(COALESCE(w.w, 0) AS DOUBLE)
         |    / CAST(GREATEST(COALESCE(t.st, 0), 1) AS DOUBLE) * 1e12) AS BIGINT) AS s
         |  FROM it${t - 1} i
         |  LEFT JOIN (SELECT a, CAST(SUM(t6) AS BIGINT) AS st FROM term$t GROUP BY 1) t
         |    ON t.a = i.a
         |  LEFT JOIN wtot w ON w.a = i.a),
         |it$t AS MATERIALIZED (SELECT r.a, GREATEST(CAST(round(CAST(r.s AS DOUBLE)
         |    / CAST(GREATEST(tt.st, 1) AS DOUBLE)
         |    * CAST(ns.n * 1000000 AS DOUBLE)) AS BIGINT), $btMin6) AS s6
         |  FROM raw$t r,
         |    (SELECT CAST(SUM(s) AS BIGINT) AS st FROM raw$t) tt,
         |    (SELECT COUNT(*) AS n FROM srcs) ns)""".stripMargin
    }
    s"""WITH ${QueriesWave10.scoredCteSql},
       |hist AS MATERIALIZED (SELECT d.source, s.s6 // 1000 AS v, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM scored s JOIN documents d USING (doc_id) GROUP BY 1, 2),
       |vals AS (SELECT DISTINCT v FROM hist),
       |srcs AS MATERIALIZED (SELECT DISTINCT source FROM documents),
       |skel AS (SELECT s.source, vv.v, COALESCE(h.cnt, 0) AS cnt
       |  FROM srcs s CROSS JOIN vals vv
       |  LEFT JOIN hist h ON h.source = s.source AND h.v = vv.v),
       |cum AS (SELECT source, v,
       |    COALESCE(SUM(cnt) OVER (PARTITION BY source ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |  FROM skel),
       |wins AS (SELECT h.source AS a, c.source AS b, CAST(SUM(h.cnt * c.cum) AS BIGINT) AS wins
       |  FROM hist h JOIN cum c ON c.v = h.v AND c.source != h.source
       |  GROUP BY 1, 2),
       |allw AS (SELECT a, b, wins FROM wins
       |  UNION ALL SELECT b AS a, a AS b, wins FROM wins),
       |games AS MATERIALIZED (SELECT a, b, CAST(SUM(wins) AS BIGINT) AS n FROM allw GROUP BY 1, 2),
       |wtot AS MATERIALIZED (SELECT a, CAST(SUM(wins) AS BIGINT) AS w FROM wins GROUP BY 1),
       |it0 AS MATERIALIZED (SELECT source AS a, CAST(1000000 AS BIGINT) AS s6 FROM srcs),
       |${iters.mkString(",\n")}
       |SELECT f.a AS source, CAST(COALESCE(w.w, 0) AS BIGINT) AS wins,
       |  CAST(COALESCE(g.n, 0) AS BIGINT) AS games, f.s6 AS strength6,
       |  CAST(f.s6 AS DOUBLE) / 1e6 AS strength,
       |  CAST(ROW_NUMBER() OVER (ORDER BY f.s6 DESC, f.a) AS INT) AS rnk
       |FROM it$btIters f
       |LEFT JOIN wtot w ON w.a = f.a
       |LEFT JOIN (SELECT a, CAST(SUM(n) AS BIGINT) AS n FROM games GROUP BY 1) g
       |  ON g.a = f.a
       |ORDER BY source""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bitext_mine" -> (bitextMineQ _),
    "bitext_recall" -> (bitextRecallQ _),
    "bradley_terry" -> (bradleyTerryQ _)
  )

  val oracleSql: Map[String, String] = Map(
    "bitext_mine" -> bitextMineSql,
    "bitext_recall" -> bitextRecallSql,
    "bradley_terry" -> bradleyTerrySql
  )
}
