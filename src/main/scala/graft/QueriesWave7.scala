package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 wave: the sketch-join estimator family's third member (CMS
  * inner product), cheaper/asymmetric near-dup variants (1-bit minhash,
  * containment), a perceptual-hash dedup leg for the multimodal column,
  * heavy-tail/changepoint monitors, a time-bounded funnel, SAX symbolic
  * series, URL canonicalization dedup, and a curriculum shard plan.
  * Everything stays on the repo's portable grids (integer cents, 1e-6
  * fixed point, md5-derived hashes, truncating integer division) so the
  * DuckDB oracle hash-matches.
  */
object QueriesWave7 extends QueryModule {

  private val usPerDay = 86400000000L

  // ---- cms_join_est: CMS inner-product join-size estimator ----

  /** AGMS/CMS-sketch join-size estimator (Alon–Matias–Szegedy lineage,
    * Cormode–Muthukrishnan CM sketches): |A ⋈ B| = Σ_k d_A(k)·d_B(k) is
    * estimated by the inner product of the two sides' count-min rows —
    * est = min over depths d of Σ_w A[d][w]·B[d][w]. Hash collisions
    * only ADD cross terms, so every depth's inner product is an upper
    * bound of the truth and the min is the tightest; unlike the KMV
    * sample (`kmv_join_est`) the CMS estimate has no sampling variance,
    * it trades that for collision bias at small width. Same three
    * audited edges; the per-key degree frame is the session-shared
    * `kjeDeg` memo, so the truth costs nothing extra, and the sketch
    * cells are a ≤ depth×256-row aggregate of it — at 100 TB the only
    * data-sized work is the keyed degree count the memo already does.
    * Portable hash: bucket_d(k) = first md5 byte of "d:k" (the
    * `cms_freq` family).
    */
  def cmsJoinEstQ(spark: SparkSession, dir: String): DataFrame =
    QueriesWave6.kjeEdges.map { case (label, ta, ka, tb, kb) =>
      val deg = QueriesWave6.kjeDeg(spark, dir, label, ta, ka, tb, kb)
      val cells = deg
        .select(col("da"), col("db"),
          posexplode(array((0 until QueriesStats.cmsDepth).map(d =>
            graft.operators.Stats.cmsBucket(d, col("k"))): _*)).as(Seq("d", "w")))
        .groupBy(col("d"), col("w"))
        .agg(sum(col("da")).as("ca"), sum(col("db")).as("cb"))
      val est = cells
        .groupBy(col("d")).agg(sum(col("ca") * col("cb")).as("s"))
        .agg(min(col("s")).as("est"))
      val actual = deg.agg(sum(col("g")).as("actual"))
      est.crossJoin(actual)
        .select(lit(label).as("edge"), col("est"), col("actual"),
          (col("est").cast("double") /
            greatest(col("actual"), lit(1L)).cast("double")).as("inflation"))
    }.reduce(_.unionAll(_)).orderBy(col("edge"))

  val cmsJoinEstSql: String = {
    val depth = QueriesStats.cmsDepth
    def bucketSql(v: String): String =
      s"(strpos('0123456789abcdef', substr(md5(depths.d || ':' || $v), 1, 1)) - 1) * 16" +
        s" + (strpos('0123456789abcdef', substr(md5(depths.d || ':' || $v), 2, 1)) - 1)"
    val ctes = QueriesWave6.kjeEdges.map { case (label, ta, ka, tb, kb) =>
      val n = QueriesWave6.cteName(label)
      s"""${QueriesWave6.kjeDegCte(label, ta, ka, tb, kb)},
         |cells_$n AS (
         |  SELECT depths.d AS d, ${bucketSql("CAST(k AS VARCHAR)")} AS w,
         |         SUM(da) AS ca, SUM(db) AS cb
         |  FROM deg_$n, depths GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val arms = QueriesWave6.kjeEdges.map { case (label, ta, ka, tb, kb) =>
      val n = QueriesWave6.cteName(label)
      s"""SELECT '$label' AS edge,
         |  (SELECT MIN(s) FROM (SELECT d, SUM(ca * cb) AS s FROM cells_$n GROUP BY d)) AS est,
         |  (SELECT SUM(g) FROM deg_$n) AS actual""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH depths AS (SELECT UNNEST([${(0 until depth).mkString(", ")}]) AS d),
       |$ctes,
       |s AS (
       |$arms)
       |SELECT edge, CAST(est AS BIGINT) AS est, CAST(actual AS BIGINT) AS actual,
       |  CAST(est AS DOUBLE) / CAST(GREATEST(actual, 1) AS DOUBLE) AS inflation
       |FROM s ORDER BY edge""".stripMargin
  }

  // ---- bbit_minhash: 1-bit minhash Jaccard estimation ----

  /** b-bit minhash (Li–König 2010) over the session's LSH candidate
    * pairs: keep only the LOWEST hex bit of each of the 16 signature
    * entries — 16 bits per doc instead of 16 md5 strings (a 128×
    * signature-storage cut, THE at-scale justification) — and unbias the
    * agreement rate: E[agree] = J + (1−J)/2, so Ĵ₁ = max(0, 2·agree/16
    * − 1). Reported next to the full-signature estimate (agree/16) and
    * the exact set Jaccard so the audit shows what the compression
    * costs. All three estimates are exact binary fractions (k/16,
    * k/32-grid) — engine-portable doubles. Candidates and both per-doc
    * frames are session memos; the only new work is a pair-keyed join.
    */
  def bbitMinhashQ(spark: SparkSession, dir: String): DataFrame = {
    val sigs = QueriesText.mhWide(spark, dir)
    val n = graft.operators.TextOps.numPerms
    def lowBit(c: Column): Column = conv(substring(c, 32, 1), 16, 10).cast("long") % 2
    def side(suffix: String): DataFrame =
      sigs.select(
        (col("doc_id").as(s"doc_$suffix") +:
          (0 until n).map(i => col(s"m$i").as(s"m${i}_$suffix"))): _*)
    val sets = QueriesText.shArr3(spark, dir)
    val sigAgree = (0 until n)
      .map(i => when(col(s"m${i}_a") === col(s"m${i}_b"), 1L).otherwise(0L))
      .reduce(_ + _)
    val bitAgree = (0 until n)
      .map(i => when(lowBit(col(s"m${i}_a")) === lowBit(col(s"m${i}_b")), 1L).otherwise(0L))
      .reduce(_ + _)
    QueriesText.lshCands(spark, dir)
      .join(side("a"), "doc_a").join(side("b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (sigAgree.cast("double") / n).as("j_sig"),
        greatest(lit(0.0), (lit(2L) * bitAgree - n).cast("double") / n).as("j_1bit"))
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (size(col("sha")) + size(col("shb")) - col("inter")).cast("double")).as("j_exact"),
        col("j_sig"), col("j_1bit"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val bbitMinhashSql: String = {
    val n = graft.operators.TextOps.numPerms
    val sigAgree = (0 until n)
      .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
    def lowBit(m: String): String =
      s"(strpos('0123456789abcdef', substr($m, 32, 1)) - 1) % 2"
    val bitAgree = (0 until n)
      .map(i => s"CASE WHEN ${lowBit(s"a.m$i")} = ${lowBit(s"b.m$i")} THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH ${QueriesText.candCtes},
       |sets AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |          FROM sh a
       |          JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
       |          GROUP BY 1, 2),
       |est AS (SELECT c.doc_a, c.doc_b,
       |    CAST($sigAgree AS DOUBLE) / $n AS j_sig,
       |    GREATEST(0.0, CAST(2 * ($bitAgree) - $n AS DOUBLE) / $n) AS j_1bit
       |  FROM cand c JOIN sigs a ON a.doc_id = c.doc_a JOIN sigs b ON b.doc_id = c.doc_b)
       |SELECT e.doc_a, e.doc_b,
       |  CAST(COALESCE(i.inter, 0) AS DOUBLE) /
       |    CAST(sa.n + sb.n - COALESCE(i.inter, 0) AS DOUBLE) AS j_exact,
       |  e.j_sig, e.j_1bit
       |FROM est e
       |LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
       |JOIN sets sa ON sa.doc_id = e.doc_a
       |JOIN sets sb ON sb.doc_id = e.doc_b
       |ORDER BY e.doc_a, e.doc_b""".stripMargin
  }

  // ---- hill_tail: Hill estimator of the heavy-tail index ----

  val hillK = 100

  /** Hill estimator of the Pareto tail index over order values: with
    * x₍₁₎ ≥ … the order statistics of o_totalprice cents, H =
    * (1/m)·Σ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the m top values strictly above the
    * (k+1)-th, and the tail index α̂ = 1/H — the standard diagnostic for
    * "does this value distribution have power-law tails" (pairs with
    * `zipf_fit`'s rank-frequency slope). Distributed shape: the top
    * k+1 VALUES arrive via TakeOrdered (k = $hillK — never a global
    * sort), the threshold broadcasts back, and ties at the threshold
    * make the value multiset — and hence every output — deterministic.
    * Each ln term is quantized to the 1e-6 grid before the sum (the one
    * transcendental, engine-portable).
    */
  def hillTailQ(spark: SparkSession, dir: String): DataFrame = {
    val cents = expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
    val top = Tables(spark, dir, "orders")
      .select(cents.as("c")).orderBy(col("c").desc).limit(hillK + 1)
    val thr = top.agg(min(col("c")).as("xk"))
    top.crossJoin(broadcast(thr))
      .filter(col("c") > col("xk"))
      .select(col("xk"),
        (round(log(col("c").cast("double") / col("xk").cast("double")) * 1e6) / 1e6)
          .as("lnr"))
      .groupBy(col("xk"))
      .agg(count(lit(1)).as("m"), sum(col("lnr")).as("__s"))
      .select(col("m"), col("xk").as("x_thresh"),
        (col("__s") / col("m")).as("h_hill"),
        (col("m").cast("double") / col("__s")).as("alpha"))
  }

  val hillTailSql: String =
    s"""WITH top AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
       |             FROM orders ORDER BY c DESC LIMIT ${hillK + 1}),
       |thr AS (SELECT MIN(c) AS xk FROM top),
       |terms AS (SELECT t.c, thr.xk,
       |    round(ln(CAST(t.c AS DOUBLE) / CAST(thr.xk AS DOUBLE)) * 1e6) / 1e6 AS lnr
       |  FROM top t, thr WHERE t.c > thr.xk)
       |SELECT CAST(COUNT(*) AS BIGINT) AS m, MAX(xk) AS x_thresh,
       |  SUM(lnr) / COUNT(*) AS h_hill,
       |  CAST(COUNT(*) AS DOUBLE) / SUM(lnr) AS alpha
       |FROM terms GROUP BY xk""".stripMargin

  // ---- containment_sim: asymmetric containment over candidate pairs ----

  val containTau = 0.9

  /** Asymmetric set containment |A∩B| / min(|A|,|B|) ≥ 0.9 over the LSH
    * candidate pairs — the subset/quote detector symmetric Jaccard
    * misses: a short doc fully embedded in a long one has high
    * containment but Jaccard ≈ |short|/|long|, which can sit far below
    * the dedup threshold. `missed_by_jaccard` flags exactly those pairs
    * (the reason curation pipelines run containment as a second pass).
    * Consumes the session's candidate and shingle-set memos — the only
    * new work is the pair-keyed verify. At 100 TB the recall ceiling is
    * the band join's (documented on row 23); an exact-recall containment
    * pass would ride `prefix_sim_join`'s prefix filter instead.
    */
  def containmentSimQ(spark: SparkSession, dir: String): DataFrame = {
    val sets = QueriesText.shArr3(spark, dir)
    QueriesText.lshCands(spark, dir)
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("containment",
        col("inter").cast("double") /
          least(size(col("sha")), size(col("shb"))).cast("double"))
      .filter(col("containment") >= containTau)
      .select(col("doc_a"), col("doc_b"), col("containment"),
        (col("inter").cast("double") /
          (size(col("sha")) + size(col("shb")) - col("inter")).cast("double")).as("jaccard"))
      .withColumn("missed_by_jaccard", col("jaccard") < QueriesText.lshTau)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val containmentSimSql: String =
    s"""WITH ${QueriesText.candCtes},
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |          FROM sh a
       |          JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
       |          GROUP BY 1, 2),
       |scored AS (SELECT i.doc_a, i.doc_b,
       |    CAST(i.inter AS DOUBLE) / CAST(LEAST(sa.n, sb.n) AS DOUBLE) AS containment,
       |    CAST(i.inter AS DOUBLE) / CAST(sa.n + sb.n - i.inter AS DOUBLE) AS jaccard
       |  FROM inter i
       |  JOIN sizes sa ON sa.doc_id = i.doc_a
       |  JOIN sizes sb ON sb.doc_id = i.doc_b)
       |SELECT doc_a, doc_b, containment, jaccard,
       |  jaccard < ${QueriesText.lshTau} AS missed_by_jaccard
       |FROM scored WHERE containment >= $containTau
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- mm_phash_dup: perceptual-hash near-dup pairs on the image leg ----

  val phashMaxHamming = 3

  /** Perceptual-hash (dHash) near-dup detection for the multimodal image
    * column: each image's decode stub yields an 8×9 "pixel" grid whose
    * cell (r,c) hashes the document's word at position (9r+c) mod |ws| —
    * so images of near-identical documents get near-identical grids, the
    * property a real thumbnail dHash has. 64 horizontal-gradient bits
    * (g(r,c) > g(r,c+1)) pack into 4×16-bit bands; candidate pairs come
    * from 4 band equijoins (pigeonhole: hamming ≤ 3 ⇒ some band equal —
    * the `simhash_dup` discipline, complete by construction), verified
    * by bit_count(xor) over the wide layout. Only the grid function is
    * the swappable stub; the banding, pigeonhole bound, and verify are
    * exactly what a production pHash dedup runs. Everything after the
    * per-doc 64-position explode+pack is band-keyed — no all-pairs.
    */
  /** (doc_id, band, bv): the 4×16-bit dHash band values for the image
    * docs of a documents frame — exposed for the spec's brute-force
    * pigeonhole-completeness check.
    */
  def phashBandsOf(documents: DataFrame): DataFrame =
    phashBandsOfToks(
      documents.select(col("doc_id"), graft.operators.TextOps.tokensExpr.as("ws")))

  /** [[phashBandsOf]] over a pre-tokenized (doc_id, ws) frame. */
  def phashBandsOfToks(toks: DataFrame): DataFrame = {
    val images = toks.filter(col("doc_id") % 3 === 0)
    def gExpr(posExpr: String): Column =
      expr(s"CAST(conv(substring(md5(coalesce(element_at(ws, ($posExpr) % greatest(size(ws), 1) + 1), '')), 1, 2), 16, 10) AS BIGINT)")
    images
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), lit(63))).as("p"))
      .withColumn("r", col("p") / 8 cast "int")
      .withColumn("c", col("p") % 8)
      .withColumn("bit",
        when(gExpr("r * 9 + c") > gExpr("r * 9 + c + 1"), 1L).otherwise(0L))
      .select(col("doc_id"), (col("r") / 2).cast("int").as("band"),
        ((col("r") % 2) * 8 + col("c")).as("bpos"), col("bit"))
      .groupBy(col("doc_id"), col("band"))
      .agg(sum(col("bit") * expr("CAST(pow(2.0, 15 - bpos) AS BIGINT)")).as("bv"))
  }

  def mmPhashDupQ(spark: SparkSession, dir: String): DataFrame = {
    val bands = Memo(spark, dir, "wave7:phashBands")(
      phashBandsOfToks(
        QueriesText.toks(spark, dir).select(col("doc_id"), col("__ws").as("ws"))))
    val wideAggs = (0 until 4).map(b =>
      max(when(col("band") === b, col("bv"))).as(s"b$b"))
    val wide = bands.groupBy(col("doc_id"))
      .agg(wideAggs.head, wideAggs.tail: _*)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val ham = (0 until 4).map(b =>
      expr(s"bit_count(a$b ^ c$b)").cast("long")).reduce(_ + _)
    cand
      .join(wide.select(col("doc_id").as("doc_a") +:
        (0 until 4).map(b => col(s"b$b").as(s"a$b")): _*), "doc_a")
      .join(wide.select(col("doc_id").as("doc_b") +:
        (0 until 4).map(b => col(s"b$b").as(s"c$b")): _*), "doc_b")
      .withColumn("hamming", ham)
      .filter(col("hamming") <= phashMaxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val mmPhashDupSql: String = {
    val g = (pos: String) =>
      s"CAST(('0x' || substr(md5(COALESCE(ws[($pos) % GREATEST(len(ws), 1) + 1], '')), 1, 2)) AS BIGINT)"
    s"""WITH ${QueriesText.wordsCte},
       |img AS (SELECT w.doc_id, ws FROM w WHERE w.doc_id % 3 = 0),
       |pos AS (SELECT UNNEST(range(0, 64)) AS p),
       |bits AS (SELECT doc_id, CAST((p // 8) // 2 AS INT) AS band,
       |    ((p // 8) % 2) * 8 + (p % 8) AS bpos,
       |    CASE WHEN ${g("(p // 8) * 9 + (p % 8)")} > ${g("(p // 8) * 9 + (p % 8) + 1")}
       |         THEN 1 ELSE 0 END AS bit
       |  FROM img, pos),
       |bands AS (SELECT doc_id, band,
       |    CAST(SUM(bit * CAST(pow(2.0, 15 - bpos) AS BIGINT)) AS BIGINT) AS bv
       |  FROM bits GROUP BY 1, 2),
       |wide AS (SELECT doc_id,
       |    MAX(CASE WHEN band = 0 THEN bv END) AS b0,
       |    MAX(CASE WHEN band = 1 THEN bv END) AS b1,
       |    MAX(CASE WHEN band = 2 THEN bv END) AS b2,
       |    MAX(CASE WHEN band = 3 THEN bv END) AS b3
       |  FROM bands GROUP BY 1),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)
       |SELECT c.doc_a, c.doc_b,
       |  CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
       |       bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS BIGINT) AS hamming
       |FROM cand c
       |JOIN wide a ON a.doc_id = c.doc_a
       |JOIN wide b ON b.doc_id = c.doc_b
       |WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
       |      bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= $phashMaxHamming
       |ORDER BY c.doc_a, c.doc_b""".stripMargin
  }

  // ---- norm_text_dedup: normalization-canonical exact dedup ----

  /** Exact dedup on the NORMALIZED text (casefold + alnum tokenization +
    * single-space join — the tokenizer the whole text stack shares):
    * catches formatting-only duplicates (case, punctuation, whitespace,
    * markup residue) that byte-exact `exact_dedup` misses — the cheap
    * first rung every curation ladder runs before MinHash. Per doc:
    * canonical keep id, normalized-group size, and `formatting_dup` —
    * true iff normalization merged this doc into a LARGER group than the
    * raw hash did (the interesting rows). Same one-shuffle keyed-agg
    * plan as exact_dedup; both hash frames are slim (doc_id, md5).
    */
  def normTextDedupQ(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("__hraw"),
        md5(concat_ws(" ", graft.operators.TextOps.tokensExpr)).as("__hn"))
    val normGroups = d.groupBy(col("__hn"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("norm_group_n"))
    val rawGroups = d.groupBy(col("__hraw"))
      .agg(count(lit(1)).as("raw_group_n"))
    d.join(normGroups, "__hn").join(rawGroups, "__hraw")
      .select(col("doc_id"), col("keep_id"), col("norm_group_n"),
        (col("norm_group_n") > col("raw_group_n")).as("formatting_dup"))
      .orderBy(col("doc_id"))
  }

  val normTextDedupSql: String =
    s"""WITH ${QueriesText.wordsCte},
       |h AS (SELECT d.doc_id, md5(d.text) AS hraw,
       |        md5(array_to_string(w.ws, ' ')) AS hn
       |      FROM documents d JOIN w ON w.doc_id = d.doc_id),
       |ng AS (SELECT hn, MIN(doc_id) AS keep_id, COUNT(*) AS norm_group_n
       |       FROM h GROUP BY 1),
       |rg AS (SELECT hraw, COUNT(*) AS raw_group_n FROM h GROUP BY 1)
       |SELECT h.doc_id, ng.keep_id, ng.norm_group_n,
       |  ng.norm_group_n > rg.raw_group_n AS formatting_dup
       |FROM h JOIN ng ON ng.hn = h.hn JOIN rg ON rg.hraw = h.hraw
       |ORDER BY h.doc_id""".stripMargin

  // ---- cusum_changepoint: CUSUM shift detection on daily revenue ----

  /** CUSUM changepoint statistic over the daily order-revenue series:
    * S_t = Σ_{i≤t}(x_i − μ) peaks at the day the series' mean shifts —
    * the classic offline changepoint locator. Exact integer form: with
    * n days, T = Σx (cents), D_t = n·prefix_t − t·T = n·S_t, every D_t
    * is BIGINT-exact (no FP drift in the cumulative sum). Output per
    * day: revenue, D_t (the scaled CUSUM), and `is_peak` marking
    * argmax |D_t| (earliest day on ties). The raw scan collapses to a
    * calendar-bounded per-day aggregate FIRST — the window and the
    * argmax broadcast touch ≤ #days rows, never raw orders.
    */
  def cusumChangepointQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // memoized: the peak argmax and the output both read this frame —
    // one orders scan, not two
    val daily = SharedFrames.dailyOrdersRev(spark, dir)
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("t"))
    val cum = daily.crossJoin(broadcast(tot))
      .withColumn("rk", row_number().over(Window.orderBy(col("day_us"))))
      .withColumn("pre", sum(col("x")).over(
        Window.orderBy(col("day_us")).rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("d_t", col("n") * col("pre") - col("rk") * col("t"))
    val peak = cum.select(abs(col("d_t")).as("ad"), col("day_us"))
      .orderBy(col("ad").desc, col("day_us")).limit(1)
      .select(col("day_us").as("__peak"))
    cum.crossJoin(broadcast(peak))
      .select(
        (col("day_us") / 1000000L).cast("long").as("day_s"),
        col("x"), col("d_t"),
        (col("day_us") === col("__peak")).as("is_peak"))
      .orderBy(col("day_s"))
  }

  val cusumChangepointSql: String =
    """WITH daily AS (SELECT epoch_us(date_trunc('day', o_orderdate)) AS day_us,
      |    SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS x
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS n, SUM(x) AS t FROM daily),
      |cum AS (SELECT day_us, x,
      |    tot.n * SUM(x) OVER (ORDER BY day_us ROWS UNBOUNDED PRECEDING)
      |      - (ROW_NUMBER() OVER (ORDER BY day_us)) * tot.t AS d_t
      |  FROM daily, tot),
      |peak AS (SELECT day_us AS pk FROM cum ORDER BY abs(d_t) DESC, day_us LIMIT 1)
      |SELECT day_us // 1000000 AS day_s, CAST(x AS BIGINT) AS x, CAST(d_t AS BIGINT) AS d_t,
      |  day_us = peak.pk AS is_peak
      |FROM cum, peak ORDER BY day_s""".stripMargin

  // ---- window_funnel: time-bounded sequential funnel ----

  val funnelWindowUs = 3600000000L // 1 hour

  /** Time-bounded ordered funnel (the ClickHouse windowFunnel shape):
    * view → click → purchase where each step follows the previous one
    * within 1 hour. Two range-window passes per user, both on the
    * event-time ordering: pass 1 stamps each event with the latest view
    * in its trailing hour (qualifying the clicks); pass 2 stamps the
    * latest QUALIFIED click (qualifying the purchases). One row out:
    * users reaching depth 1/2/3 + conversion rates. Scales as a keyed
    * window over (user, time) — the shuffle is one exchange on user_id,
    * state per user is the window frame, exactly the shape Structured
    * Streaming would run with a 1h watermark.
    */
  def windowFunnelQ(spark: SparkSession, dir: String): DataFrame =
    windowFunnelCore(Tables(spark, dir, "events"))

  /** Core of `window_funnel` over any (user_id, event_type, ts) frame —
    * exposed for the spec's hand-built oracle.
    */
  def windowFunnelCore(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("tus"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
      .rangeBetween(-funnelWindowUs, -1L)
    val p1 = e.withColumn("lv",
      max(when(col("event_type") === "view", col("tus"))).over(w))
    val p2 = p1.withColumn("lqc",
      max(when(col("event_type") === "click" && col("lv").isNotNull, col("tus"))).over(w))
    p2.agg(
        countDistinct(when(col("event_type") === "view", col("user_id"))).as("u_view"),
        countDistinct(when(col("event_type") === "click" && col("lv").isNotNull,
          col("user_id"))).as("u_click"),
        countDistinct(when(col("event_type") === "purchase" && col("lqc").isNotNull,
          col("user_id"))).as("u_purchase"))
      .select(col("u_view"), col("u_click"), col("u_purchase"),
        (col("u_click").cast("double") / col("u_view")).as("click_rate"),
        (col("u_purchase").cast("double") / col("u_view")).as("purchase_rate"))
  }

  val windowFunnelSql: String =
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
       |p1 AS (SELECT *,
       |    MAX(CASE WHEN event_type = 'view' THEN tus END) OVER
       |      (PARTITION BY user_id ORDER BY tus
       |       RANGE BETWEEN $funnelWindowUs PRECEDING AND 1 PRECEDING) AS lv
       |  FROM e),
       |p2 AS (SELECT *,
       |    MAX(CASE WHEN event_type = 'click' AND lv IS NOT NULL THEN tus END) OVER
       |      (PARTITION BY user_id ORDER BY tus
       |       RANGE BETWEEN $funnelWindowUs PRECEDING AND 1 PRECEDING) AS lqc
       |  FROM p1)
       |SELECT
       |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS BIGINT) AS u_view,
       |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'click' AND lv IS NOT NULL THEN user_id END) AS BIGINT) AS u_click,
       |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase' AND lqc IS NOT NULL THEN user_id END) AS BIGINT) AS u_purchase,
       |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'click' AND lv IS NOT NULL THEN user_id END) AS DOUBLE)
       |    / COUNT(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS click_rate,
       |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase' AND lqc IS NOT NULL THEN user_id END) AS DOUBLE)
       |    / COUNT(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS purchase_rate
       |FROM p2""".stripMargin

  // ---- sax_symbols: symbolic aggregate approximation of the daily series ----

  val saxPaaDays = 3
  val saxBreakQ = 674490L // round(1e6 · Φ⁻¹(0.75))

  /** SAX (symbolic aggregate approximation) of the daily event-count
    * series: z-normalize, average over 3-day PAA frames, and map each
    * frame to a 4-letter alphabet at the Gaussian quartile breakpoints
    * ±0.6745 — the standard symbolic form for motif/anomaly mining over
    * time series. Engine-exact: with n days, T = Σx, V = n·Σx² − T²,
    * the comparison (PAA mean − μ)/σ vs ±b cross-multiplies to
    * 1e12·(S·w? — see code) on DECIMAL(38,0), with the single sqrt(V)
    * quantized to the 1e-6 grid; z<0 needs no sqrt at all. The raw scan
    * collapses to the calendar-bounded per-day aggregate first; frames
    * index by calendar day offset, so the whole plan after the first
    * agg touches ≤ #days rows.
    */
  def saxSymbolsQ(spark: SparkSession, dir: String): DataFrame = {
    val daily = SharedFrames.dailyEvents(spark, dir)
    val tot = daily.agg(
      min(col("day_us")).as("d0"), count(lit(1)).as("nn"),
      sum(col("n")).as("t"), sum(col("n") * col("n")).as("sxx"))
    val frames = daily.crossJoin(broadcast(tot))
      .withColumn("frame",
        ((col("day_us") - col("d0")) / lit(usPerDay * saxPaaDays)).cast("long"))
      .groupBy(col("frame"))
      .agg(count(lit(1)).as("w"), sum(col("n")).as("s"),
        max(col("nn")).as("nn"), max(col("t")).as("t"),
        max(expr("CAST(round(sqrt(CAST(nn AS DOUBLE) * sxx - CAST(t AS DOUBLE) * t) * 1e6) AS BIGINT)"))
          .as("sq"))
    frames
      .withColumn("num",
        (col("s") * col("nn") - col("w") * col("t")).cast("decimal(38,0)") * lit(1000000L))
      .withColumn("thr",
        lit(saxBreakQ).cast("decimal(38,0)") * col("w") * col("sq"))
      .select(col("frame"), col("w"), col("s"),
        when(col("num") < -col("thr"), "a")
          .when(col("num") < 0, "b")
          .when(col("num") < col("thr"), "c")
          .otherwise("d").as("symbol"))
      .orderBy(col("frame"))
  }

  val saxSymbolsSql: String =
    s"""WITH daily AS (SELECT epoch_us(date_trunc('day', ts)) AS day_us, COUNT(*) AS n
       |  FROM events GROUP BY 1),
       |tot AS (SELECT MIN(day_us) AS d0, COUNT(*) AS nn, SUM(n) AS t,
       |    SUM(n * n) AS sxx FROM daily),
       |frames AS (SELECT (day_us - tot.d0) // ${usPerDay * saxPaaDays} AS frame,
       |    COUNT(*) AS w, SUM(n) AS s, MAX(tot.nn) AS nn, MAX(tot.t) AS t,
       |    MAX(CAST(round(sqrt(CAST(tot.nn AS DOUBLE) * tot.sxx - CAST(tot.t AS DOUBLE) * tot.t) * 1e6) AS BIGINT)) AS sq
       |  FROM daily, tot GROUP BY 1)
       |SELECT frame, CAST(w AS BIGINT) AS w, CAST(s AS BIGINT) AS s,
       |  CASE WHEN num < -thr THEN 'a'
       |       WHEN num < 0 THEN 'b'
       |       WHEN num < thr THEN 'c'
       |       ELSE 'd' END AS symbol
       |FROM (SELECT frame, w, s,
       |        CAST(s * nn - w * t AS DECIMAL(38,0)) * 1000000 AS num,
       |        CAST($saxBreakQ AS DECIMAL(38,0)) * w * sq AS thr
       |      FROM frames)
       |ORDER BY frame""".stripMargin

  // ---- curriculum_plan: difficulty-phased training shard plan ----

  val curriculumPhases = 4
  val curriculumShards = 4

  /** Curriculum-ordered shard plan: docs rank into 4 difficulty phases
    * by heuristic quality (exact NTILE via the range-partitioned
    * `rankedNtile` — no single-partition sort), easy→hard being the
    * curriculum-learning schedule; within a phase each doc lands in one
    * of 4 md5 shards (coordination-free at any executor count). Output
    * per (phase, shard): docs, token budget, and the cumulative token
    * offset a sequential trainer would start each shard at — the window
    * runs over the 16-row plan frame only.
    */
  def curriculumPlanQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qs = QueriesText.quality(spark, dir)
      .select(col("doc_id"), col("score"), col("n_words").cast("long").as("__nt"))
    graft.operators.Layout
      .rankedNtile(qs, Seq(col("score"), col("doc_id")), curriculumPhases, "phase")
      .withColumn("shard",
        expr(s"CAST(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % $curriculumShards AS INT)"))
      .groupBy(col("phase"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tokens"))
      .withColumn("token_offset",
        coalesce(sum(col("n_tokens")).over(
          Window.orderBy(col("phase"), col("shard"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .orderBy(col("phase"), col("shard"))
  }

  val curriculumPlanSql: String =
    s"""WITH qs AS (SELECT doc_id, score, CAST(n_words AS BIGINT) AS nt
       |  FROM (${QueriesText.qualityScoreSql})),
       |ranked AS (SELECT doc_id, ntile($curriculumPhases) OVER (ORDER BY score, doc_id) AS phase,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % $curriculumShards AS shard,
       |    nt
       |  FROM qs),
       |plan AS (SELECT phase, CAST(shard AS INT) AS shard,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
       |  FROM ranked GROUP BY 1, 2)
       |SELECT phase, shard, n_docs, n_tokens,
       |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY phase, shard
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset
       |FROM plan ORDER BY phase, shard""".stripMargin

  // ---- kn_bigram_lm: Kneser–Ney-smoothed word-bigram LM scoring ----

  /** Per-doc cross-entropy under a corpus-trained interpolated
    * Kneser–Ney bigram LM (Kneser–Ney 1995 / Chen–Goodman 1998), the
    * stronger LM-quality signal next to `lm_perplexity`'s char-bigram
    * score: P(w2|w1) = max(c(w1,w2)−D, 0)/c(w1·) +
    * D·N₁₊(w1·)/c(w1·) · N₁₊(·w2)/T with discount D = 3/4 — the
    * continuation-count backoff that stops "san francisco"-style
    * boilerplate from inflating unigram mass. With D = 3/4, P is the
    * EXACT integer ratio [max(4c−3,0)·T + 3·N₁₊(w1·)·N₁₊(·w2)] /
    * (4·T·c(w1·)); the single ln per (doc, bigram) type quantizes to
    * the 1e-6 grid, so both engines hash-match. Every count frame
    * derives from one (doc, bigram)-keyed aggregate of one documents
    * scan; scoring is one join keyed on the bigram — at 100 TB the
    * model frames are vocabulary-sized, the join fact-sized, nothing
    * is all-pairs. Docs with < 2 tokens have no bigrams and drop out.
    */
  def knBigramLmQ(spark: SparkSession, dir: String): DataFrame = {
    val bgExpr = expr(
      """transform(sequence(1, greatest(size(__ws) - 1, 0)),
        |          i -> struct(__ws[i-1] AS w1, __ws[i] AS w2))""".stripMargin)
    val docBg = Memo(spark, dir, "wave7:docBigrams")(
      QueriesText.toks(spark, dir)
        .select(col("doc_id"), col("__ws"))
        .select(col("doc_id"), explode(bgExpr).as("bg"))
        .groupBy(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .agg(count(lit(1)).as("mult")))
    val bgStats = Memo(spark, dir, "wave7:bgStats")(
      docBg.groupBy(col("w1"), col("w2")).agg(sum(col("mult")).as("c")))
    val left = bgStats.groupBy(col("w1"))
      .agg(sum(col("c")).as("cw1"), count(lit(1)).as("n1fw"))
    val right = bgStats.groupBy(col("w2")).agg(count(lit(1)).as("ncw"))
    val tt = bgStats.agg(count(lit(1)).as("t"))
    // The bigram total c = Σ mult over (w1, w2) comes from a window
    // riding docBg's OWN shuffle (bgStats is the same sums — every
    // docBg row matches, so the old inner SMJ against it only re-sorted
    // a second bigram-sized frame). The w1/w2 marginals are
    // WORD-VOCABULARY-bounded (one row per distinct word — orders of
    // magnitude under the bigram frames at any scale) and join as
    // BROADCASTS, keeping the partitioning; the old plan sort-merged
    // all three joins, re-exchanging the data-sized frame per probe.
    docBg
      .withColumn("c", sum(col("mult")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("w1"), col("w2"))))
      .join(broadcast(left), Seq("w1")).join(broadcast(right), Seq("w2"))
      .crossJoin(broadcast(tt))
      .withColumn("lnq",
        expr("""CAST(round(ln(CAST(greatest(4 * c - 3, 0) * t + 3 * n1fw * ncw AS DOUBLE)
               |               / (4.0 * CAST(t AS DOUBLE) * cw1)) * 1e6) AS BIGINT)""".stripMargin))
      .groupBy(col("doc_id"))
      .agg(sum(col("mult")).as("n_bigrams"),
        sum(col("mult") * col("lnq")).as("__s"))
      .select(col("doc_id"), col("n_bigrams"),
        (-col("__s").cast("double") / 1e6 / col("n_bigrams")).as("nll_kn"))
      .orderBy(col("doc_id"))
  }

  val knBigramLmSql: String =
    s"""WITH ${QueriesText.wordsCte},
       |bgrows AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
       |  FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws), 1))) AS i FROM w)),
       |docbg AS (SELECT doc_id, w1, w2, COUNT(*) AS mult FROM bgrows GROUP BY 1, 2, 3),
       |bgstats AS (SELECT w1, w2, SUM(mult) AS c FROM docbg GROUP BY 1, 2),
       |lft AS (SELECT w1, SUM(c) AS cw1, COUNT(*) AS n1fw FROM bgstats GROUP BY 1),
       |rgt AS (SELECT w2, COUNT(*) AS ncw FROM bgstats GROUP BY 1),
       |tt AS (SELECT COUNT(*) AS t FROM bgstats),
       |terms AS (SELECT d.doc_id, d.mult,
       |    CAST(round(ln(CAST(GREATEST(4 * b.c - 3, 0) * tt.t + 3 * lft.n1fw * rgt.ncw AS DOUBLE)
       |                  / (4.0 * CAST(tt.t AS DOUBLE) * lft.cw1)) * 1e6) AS BIGINT) AS lnq
       |  FROM docbg d
       |  JOIN bgstats b ON b.w1 = d.w1 AND b.w2 = d.w2
       |  JOIN lft ON lft.w1 = d.w1
       |  JOIN rgt ON rgt.w2 = d.w2, tt)
       |SELECT doc_id, CAST(SUM(mult) AS BIGINT) AS n_bigrams,
       |  -CAST(SUM(mult * lnq) AS DOUBLE) / 1e6 / SUM(mult) AS nll_kn
       |FROM terms GROUP BY 1 ORDER BY doc_id""".stripMargin

  // ---- salsa_scores: SALSA hub/authority over the trade graph ----

  val salsaIters = 4
  val salsaGrid = 1048576L // 2^20

  /** SALSA hub/authority scores (Lempel–Moran 2001 — HITS with
    * row-stochastic normalization, which is what makes it STABLE: every
    * iterate stays on the probability simplex, so the 2^-20 BIGINT grid
    * never overflows at any data scale, unlike raw HITS whose iterates
    * grow with Σw) over the customer-nation → supplier-nation trade
    * graph. Two floor-quantized transition frames (hub side normalized
    * by out-weight, authority side by in-weight); 4 alternating
    * hub→auth→hub sweeps, every contribution floor-quantized before
    * the sum so aggregation order cannot change a bit (the
    * `nation_pagerank` discipline, same memoized ≤25-node edge frame —
    * the 4-table join runs once per session across both graph queries).
    */
  def salsaScoresQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = SharedFrames.nationEdges(spark, dir)
    val pa = Memo(spark, dir, "wave7:salsaPa")(
      e.withColumn("od", sum(col("w")).over(Window.partitionBy(col("u"))))
        .select(col("u"), col("v"),
          floor(col("w").cast("double") * lit(salsaGrid) / col("od")).cast("bigint").as("pg")))
    val ph = Memo(spark, dir, "wave7:salsaPh")(
      e.withColumn("idg", sum(col("w")).over(Window.partitionBy(col("v"))))
        .select(col("u"), col("v"),
          floor(col("w").cast("double") * lit(salsaGrid) / col("idg")).cast("bigint").as("pg")))
    val hubs = Memo(spark, dir, "wave7:salsaHubs")(
      e.select(col("u")).distinct()
        .crossJoin(e.select(col("u")).distinct().agg(countDistinct(col("u")).as("nh"))))
    val h0 = hubs.select(col("u"),
      floor(lit(salsaGrid) / col("nh")).cast("bigint").as("hg"))
    val (hF, aF) = (1 to salsaIters).foldLeft((h0, h0.limit(0).select(col("u").as("v"), col("hg").as("ag")))) {
      case ((h, _), it) =>
        val a = Memo(spark, dir, s"wave7:salsaA$it")(
          broadcast(h).join(pa, Seq("u"))
            .groupBy(col("v"))
            .agg(sum(floor(col("hg").cast("double") * col("pg") / lit(salsaGrid))
              .cast("bigint")).as("ag")))
        val h2 = Memo(spark, dir, s"wave7:salsaH$it")(
          broadcast(a).join(ph, Seq("v"))
            .groupBy(col("u"))
            .agg(sum(floor(col("ag").cast("double") * col("pg") / lit(salsaGrid))
              .cast("bigint")).as("hg")))
        (h2, a)
    }
    // Literal checkpoint (the kmeansCentroids / nar_check discipline):
    // the converged frame is ≤|V| rows — nations, bounded at ANY data
    // scale — but its lazy plan nests 8 layers of cached lineage, and
    // every later action pays seconds of replanning over that tree.
    // Collecting the bounded result once per session into literal rows
    // makes every subsequent read a flat local scan.
    val fin = Memo(spark, dir, "wave7:salsaFinal") {
      import spark.implicits._
      val rows = hF.select(col("u").as("nationkey"), col("hg"))
        .join(aF.select(col("v").as("nationkey"), col("ag")), Seq("nationkey"), "full_outer")
        .select(col("nationkey").cast("long"),
          coalesce(col("hg"), lit(0L)), coalesce(col("ag"), lit(0L)))
        .as[(Long, Long, Long)].collect().toSeq
      rows.toDF("nationkey", "hub_grid", "auth_grid")
    }
    fin
      .select(col("nationkey"), col("hub_grid"), col("auth_grid"),
        (col("hub_grid").cast("double") / lit(salsaGrid)).as("hub"),
        (col("auth_grid").cast("double") / lit(salsaGrid)).as("authority"))
      .orderBy(col("nationkey"))
  }

  val salsaScoresSql: String = {
    val base =
      s"""WITH e AS (
         |  SELECT c.c_nationkey AS u, s.s_nationkey AS v, CAST(COUNT(*) AS BIGINT) AS w
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  GROUP BY 1, 2),
         |pa AS (SELECT u, v, CAST(FLOOR(CAST(w AS DOUBLE) * $salsaGrid.0 / od) AS BIGINT) AS pg
         |       FROM (SELECT u, v, w, SUM(w) OVER (PARTITION BY u) AS od FROM e)),
         |ph AS (SELECT u, v, CAST(FLOOR(CAST(w AS DOUBLE) * $salsaGrid.0 / idg) AS BIGINT) AS pg
         |       FROM (SELECT u, v, w, SUM(w) OVER (PARTITION BY v) AS idg FROM e)),
         |h0 AS (SELECT u, CAST(FLOOR($salsaGrid.0 / nh) AS BIGINT) AS hg FROM
         |  (SELECT DISTINCT u FROM e) CROSS JOIN
         |  (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS nh FROM e))""".stripMargin
    val iters = (1 to salsaIters).map { k =>
      val j = k - 1
      val prev = if (j == 0) "h0" else s"h$j"
      s"""a$k AS (SELECT pa.v,
         |    CAST(SUM(CAST(FLOOR(CAST(hg AS DOUBLE) * pg / $salsaGrid.0) AS BIGINT)) AS BIGINT) AS ag
         |  FROM $prev JOIN pa ON $prev.u = pa.u GROUP BY 1),
         |h$k AS (SELECT ph.u,
         |    CAST(SUM(CAST(FLOOR(CAST(ag AS DOUBLE) * pg / $salsaGrid.0) AS BIGINT)) AS BIGINT) AS hg
         |  FROM a$k JOIN ph ON a$k.v = ph.v GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT COALESCE(h.u, a.v) AS nationkey,
       |  COALESCE(h.hg, 0) AS hub_grid, COALESCE(a.ag, 0) AS auth_grid,
       |  CAST(COALESCE(h.hg, 0) AS DOUBLE) / $salsaGrid.0 AS hub,
       |  CAST(COALESCE(a.ag, 0) AS DOUBLE) / $salsaGrid.0 AS authority
       |FROM h$salsaIters h FULL OUTER JOIN a$salsaIters a ON h.u = a.v
       |ORDER BY nationkey""".stripMargin
  }

  // ---- weighted_jaccard: IDF-weighted set similarity ----

  /** IDF-weighted Jaccard over the LSH candidate pairs: wJ =
    * Σ_{s∈A∩B} idf(s) / Σ_{s∈A∪B} idf(s) with idf quantized to
    * round(1e6·ln(N/df)) BIGINTs — so boilerplate shingles shared by
    * half the corpus stop inflating similarity while rare content
    * dominates it, the standard refinement dedup pipelines apply when
    * template text (headers, licenses) pollutes plain Jaccard. All
    * weight sums are exact integer arithmetic; the df frame is
    * shingle-keyed (vocabulary-sized), the intersection weights ride
    * the same sparse candidate-verify join every other pair op uses.
    */
  def weightedJaccardQ(spark: SparkSession, dir: String): DataFrame = {
    // distinct (doc_id, shingle) rows, derived by exploding the
    // session's memoized per-doc shingle ARRAYS (already distinct) —
    // no second tokenize+dedup pass over the corpus
    val sh = Memo(spark, dir, "wave7:sh3")(
      QueriesText.shArr3(spark, dir)
        .select(col("doc_id"), explode(col("sh")).as("shingle")))
    val nDocs = Tables(spark, dir, "documents").agg(count(lit(1)).as("nd"))
    val idf = Memo(spark, dir, "wave7:shIdf")(
      sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nDocs))
        .select(col("shingle"),
          expr("CAST(round(ln(CAST(nd AS DOUBLE) / df) * 1e6) AS BIGINT)").as("idf6")))
    val docW = sh.join(idf, "shingle")
      .groupBy(col("doc_id")).agg(sum(col("idf6")).as("wsum"))
    val cands = QueriesText.lshCands(spark, dir)
    val sets = QueriesText.shArr3(spark, dir)
    // intersection weights: intersect the two memoized shingle ARRAYS
    // per candidate pair, explode only that sparse intersection, and
    // look idf up by shingle — NEVER the exploded-shingle self-join
    // (that cross product is exactly what the band join exists to avoid)
    val interW = cands
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        explode(array_intersect(col("sha"), col("shb"))).as("shingle"))
      .join(idf, "shingle")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("idf6")).as("iw"), count(lit(1)).as("inter"))
    val sizes = sets.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    // scored pairs memoized (lshPairs discipline): the candidate verify
    // + weight joins run once per session, later actions read the
    // bounded pair frame
    Memo(spark, dir, "wave7:wjPairs")(
      cands
        .join(interW, Seq("doc_a", "doc_b"), "left")
        .join(docW.select(col("doc_id").as("doc_a"), col("wsum").as("wa")), "doc_a")
        .join(docW.select(col("doc_id").as("doc_b"), col("wsum").as("wb")), "doc_b")
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (coalesce(col("iw"), lit(0L)).cast("double") /
            (col("wa") + col("wb") - coalesce(col("iw"), lit(0L))).cast("double"))
            .as("w_jaccard"),
          (coalesce(col("inter"), lit(0L)).cast("double") /
            (col("na") + col("nb") - coalesce(col("inter"), lit(0L))).cast("double"))
            .as("jaccard")))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val weightedJaccardSql: String =
    s"""WITH ${QueriesText.candCtes},
       |nd AS (SELECT COUNT(*) AS nd FROM documents),
       |idf AS (SELECT shingle,
       |    CAST(round(ln(CAST(nd.nd AS DOUBLE) / df) * 1e6) AS BIGINT) AS idf6
       |  FROM (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1), nd),
       |docw AS (SELECT doc_id, SUM(idf6) AS wsum
       |  FROM sh JOIN idf USING (shingle) GROUP BY 1),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |interw AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    SUM(idf.idf6) AS iw, COUNT(*) AS inter
       |  FROM sh a
       |  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
       |  JOIN idf ON idf.shingle = a.shingle
       |  GROUP BY 1, 2)
       |SELECT c.doc_a, c.doc_b,
       |  CAST(COALESCE(i.iw, 0) AS DOUBLE) /
       |    CAST(wa.wsum + wb.wsum - COALESCE(i.iw, 0) AS DOUBLE) AS w_jaccard,
       |  CAST(COALESCE(i.inter, 0) AS DOUBLE) /
       |    CAST(sa.n + sb.n - COALESCE(i.inter, 0) AS DOUBLE) AS jaccard
       |FROM cand c
       |LEFT JOIN interw i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |JOIN docw wa ON wa.doc_id = c.doc_a
       |JOIN docw wb ON wb.doc_id = c.doc_b
       |JOIN sizes sa ON sa.doc_id = c.doc_a
       |JOIN sizes sb ON sb.doc_id = c.doc_b
       |ORDER BY c.doc_a, c.doc_b""".stripMargin

  // ---- kfold_assign: stratified k-fold cross-validation plan ----

  val kFolds = 5

  /** Stratified 5-fold assignment plan: within each language stratum,
    * docs rank in md5 order and take fold = rank mod 5 — every stratum
    * splits to ±1-doc balance EXACTLY (not just in expectation), the
    * property a per-doc hash mod k can't give, and the ranking window
    * is partitioned by stratum so no single-partition sort exists at
    * any corpus size. Output: per (lang, fold) counts with each
    * stratum's max−min spread — the verifiable CV-split contract.
    */
  def kfoldAssignQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        md5(concat(lit("kfold:"), col("doc_id").cast("string"))).as("__h"))
      .withColumn("fold",
        ((row_number().over(Window.partitionBy(col("lang"))
          .orderBy(col("__h"), col("doc_id"))) - 1) % kFolds).cast("int"))
    ranked.groupBy(col("lang"), col("fold"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("spread",
        max(col("n_docs")).over(Window.partitionBy(col("lang"))) -
          min(col("n_docs")).over(Window.partitionBy(col("lang"))))
      .orderBy(col("lang"), col("fold"))
  }

  val kfoldAssignSql: String =
    s"""WITH ranked AS (SELECT lang,
       |    (ROW_NUMBER() OVER (PARTITION BY lang
       |       ORDER BY md5('kfold:' || CAST(doc_id AS VARCHAR)), doc_id) - 1) % $kFolds AS fold
       |  FROM documents),
       |counts AS (SELECT lang, CAST(fold AS INT) AS fold, COUNT(*) AS n_docs
       |  FROM ranked GROUP BY 1, 2)
       |SELECT lang, fold, n_docs,
       |  MAX(n_docs) OVER (PARTITION BY lang) - MIN(n_docs) OVER (PARTITION BY lang) AS spread
       |FROM counts ORDER BY lang, fold""".stripMargin

  // ---- lsh_tuning: banding-parameter planning table ----

  /** (bands, rows) configs with b·r = 16 (the signature family's size). */
  val lshConfigs: Seq[(Int, Int)] = Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))

  /** LSH banding-parameter tuning table: for every (b, r) split of the
    * 16-perm signature, the collision threshold t* = (1/b)^(1/r) and
    * the expected recall over the corpus's VERIFIED near-dup pairs —
    * E[1 − (1 − J^r)^b] with J each pair's exact Jaccard. This is the
    * planning step run before re-banding a 100 TB dedup: measured pair
    * similarities, not guesses, decide the operating point. Powers
    * expand to literal multiplication chains (exact IEEE ops, engine-
    * portable — no libm pow in data expressions); t* is a driver-side
    * literal; per-pair probabilities quantize to 1e-6 before the mean.
    */
  def lshTuningQ(spark: SparkSession, dir: String): DataFrame = {
    val pairs = QueriesText.lshPairs(spark, dir)
    lshConfigs.map { case (b, r) =>
      val jr = (1 to r).map(_ => "jaccard").mkString(" * ")
      val miss = s"(1.0 - $jr)"
      val missB = (1 to b).map(_ => miss).mkString(" * ")
      val tStar = math.pow(1.0 / b, 1.0 / r)
      pairs
        .select(expr(s"CAST(round((1.0 - $missB) * 1e6) AS BIGINT)").as("p6"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("p6")).as("__s"))
        .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          lit(tStar).as("t_star"), col("n_pairs"),
          (col("__s").cast("double") / 1e6 / col("n_pairs")).as("exp_recall"))
    }.reduce(_.unionAll(_)).orderBy(col("bands").desc)
  }

  val lshTuningSql: String = {
    val arms = lshConfigs.map { case (b, r) =>
      val jr = (1 to r).map(_ => "jaccard").mkString(" * ")
      val miss = s"(1.0 - $jr)"
      val missB = (1 to b).map(_ => miss).mkString(" * ")
      val tStar = math.pow(1.0 / b, 1.0 / r)
      s"""SELECT $b AS bands, $r AS rows_per_band, CAST($tStar AS DOUBLE) AS t_star,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(CAST(round((1.0 - $missB) * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / COUNT(*) AS exp_recall
         |FROM pairs""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${QueriesText.lshPairsCtes}
       |$arms
       |ORDER BY bands DESC""".stripMargin
  }

  // ---- hist_quantile_check: mergeable-histogram quantiles with a bound ----

  val hqBins = 32
  val hqPs: Seq[Double] = Seq(0.5, 0.9, 0.99)

  /** Mergeable-summary quantile check: each source contributes a 32-bin
    * equi-width histogram of doc length over the global catalog
    * [min, max]; the global histogram is their pure-algebra SUM (the
    * `mergeable_stats` discipline — how a 100 TB lake serves quantiles
    * without rescans); the p-quantile reads off the first bin whose
    * cumulative count reaches ⌈p·N⌉. The verdict hash-checks the
    * sketch's CONTRACT: the exact nearest-rank quantile (value-collapsed
    * frame, no global sort) lands inside that bin for every p.
    */
  def histQuantileCheckQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables(spark, dir, "documents")
    val bounds = d.agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"),
      count(lit(1)).as("nn"))
    val perSource = d.crossJoin(broadcast(bounds))
      .groupBy(col("source"),
        expr(s"least(greatest(((n_chars - lo) * $hqBins) div (hi - lo + 1), 0), ${hqBins - 1})")
          .as("b"))
      .agg(count(lit(1)).as("c"), max(col("lo")).as("lo"), max(col("hi")).as("hi"),
        max(col("nn")).as("nn"))
    val merged = perSource.groupBy(col("b"))
      .agg(sum(col("c")).as("c"), max(col("lo")).as("lo"), max(col("hi")).as("hi"),
        max(col("nn")).as("nn"))
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy(col("b")).rowsBetween(Window.unboundedPreceding, 0)))
    val ps = hqPs.map(p => s"SELECT CAST($p AS DOUBLE) AS p").mkString(" UNION ALL ")
    val targets = merged.sparkSession.sql(ps)
    val hit = targets.crossJoin(merged)
      .filter(col("cum") >= ceil(col("p") * col("nn")))
      .groupBy(col("p"))
      .agg(min(col("b")).as("bin"), max(col("lo")).as("lo"), max(col("hi")).as("hi"),
        max(col("nn")).as("nn"))
      .select(col("p"), col("bin"),
        expr(s"lo + (bin * (hi - lo + 1)) div $hqBins").as("bin_lo"),
        expr(s"lo + ((bin + 1) * (hi - lo + 1)) div $hqBins - 1").as("bin_hi"),
        col("nn"))
    val vals = d.groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, 0)))
    val exact = targets.crossJoin(vals.crossJoin(broadcast(bounds.select(col("nn").as("n2")))))
      .filter(col("cum") >= ceil(col("p") * col("n2")))
      .groupBy(col("p")).agg(min(col("v")).as("exact_q"))
    hit.join(exact, "p")
      .select(col("p"), col("bin"), col("bin_lo"), col("bin_hi"), col("exact_q"),
        (col("exact_q") >= col("bin_lo") && col("exact_q") <= col("bin_hi"))
          .as("within_bound"))
      .orderBy(col("p"))
  }

  val histQuantileCheckSql: String = {
    val ps = hqPs.map(p => s"SELECT CAST($p AS DOUBLE) AS p").mkString(" UNION ALL ")
    s"""WITH bounds AS (SELECT MIN(n_chars) AS lo, MAX(n_chars) AS hi, COUNT(*) AS nn
       |  FROM documents),
       |per_source AS (SELECT source,
       |    LEAST(GREATEST(((n_chars - lo) * $hqBins) // (hi - lo + 1), 0), ${hqBins - 1}) AS b,
       |    COUNT(*) AS c, MAX(lo) AS lo, MAX(hi) AS hi, MAX(nn) AS nn
       |  FROM documents, bounds GROUP BY 1, 2),
       |merged AS (SELECT b, SUM(c) AS c, MAX(lo) AS lo, MAX(hi) AS hi, MAX(nn) AS nn
       |  FROM per_source GROUP BY 1),
       |cum AS (SELECT *, SUM(c) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM merged),
       |targets AS ($ps),
       |hit AS (SELECT p, MIN(b) AS bin, MAX(lo) AS lo, MAX(hi) AS hi, MAX(nn) AS nn
       |  FROM targets, cum WHERE cum >= CEIL(p * nn) GROUP BY p),
       |vals AS (SELECT n_chars AS v, COUNT(*) AS c FROM documents GROUP BY 1),
       |vcum AS (SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM vals),
       |exact AS (SELECT p, MIN(v) AS exact_q
       |  FROM targets, vcum, bounds WHERE cum >= CEIL(p * nn) GROUP BY p)
       |SELECT h.p, CAST(h.bin AS BIGINT) AS bin,
       |  CAST(h.lo + (h.bin * (h.hi - h.lo + 1)) // $hqBins AS BIGINT) AS bin_lo,
       |  CAST(h.lo + ((h.bin + 1) * (h.hi - h.lo + 1)) // $hqBins - 1 AS BIGINT) AS bin_hi,
       |  CAST(e.exact_q AS BIGINT) AS exact_q,
       |  e.exact_q >= h.lo + (h.bin * (h.hi - h.lo + 1)) // $hqBins
       |    AND e.exact_q <= h.lo + ((h.bin + 1) * (h.hi - h.lo + 1)) // $hqBins - 1
       |    AS within_bound
       |FROM hit h JOIN exact e ON e.p = h.p
       |ORDER BY h.p""".stripMargin
  }

  // ---- voptimal_hist: V-optimal histogram cost curve ----

  val voptMaxBuckets = 8

  /** V-optimal histogram construction (Jagadish et al., VLDB'98 — the
    * optimizer-stats structure equi-width/equi-depth only approximate):
    * the exact minimal within-bucket SSE for every bucket budget
    * k = 1..8 over the l_quantity distribution. The dynamic program
    * runs ON THE VALUE DOMAIN, not the data: one scan collapses the
    * fact table to ≤|V| (value, count) rows, prefix moments P/S/Q make
    * every interval's SSE O(1) via SSE(i,j] = (ΔQ·ΔP − ΔS²)/ΔP
    * (numerators on DECIMAL(38,0) so 100 TB counts can't overflow;
    * each cell quantized to the 1e-6 grid), and the k-th DP layer is a
    * broadcast join of the previous ≤|V|-row layer with the |V|²-cell
    * SSE table — 7 tiny joins, memoized per layer like the pagerank
    * iterates. Output: the cost curve (k, sse) whose knee picks the
    * bucket budget — the planning signal, no backtrace needed.
    */
  def voptimalHistQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pre = Memo(spark, dir, "wave7:voptPrefix") {
      val vals = Tables(spark, dir, "lineitem")
        .groupBy(col("l_quantity").cast("long").as("v"))
        .agg(count(lit(1)).as("c"))
      val win = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, 0)
      val withPre = vals
        .withColumn("i", row_number().over(Window.orderBy(col("v"))))
        .withColumn("p", sum(col("c")).over(win))
        .withColumn("s", sum(col("c") * col("v")).over(win))
        .withColumn("q", sum(col("c") * col("v") * col("v")).over(win))
        .select(col("i").cast("long").as("i"), col("p"), col("s"), col("q"))
      withPre.unionAll(
        vals.sparkSession.sql("SELECT CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS p, CAST(0 AS BIGINT) AS s, CAST(0 AS BIGINT) AS q"))
    }
    val sse = Memo(spark, dir, "wave7:voptSse")(
      pre.select(col("i").as("i0"), col("p").as("p0"), col("s").as("s0"), col("q").as("q0"))
        .join(pre.select(col("i").as("j"), col("p").as("pj"), col("s").as("sj"), col("q").as("qj")),
          col("i0") < col("j"))
        .select(col("i0").as("i"), col("j"),
          expr("""CAST(round(1e6 * CAST(
                 |  (CAST(qj - q0 AS DECIMAL(38,0)) * (pj - p0) -
                 |   CAST(sj - s0 AS DECIMAL(38,0)) * (sj - s0)) AS DOUBLE)
                 |  / (pj - p0)) AS BIGINT)""".stripMargin).as("s6")))
    val nV = pre.agg(max(col("i")).as("nv"))
    val e1 = Memo(spark, dir, "wave7:voptE1")(
      sse.filter(col("i") === 0L).select(col("j"), col("s6").as("cost")))
    val layers = (2 to voptMaxBuckets).scanLeft(e1) { (prev, k) =>
      Memo(spark, dir, s"wave7:voptE$k")(
        broadcast(prev.select(col("j").as("i"), col("cost").as("pc")))
          .join(sse, Seq("i"))
          .groupBy(col("j"))
          .agg(min(col("pc") + col("s6")).as("cost")))
    }
    // literal checkpoint: the curve is 8 bounded rows, but its lazy
    // plan nests 8 DP layers of cached lineage — replanning that tree
    // costs seconds per action; collect once per session (the salsa /
    // kmeansCentroids discipline)
    Memo(spark, dir, "wave7:voptCurve") {
      import spark.implicits._
      layers.zipWithIndex.map { case (e, idx) =>
        e.crossJoin(broadcast(nV)).filter(col("j") === col("nv"))
          .select(lit(idx + 1).as("n_buckets"), col("cost").as("sse_q"))
      }.reduce(_.unionAll(_))
        .as[(Int, Long)].collect().toSeq
        .toDF("n_buckets", "sse_q")
    }
      .select(col("n_buckets"), col("sse_q"),
        (col("sse_q").cast("double") / 1e6).as("sse"))
      .orderBy(col("n_buckets"))
  }

  val voptimalHistSql: String = {
    val layers = (2 to voptMaxBuckets).map { k =>
      val j = k - 1
      s"""e$k AS (SELECT s.j, MIN(e$j.cost + s.s6) AS cost
         |  FROM e$j JOIN sse s ON s.i = e$j.j GROUP BY s.j)""".stripMargin
    }.mkString(",\n")
    val arms = (1 to voptMaxBuckets).map { k =>
      s"""SELECT $k AS n_buckets, e$k.cost AS sse_q, CAST(e$k.cost AS DOUBLE) / 1e6 AS sse
         |FROM e$k, nv WHERE e$k.j = nv.nv""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH vals AS (SELECT CAST(l_quantity AS BIGINT) AS v, COUNT(*) AS c
       |  FROM lineitem GROUP BY 1),
       |pre0 AS (SELECT ROW_NUMBER() OVER (ORDER BY v) AS i,
       |    SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS p,
       |    SUM(c * v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS s,
       |    SUM(c * v * v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS q
       |  FROM vals),
       |pre AS (SELECT * FROM pre0
       |  UNION ALL SELECT 0, 0, 0, 0),
       |sse AS (SELECT a.i AS i, b.i AS j,
       |    CAST(round(1e6 * CAST((CAST(b.q - a.q AS HUGEINT) * (b.p - a.p)
       |      - CAST(b.s - a.s AS HUGEINT) * (b.s - a.s)) AS DOUBLE)
       |      / (b.p - a.p)) AS BIGINT) AS s6
       |  FROM pre a JOIN pre b ON a.i < b.i),
       |nv AS (SELECT MAX(i) AS nv FROM pre),
       |e1 AS (SELECT j, s6 AS cost FROM sse WHERE i = 0),
       |$layers
       |$arms
       |ORDER BY n_buckets""".stripMargin
  }

  // ---- registry ----

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cms_join_est" -> (cmsJoinEstQ _),
    "bbit_minhash" -> (bbitMinhashQ _),
    "hill_tail" -> (hillTailQ _),
    "containment_sim" -> (containmentSimQ _),
    "mm_phash_dup" -> (mmPhashDupQ _),
    "norm_text_dedup" -> (normTextDedupQ _),
    "cusum_changepoint" -> (cusumChangepointQ _),
    "window_funnel" -> (windowFunnelQ _),
    "sax_symbols" -> (saxSymbolsQ _),
    "curriculum_plan" -> (curriculumPlanQ _),
    "kn_bigram_lm" -> (knBigramLmQ _),
    "salsa_scores" -> (salsaScoresQ _),
    "weighted_jaccard" -> (weightedJaccardQ _),
    "kfold_assign" -> (kfoldAssignQ _),
    "lsh_tuning" -> (lshTuningQ _),
    "hist_quantile_check" -> (histQuantileCheckQ _),
    "voptimal_hist" -> (voptimalHistQ _)
  )

  def oracleSql: Map[String, String] = Map(
    "cms_join_est" -> cmsJoinEstSql,
    "bbit_minhash" -> bbitMinhashSql,
    "hill_tail" -> hillTailSql,
    "containment_sim" -> containmentSimSql,
    "mm_phash_dup" -> mmPhashDupSql,
    "norm_text_dedup" -> normTextDedupSql,
    "cusum_changepoint" -> cusumChangepointSql,
    "window_funnel" -> windowFunnelSql,
    "sax_symbols" -> saxSymbolsSql,
    "curriculum_plan" -> curriculumPlanSql,
    "kn_bigram_lm" -> knBigramLmSql,
    "salsa_scores" -> salsaScoresSql,
    "weighted_jaccard" -> weightedJaccardSql,
    "kfold_assign" -> kfoldAssignSql,
    "lsh_tuning" -> lshTuningSql,
    "hist_quantile_check" -> histQuantileCheckSql,
    "voptimal_hist" -> voptimalHistSql
  )
}
