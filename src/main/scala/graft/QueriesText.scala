package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, Similarity, TextAnalysis, TextOps}

/** LLM-training-data pipeline queries (SURVEY.md §2 rows 19-30):
  * dedup, similarity search, text analysis, multimodal plumbing.
  *
  * Oracle-parity strategy: every hash is md5 (identical hex in DuckDB),
  * every float comparison goes through integer quantization or fixed-order
  * double expressions, and SQL fragments are generated from the same
  * constants the Spark operators use.
  */
object QueriesText extends QueryModule {

  // Shared DuckDB SQL fragments (mirror TextOps exactly).
  private[graft] val wordsCte =
    """w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x != '') AS ws
      |       FROM documents)""".stripMargin

  private def shinglesCte(k: Int, name: String): String = {
    val expr = (0 until k).map(j => s"ws[i${if (j == 0) "" else s"+$j"}]").mkString(" || ' ' || ")
    s"""$name AS (SELECT DISTINCT doc_id, shingle FROM (
       |  SELECT doc_id, $expr AS shingle
       |  FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - ${k - 2}, 1))) AS i FROM w)))""".stripMargin
  }

  private val sigsCte: String = {
    val mins = (0 until TextOps.numPerms)
      .map(i => s"MIN(md5('$i:' || shingle)) AS m$i")
      .mkString(", ")
    s"sigs AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id)"
  }

  // ---- row 19: exact dedup ----

  def exactDedupQ(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val groups = d
      .groupBy(md5(col("text")).as("__h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("group_n"))
    d.select(col("doc_id"), md5(col("text")).as("__h"))
      .join(groups, "__h")
      .select(col("doc_id"), col("keep_id"), col("group_n"))
      .orderBy(col("doc_id"))
  }

  val exactDedupSql: String =
    """SELECT d.doc_id, g.keep_id, g.group_n
      |FROM documents d
      |JOIN (SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS group_n
      |      FROM documents GROUP BY 1) g
      |  ON md5(d.text) = g.h
      |ORDER BY d.doc_id""".stripMargin

  // ---- row 20: minhash signatures ----

  /** Wide minhash signatures (doc_id, m0..m15), materialized once per
    * session — the base of minhash_sig, the LSH bands, and (via the
    * verified pairs) dup_clusters.
    */
  /** Memoized tokenized corpus — (doc_id, lang, source, n_chars, __ws):
    * ONE split/lower tokenization pass over the documents table, cached
    * per session and serving every site that previously re-read the
    * parquet text column and re-tokenized per execution (~40 sites;
    * guide §2.4 share the expensive subtree, §6 read the large column
    * once). Consumers project just the columns they use. Sites that
    * need the RAW text (regex-based filters, raw-hash dedup) keep
    * scanning parquet — a memo join would cost more than it saves.
    */
  private[graft] def toks(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    // companion columns that exist in this documents table (test
    // fixtures use narrower schemas than the generator's)
    val extra = Seq("lang", "source", "n_chars").filter(d.columns.contains)
    Memo(spark, dir, "text:toks")(
      d.select((col("doc_id") +: extra.map(col)) :+ TextOps.tokensExpr.as("__ws"): _*))
  }

  /** Per-doc distinct 3-shingles, exploded, materialized once per
    * session: ngram_novelty and contamination each referenced this
    * frame twice (self-join shape), so every execution re-tokenized and
    * re-exploded the whole corpus twice — the two largest exec times of
    * the round's profile (2.04 s / 0.93 s at sf0.1). One cached build
    * serves all consumers incl. the minhash signature base
    * (guide §2.4: share the expensive subtree; §5: persist only reused
    * frames). */
  private[graft] def shingles3(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "text:shingles3")(
      TextOps.docShinglesToks(toks(spark, dir), 3))

  private[graft] def mhWide(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "mhWide")(
      TextOps.minhashWide(shingles3(spark, dir)))

  /** Per-doc distinct 3-shingle sets, materialized once (pair verify). */
  private[graft] def shArr3(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "shArr3")(
      TextOps.shingleArraysToks(toks(spark, dir).select(col("doc_id"), col("__ws")), 3))

  /** Collapsed LSH candidate pairs, materialized once per session —
    * the multi-join rep/band/expand pipeline behind SIX query paths
    * (bbit_minhash, containment_sim, ngram_jaccard, the LSH audits,
    * lsh_tuning) and the verified lshPairs build re-ran it per
    * execution; the frame is candidate-bounded (pair rows, no
    * payloads), so it is exactly the "materialize the signature/pair
    * tables once" discipline (guide §2.4). */
  private[graft] def lshCands(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "text:lshCands")(
      TextOps.lshCandidatesCollapsed(mhWide(spark, dir)))

  def minhashSigQ(spark: SparkSession, dir: String): DataFrame =
    mhWide(spark, dir)
      .select(
        col("doc_id"),
        posexplode(array((0 until TextOps.numPerms).map(i => col(s"m$i")): _*)))
      .withColumnRenamed("pos", "seed")
      .withColumnRenamed("col", "minhash")
      .orderBy(col("doc_id"), col("seed"))

  val minhashSigSql: String = {
    val arms = (0 until TextOps.numPerms)
      .map(i => s"SELECT doc_id, $i AS seed, m$i AS minhash FROM sigs")
      .mkString("\nUNION ALL\n")
    s"""WITH $wordsCte,
       |${shinglesCte(3, "sh")},
       |$sigsCte
       |$arms
       |ORDER BY doc_id, seed""".stripMargin
  }

  // ---- row 21: MinHash-LSH near-dup pairs ----

  val lshTau = 0.6

  /** Verified (jaccard ≥ τ) near-dup pairs, materialized once — served
    * to minhash_lsh_dup and closed transitively by dup_clusters.
    */
  private[graft] def lshPairs(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "lshPairs") {
      val cands = lshCands(spark, dir)
      // Verify candidates against whole shingle SETS (array_intersect):
      // the sparse candidate list joins the per-doc set twice — no second
      // exploded-shingle self-join, three document scans total.
      val sets = shArr3(spark, dir)
      cands
        .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
        .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
        .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
        .select(
          col("doc_a"), col("doc_b"),
          (col("inter").cast("double") /
            (size(col("sha")) + size(col("shb")) - col("inter")).cast("double")).as("jaccard"))
        .filter(col("jaccard") >= lshTau)
    }

  def minhashLshDupQ(spark: SparkSession, dir: String): DataFrame =
    lshPairs(spark, dir).orderBy(col("doc_a"), col("doc_b"))

  // ---- row 21d: incremental (ingest-batch) dedup ----

  /** Deterministic batch split: docs with doc_id % 10 == 9 play the
    * newly-ingested batch, the rest the standing corpus.
    */
  private val isNewDoc = col("doc_id") % 10 === 9

  /** Dedup of an ingest batch AGAINST the standing corpus — the
    * incremental form every 100 TB pipeline actually runs (the corpus
    * side's signatures/bands are already materialized; only the batch is
    * fresh work). Per new doc: exact_dup (content hash seen in the
    * corpus), near_dup (an LSH-band candidate verified at jaccard ≥ τ),
    * and the band-candidate count. Asymmetric band join — new×corpus
    * only, never corpus×corpus.
    */
  def incrementalDedupQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val bands = TextOps.lshBands(mhWide(spark, dir))
    val cand = bands.filter(isNewDoc)
      .select(col("doc_id").as("new_id"), col("band"), col("band_key"))
      .join(
        bands.filter(!isNewDoc)
          .select(col("doc_id").as("old_id"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .select(col("new_id"), col("old_id")).distinct()
    val sets = shArr3(spark, dir)
    val near = cand
      .join(sets.select(col("doc_id").as("new_id"), col("sh").as("sha")), "new_id")
      .join(sets.select(col("doc_id").as("old_id"), col("sh").as("shb")), "old_id")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .filter(
        col("inter").cast("double") /
          (size(col("sha")) + size(col("shb")) - col("inter")).cast("double") >= lshTau)
      .select(col("new_id")).distinct()
      .withColumn("near_dup", lit(true))
    val candCnt = cand.groupBy(col("new_id")).agg(count(lit(1)).as("n_band_cands"))
    val exact = docs.filter(isNewDoc)
      .select(col("doc_id").as("new_id"), md5(col("text")).as("__h"))
      .join(
        docs.filter(!isNewDoc).select(md5(col("text")).as("__h")).distinct(),
        Seq("__h"), "left_semi")
      .select(col("new_id")).distinct()
      .withColumn("exact_dup", lit(true))
    docs.filter(isNewDoc)
      .select(col("doc_id").as("new_id"))
      .join(candCnt, Seq("new_id"), "left")
      .join(near, Seq("new_id"), "left")
      .join(exact, Seq("new_id"), "left")
      .select(
        col("new_id").as("doc_id"),
        coalesce(col("n_band_cands"), lit(0L)).as("n_band_cands"),
        coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
        coalesce(col("near_dup"), lit(false)).as("near_dup"))
      .orderBy(col("doc_id"))
  }

  def incrementalDedupSql: String =
    s"""WITH $wordsCte,
       |${shinglesCte(3, "sh")},
       |$sigsCte,
       |bands AS (
       |$bandArms
       |),
       |cand AS (SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
       |         FROM bands n JOIN bands o
       |           ON n.band = o.band AND n.band_key = o.band_key
       |         WHERE n.doc_id % 10 = 9 AND o.doc_id % 10 != 9),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT c.new_id, c.old_id, COUNT(*) AS inter
       |          FROM sh a
       |          JOIN cand c ON c.new_id = a.doc_id
       |          JOIN sh b ON b.doc_id = c.old_id AND b.shingle = a.shingle
       |          GROUP BY 1, 2),
       |near AS (SELECT DISTINCT new_id FROM inter
       |         JOIN sizes sa ON sa.doc_id = new_id
       |         JOIN sizes sb ON sb.doc_id = old_id
       |         WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= $lshTau),
       |cand_cnt AS (SELECT new_id, COUNT(*) AS n_band_cands FROM cand GROUP BY 1),
       |ex AS (SELECT DISTINCT n.doc_id AS new_id
       |       FROM documents n
       |       JOIN documents o ON md5(n.text) = md5(o.text) AND o.doc_id % 10 != 9
       |       WHERE n.doc_id % 10 = 9)
       |SELECT d.doc_id,
       |  COALESCE(cc.n_band_cands, 0) AS n_band_cands,
       |  ex.new_id IS NOT NULL AS exact_dup,
       |  nr.new_id IS NOT NULL AS near_dup
       |FROM documents d
       |LEFT JOIN cand_cnt cc ON cc.new_id = d.doc_id
       |LEFT JOIN ex ON ex.new_id = d.doc_id
       |LEFT JOIN near nr ON nr.new_id = d.doc_id
       |WHERE d.doc_id % 10 = 9
       |ORDER BY d.doc_id""".stripMargin

  /** LSH band arms (doc_id, band, band_key) — shared by the corpus-wide
    * pair CTEs and the incremental (new-batch × corpus) variant.
    */
  private val bandArms: String =
    (0 until TextOps.numBands)
      .map(b => s"SELECT doc_id, $b AS band, md5(m${2 * b} || m${2 * b + 1}) AS band_key FROM sigs")
      .mkString("\nUNION ALL\n")

  /** Shared CTE block ending in `pairs` (verified near-dup pairs) —
    * minhash_lsh_dup selects from it directly, dup_clusters closes over
    * it transitively.
    */
  /** CTE block ending in `cand` (the LSH band-join candidate pairs) plus
    * the 3-shingle machinery (`w`, `sh`, `sigs`, `bands`) — the shared
    * prefix of every oracle that consumes band candidates.
    */
  private[graft] val candCtes: String =
    s"""$wordsCte,
       |${shinglesCte(3, "sh")},
       |$sigsCte,
       |bands AS (
       |$bandArms
       |),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)""".stripMargin

  private[graft] val lshPairsCtes: String = {
    s"""$candCtes,
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |          FROM sh a
       |          JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
       |          GROUP BY 1, 2),
       |pairs AS (SELECT doc_a, doc_b,
       |    CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= $lshTau)""".stripMargin
  }

  val minhashLshDupSql: String =
    s"""WITH $lshPairsCtes
       |SELECT doc_a, doc_b, jaccard FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- row 21e: dedup-method agreement audit ----

  /** Pair-level agreement between the two near-dup detectors — the
    * dedup counterpart of ann_recall's eval loop: before trusting a
    * cheaper method at 100 TB, measure how far its pair set diverges
    * from the established one. Both pair frames are the session's
    * memoized products; the audit is one semi-join + three counts, no
    * corpus rescans. `agreement` is pair-set Jaccard.
    */
  def dedupMethodAgreementQ(spark: SparkSession, dir: String): DataFrame = {
    val a = lshPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    val b = simhashPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    a.agg(count(lit(1)).as("n_minhash"))
      .crossJoin(b.agg(count(lit(1)).as("n_simhash")))
      .crossJoin(a.join(b, Seq("doc_a", "doc_b"), "leftsemi")
        .agg(count(lit(1)).as("n_both")))
      .select(col("n_minhash"), col("n_simhash"), col("n_both"),
        (col("n_both").cast("double") /
          greatest(col("n_minhash") + col("n_simhash") - col("n_both"), lit(1L))
            .cast("double")).as("agreement"))
  }

  // lazy: simhashDupSql is declared later in this object
  lazy val dedupMethodAgreementSql: String =
    s"""WITH a AS (SELECT doc_a, doc_b FROM ($minhashLshDupSql)),
       |b AS (SELECT doc_a, doc_b FROM ($simhashDupSql)),
       |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_minhash FROM a),
       |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_simhash FROM b),
       |nboth AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_both
       |          FROM a JOIN b USING (doc_a, doc_b))
       |SELECT na.n_minhash, nb.n_simhash, nboth.n_both,
       |  CAST(nboth.n_both AS DOUBLE) /
       |    CAST(GREATEST(na.n_minhash + nb.n_simhash - nboth.n_both, 1) AS DOUBLE)
       |    AS agreement
       |FROM na, nb, nboth""".stripMargin

  // ---- row 21b: near-dup cluster resolution ----

  /** Transitive closure of the verified LSH pairs → one cluster id (the
    * minimum member doc_id) per involved document; the keep-list of a
    * dedup pass is then `doc_id == cluster_id`.
    */
  /** Connected components over the verified pairs, materialized once —
    * shared by dup_clusters and dedup_keep_best.
    */
  private[graft] def dupComponents(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "dupComponents")(
      graft.operators.Components
        .connectedComponents(lshPairs(spark, dir), "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("label").as("cluster_id")))

  def dupClustersQ(spark: SparkSession, dir: String): DataFrame =
    dupComponents(spark, dir).orderBy(col("doc_id"))

  /** CTE chain ending in `clusters` (doc_id, cluster_id) — the recursive
    * closure of the verified pairs; shared by dup_clusters and
    * dedup_keep_best.
    */
  private[graft] val clustersCtes: String =
    s"""$lshPairsCtes,
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(node, r) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node
       |),
       |clusters AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node)""".stripMargin

  val dupClustersSql: String =
    s"""WITH RECURSIVE $clustersCtes
       |SELECT doc_id, cluster_id FROM clusters ORDER BY doc_id""".stripMargin

  // ---- row 21c: benchmark contamination check ----

  /** The decontamination primitive: which corpus documents share word
    * 3-grams with a held-out "benchmark" probe set (here the
    * deterministic slice doc_id < contamProbeMax)? The probe shingle set
    * is tiny and broadcast; the corpus side streams once — the standard
    * n-gram-overlap decontamination pass at any scale.
    */
  val contamProbeMax = 10L
  val contamMinOverlap = 2L

  /** Per-doc n-gram novelty: the share of a document's distinct 3-word
    * shingles that occur in NO other document (corpus df = 1) — the
    * "how much of this doc is new text" curation signal (boilerplate
    * and template docs score near 0). One df aggregation over the
    * shared shingle frame, joined back shingle-keyed — same bucketed
    * shape as the dedup family, no all-pairs anything. Docs under 3
    * words have no shingles and drop out (same in the oracle).
    */
  def ngramNoveltyQ(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles3(spark, dir)
    // A shingle with corpus df == 1 has exactly ONE (doc_id, shingle)
    // row, so its owning doc falls out of the same groupBy(shingle)
    // that computes df — the old formulation joined the FULL shingle
    // table back against the df aggregate (one extra shuffle of every
    // occurrence) to recover what min(doc_id) already carries. Two
    // keyed aggregates + a per-doc join replace agg + full-table join
    // + agg; the summed quantities are identical integers.
    val uniq = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"))
      .filter(col("df") === 1)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_unique"))
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      .join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        (coalesce(col("n_unique"), lit(0L)).cast("double") /
          col("n_shingles").cast("double")).as("novelty"))
      .orderBy(col("doc_id"))
  }

  val ngramNoveltySql: String =
    s"""WITH $wordsCte,
       |${shinglesCte(3, "sh")},
       |df AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY 1)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
       |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty
       |FROM sh JOIN df USING (shingle) GROUP BY 1 ORDER BY 1""".stripMargin

  def contaminationQ(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles3(spark, dir)
    val probes = sh.filter(col("doc_id") < contamProbeMax)
      .select(col("doc_id").as("probe_id"), col("shingle"))
    val corpus = sh.filter(col("doc_id") >= contamProbeMax)
    corpus
      .join(broadcast(probes), "shingle")
      .groupBy(col("doc_id"), col("probe_id"))
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= contamMinOverlap)
      .orderBy(col("doc_id"), col("probe_id"))
  }

  val contaminationSql: String =
    s"""WITH $wordsCte,
       |${shinglesCte(3, "sh")}
       |SELECT c.doc_id, p.doc_id AS probe_id, CAST(COUNT(*) AS BIGINT) AS overlap
       |FROM sh c JOIN sh p ON c.shingle = p.shingle
       |WHERE p.doc_id < $contamProbeMax AND c.doc_id >= $contamProbeMax
       |GROUP BY 1, 2
       |HAVING COUNT(*) >= $contamMinOverlap
       |ORDER BY 1, 2""".stripMargin

  // ---- row 19b: lead-prefix dedup ----

  /** Boilerplate/lead dedup: documents sharing the same first-K-word
    * prefix (news-wire copies and mirrored pages share lead paragraphs
    * even when tails diverge) — md5 of the joined 10-word prefix, keep
    * the lowest doc_id per group. Pure expressions + one keyed
    * aggregation.
    */
  val prefixWords = 10

  def prefixDedupQ(spark: SparkSession, dir: String): DataFrame = {
    val withPrefix = toks(spark, dir)
      .select(col("doc_id"), col("__ws"))
      .withColumn("prefix_md5",
        md5(expr(s"array_join(slice(__ws, 1, $prefixWords), ' ')")))
    val groups = withPrefix
      .groupBy(col("prefix_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("group_n"))
    withPrefix
      .select(col("doc_id"), col("prefix_md5"))
      .join(groups, "prefix_md5")
      .select(col("doc_id"), col("prefix_md5"), col("keep_id"), col("group_n"))
      .orderBy(col("doc_id"))
  }

  val prefixDedupSql: String =
    s"""WITH $wordsCte,
       |wp AS (SELECT doc_id, md5(array_to_string(ws[1:$prefixWords], ' ')) AS prefix_md5 FROM w),
       |g AS (SELECT prefix_md5, MIN(doc_id) AS keep_id, COUNT(*) AS group_n
       |      FROM wp GROUP BY 1)
       |SELECT wp.doc_id, wp.prefix_md5, g.keep_id, g.group_n
       |FROM wp JOIN g USING (prefix_md5)
       |ORDER BY wp.doc_id""".stripMargin

  // ---- row 22: SimHash near-dup pairs ----

  val simhashMaxHamming = 3

  /** Verified simhash near-dup pairs; the bands frame feeds 4 candidate
    * self-joins + 2 verify joins — materialize it once instead of
    * recomputing the aggregation per branch.
    */
  private[graft] def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    // the verified PAIR frame is the shared product (simhash_dup,
    // simhash_clusters, dedup_method_agreement reference it up to twice
    // per plan) — memoize it, not just the band frame, or the band
    // self-join re-runs on every reference. Warehouse-persisted
    // ([[Checkpoint]], content-fingerprint-keyed on documents): the
    // verified pair SET is a deterministic integer frame, and
    // rebuilding it costs the banded self-join + hamming verify per
    // session (~8 s of the r13 warm pass). Bounded by the measured
    // band selectivity (PairGrowthAuditSpec), so the artifact stays
    // corpus-pair-sized, not all-pairs-sized.
    Memo(spark, dir, "simhashPairs")(
      Checkpoint(spark, dir, "simhash_pairs")(
        Checkpoint.tableFingerprint(spark, dir, "documents")) {
        TextOps.simhashDups(
          Memo(spark, dir, "simhashBands")(
            TextOps.simhashBandsToks(toks(spark, dir).select(col("doc_id"), col("__ws")))),
          simhashMaxHamming)
      })

  def simhashDupQ(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(spark, dir).orderBy(col("doc_a"), col("doc_b"))

  /** CTE chain ending in `sdup` (doc_a, doc_b, hamming) — shared by
    * simhash_dup and simhash_clusters.
    */
  private[graft] val simhashPairCtes: String = {
    val wide = (0 until 4)
      .map(b => s"SUM(CASE WHEN band = $b THEN bv ELSE 0 END) AS b$b")
      .mkString(", ")
    val candArms = (0 until 4)
      .map(b =>
        s"SELECT l.doc_id AS doc_a, r.doc_id AS doc_b FROM wide l JOIN wide r ON l.b$b = r.b$b AND l.doc_id < r.doc_id")
      .mkString("\nUNION ALL\n")
    val ham = (0 until 4)
      .map(b => s"bit_count(xor(la.b$b, lb.b$b))")
      .mkString(" + ")
    s"""$wordsCte,
       |tok AS (SELECT DISTINCT doc_id, word FROM (SELECT doc_id, unnest(ws) AS word FROM w)),
       |bits AS (
       |  SELECT doc_id, i,
       |    ((strpos('0123456789abcdef', substr(md5(word), CAST(i // 4 AS INT) + 1, 1)) - 1)
       |      >> (3 - CAST(i % 4 AS INT))) & 1 AS bit
       |  FROM tok, (SELECT unnest(range(0, 64)) AS i)),
       |sums AS (SELECT doc_id, i, SUM(bit * 2 - 1) AS s FROM bits GROUP BY 1, 2),
       |sig AS (SELECT doc_id, i, CASE WHEN s >= 0 THEN 1 ELSE 0 END AS sb FROM sums),
       |bnd AS (SELECT doc_id, CAST(i // 16 AS INT) AS band,
       |               CAST(SUM(sb * CAST(pow(2.0, 15 - CAST(i % 16 AS INT)) AS BIGINT)) AS BIGINT) AS bv
       |        FROM sig GROUP BY 1, 2),
       |wide AS MATERIALIZED (SELECT doc_id, $wide FROM bnd GROUP BY doc_id),
       |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
       |$candArms
       |)),
       |sdup AS MATERIALIZED (SELECT c.doc_a, c.doc_b, CAST($ham AS BIGINT) AS hamming
       |  FROM cand c
       |  JOIN wide la ON la.doc_id = c.doc_a
       |  JOIN wide lb ON lb.doc_id = c.doc_b
       |  WHERE $ham <= $simhashMaxHamming)""".stripMargin
  }

  val simhashDupSql: String =
    s"""WITH $simhashPairCtes
       |SELECT doc_a, doc_b, hamming FROM sdup ORDER BY doc_a, doc_b""".stripMargin

  // ---- row 22d: simhash near-dup clusters ----

  /** Connected components over the verified simhash pairs — the cluster
    * resolution step of the simhash dedup leg (same Pregel-style
    * min-label propagation as dup_clusters, edge-list-only shuffles).
    */
  def simhashClustersQ(spark: SparkSession, dir: String): DataFrame =
    simhashComponentsFrame(spark, dir).orderBy(col("doc_id"))

  /** Warehouse-persisted connected components over the verified
    * simhash pairs: min-label propagation is deterministic (labels are
    * min doc ids), and rebuilding costs the Pregel rounds per session
    * (~5 s of the r13 warm pass). Keyed by the same documents
    * fingerprint as the pair frame it closes over. */
  private[graft] def simhashComponentsFrame(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "simhashComponents")(
      Checkpoint(spark, dir, "simhash_components")(
        Checkpoint.tableFingerprint(spark, dir, "documents")) {
        graft.operators.Components
          .connectedComponents(simhashPairs(spark, dir), "doc_a", "doc_b")
          .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      })

  val simhashClustersSql: String =
    s"""WITH RECURSIVE $simhashPairCtes,
       |sedges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM sdup
       |           UNION ALL SELECT doc_b, doc_a FROM sdup),
       |sreach(node, r) AS (
       |  SELECT a, a FROM sedges
       |  UNION
       |  SELECT e.a, r.r FROM sedges e JOIN sreach r ON e.b = r.node
       |),
       |sclusters AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM sreach GROUP BY node)
       |SELECT doc_id, cluster_id FROM sclusters ORDER BY doc_id""".stripMargin

  // ---- row 23: n-gram Jaccard over (lang, source) candidate pairs ----

  /** Exact word-bigram Jaccard for same-(lang, source) LSH candidate
    * pairs — the verify leg of the n-gram dedup path. The candidate set
    * is the memoized 3-shingle MinHash band join (signature-collapsed),
    * NOT an all-pairs blow-up per (lang, source) group: at 100 TB a
    * single (lang, source) slice is millions of documents and all-pairs
    * is 10¹²; the band join materializes only probable near-dups, and
    * the bigram-set intersect ships each doc's distinct bigram SET once
    * per surviving candidate. Candidates first join a SLIM
    * (doc_id, lang, source) projection so cross-(lang, source) pairs
    * die before either side's bigram array enters a shuffle; only
    * same-group survivors attach the sets. Pairs with an empty bigram
    * intersection are dropped (inter > 0).
    */
  def ngramJaccardQ(spark: SparkSession, dir: String): DataFrame = {
    val sets = Memo(spark, dir, "shArr2ls")(
      TextOps.shingleArraysToks(
        toks(spark, dir).select(col("doc_id"), col("lang"), col("source"), col("__ws")), 2))
    val meta = sets.select(col("doc_id"), col("lang"), col("source"))
    val arrs = sets.select(col("doc_id"), col("sh"), size(col("sh")).as("n"))
    lshCands(spark, dir)
      .join(meta.select(col("doc_id").as("doc_a"), col("lang"), col("source")), "doc_a")
      .join(meta.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
        col("source").as("source_b")), "doc_b")
      .filter(col("lang") === col("lang_b") && col("source") === col("source_b"))
      .join(arrs.select(col("doc_id").as("doc_a"), col("sh").as("sha"),
        col("n").as("na")), "doc_a")
      .join(arrs.select(col("doc_id").as("doc_b"), col("sh").as("shb"),
        col("n").as("nb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .filter(col("inter") > 0)
      .select(
        col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val ngramJaccardSql: String =
    s"""WITH $wordsCte,
       |${shinglesCte(3, "sh")},
       |$sigsCte,
       |bands AS (
       |$bandArms
       |),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |sets AS (SELECT w.doc_id, d.lang, d.source,
       |    list_distinct(list_transform(range(1, greatest(len(ws), 1)), i -> ws[i] || ' ' || ws[i+1])) AS sh
       |  FROM w JOIN documents d ON d.doc_id = w.doc_id),
       |pr AS (SELECT c.doc_a, c.doc_b,
       |         len(list_intersect(a.sh, b.sh)) AS inter, len(a.sh) AS na, len(b.sh) AS nb
       |       FROM cand c
       |       JOIN sets a ON a.doc_id = c.doc_a
       |       JOIN sets b ON b.doc_id = c.doc_b AND a.lang = b.lang AND a.source = b.source)
       |SELECT doc_a, doc_b,
       |  CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) AS jaccard
       |FROM pr WHERE inter > 0
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- rows 24/25: embedding similarity ----

  val topK = 5
  val probeMax = 8L // probes = vec_id < 8

  def embedCosineTopkQ(spark: SparkSession, dir: String): DataFrame =
    Similarity
      .cosineTopK(Tables(spark, dir, "embeddings"), col("vec_id") < probeMax, topK)
      .orderBy(col("probe_id"), col("rnk"))

  val embedCosineTopkSql: String =
    s"""WITH q AS (SELECT vec_id,
       |  list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |ex AS (SELECT vec_id, qv, unnest(range(1, len(qv) + 1)) AS i FROM q),
       |norms AS (SELECT vec_id, CAST(SUM(qv[i] * qv[i]) AS BIGINT) AS nn FROM ex GROUP BY 1),
       |pairs AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id, p.qv AS pv, c.qv AS cv
       |          FROM q p JOIN q c ON c.vec_id != p.vec_id WHERE p.vec_id < $probeMax),
       |pex AS (SELECT probe_id, cand_id, pv, cv, unnest(range(1, len(pv) + 1)) AS i FROM pairs),
       |dots AS (SELECT probe_id, cand_id, CAST(SUM(pv[i] * cv[i]) AS BIGINT) AS dot
       |         FROM pex GROUP BY 1, 2),
       |cs AS (SELECT probe_id, cand_id,
       |         CAST(dot AS DOUBLE) / sqrt(CAST(np.nn AS DOUBLE)) / sqrt(CAST(nc.nn AS DOUBLE)) AS cos
       |       FROM dots
       |       JOIN norms np ON np.vec_id = probe_id
       |       JOIN norms nc ON nc.vec_id = cand_id)
       |SELECT * FROM (
       |  SELECT probe_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS INT) AS rnk,
       |    cand_id, cos
       |  FROM cs
       |) WHERE rnk <= $topK
       |ORDER BY probe_id, rnk""".stripMargin

  // ---- row 25b: IVF ANN (SQL-checkable scale path) ----

  val ivfCentLo = 100L
  val ivfNCent = 16
  val ivfNProbe = 2

  def embedIvfAnnQ(spark: SparkSession, dir: String): DataFrame =
    Similarity
      .ivfAnn(
        Tables(spark, dir, "embeddings"),
        col("vec_id") < probeMax,
        col("vec_id") >= ivfCentLo && col("vec_id") < ivfCentLo + ivfNCent,
        ivfNProbe, topK)
      .orderBy(col("probe_id"), col("rnk"))

  val embedIvfAnnSql: String =
    s"""WITH q AS (SELECT vec_id,
       |  list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |ex AS (SELECT vec_id, qv, unnest(range(1, len(qv) + 1)) AS i FROM q),
       |norms AS (SELECT vec_id, CAST(SUM(qv[i] * qv[i]) AS BIGINT) AS nn FROM ex GROUP BY 1),
       |cent AS (SELECT vec_id AS cent_id, qv AS centv FROM q
       |         WHERE vec_id >= $ivfCentLo AND vec_id < ${ivfCentLo + ivfNCent}),
       |asex AS (SELECT v.vec_id, c.cent_id, v.qv AS qv, c.centv AS centv,
       |                unnest(range(1, len(v.qv) + 1)) AS i
       |         FROM q v, cent c),
       |adots AS (SELECT vec_id, cent_id, CAST(SUM(qv[i] * centv[i]) AS BIGINT) AS dot
       |          FROM asex GROUP BY 1, 2),
       |acos AS (SELECT a.vec_id, a.cent_id,
       |           CAST(a.dot AS DOUBLE) / sqrt(CAST(nv.nn AS DOUBLE)) / sqrt(CAST(nc.nn AS DOUBLE)) AS cos_c
       |         FROM adots a
       |         JOIN norms nv ON nv.vec_id = a.vec_id
       |         JOIN norms nc ON nc.vec_id = a.cent_id),
       |assign AS (SELECT vec_id, cent_id AS list_id FROM (
       |             SELECT vec_id, cent_id,
       |               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
       |             FROM acos) WHERE rn = 1),
       |probe_lists AS (SELECT vec_id AS probe_id, cent_id AS list_id FROM (
       |             SELECT vec_id, cent_id,
       |               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
       |             FROM acos WHERE vec_id < $probeMax) WHERE rn <= $ivfNProbe),
       |pairs AS (SELECT pl.probe_id, a.vec_id AS cand_id, pl.list_id, p.qv AS pv, cq.qv AS cv
       |          FROM probe_lists pl
       |          JOIN assign a ON a.list_id = pl.list_id
       |          JOIN q p ON p.vec_id = pl.probe_id
       |          JOIN q cq ON cq.vec_id = a.vec_id
       |          WHERE a.vec_id != pl.probe_id),
       |pex AS (SELECT probe_id, cand_id, list_id, pv, cv, unnest(range(1, len(pv) + 1)) AS i FROM pairs),
       |dots AS (SELECT probe_id, cand_id, list_id, CAST(SUM(pv[i] * cv[i]) AS BIGINT) AS dot
       |         FROM pex GROUP BY 1, 2, 3),
       |cs AS (SELECT probe_id, cand_id, list_id,
       |         CAST(dot AS DOUBLE) / sqrt(CAST(np.nn AS DOUBLE)) / sqrt(CAST(nc.nn AS DOUBLE)) AS cos
       |       FROM dots
       |       JOIN norms np ON np.vec_id = probe_id
       |       JOIN norms nc ON nc.vec_id = cand_id)
       |SELECT * FROM (
       |  SELECT probe_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS INT) AS rnk,
       |    cand_id, cos, CAST(list_id AS BIGINT) AS list_id
       |  FROM cs
       |) WHERE rnk <= $topK
       |ORDER BY probe_id, rnk""".stripMargin

  // ---- row 25j: SemDeDup — semantic dedup inside embedding clusters ----

  /** Real corpora run SemDeDup at τ ≈ 0.95+; the synthetic embeddings
    * are near-orthogonal (max pairwise cosine ≈ 0.44), so τ is
    * calibrated down to keep the DROP path exercised by the test data
    * rather than vacuously empty.
    */
  private val semDupTau = 0.35

  /** SemDeDup (Abbas et al. 2023): cluster the embedding space, then
    * call two documents semantic duplicates when their cosine exceeds τ
    * WITHIN a cluster — the all-pairs work is bounded by cluster size,
    * never corpus size, which is the published method's entire scaling
    * argument. Centroids are the deterministic vector slice the IVF
    * index uses (so the whole operator is oracle-reproducible; the
    * MLlib-k-means flavor of the same index is ivf_kmeans_ann's job);
    * assignment is argmax cosine (ties → lower centroid id); the keep
    * rule is deterministic min-id: drop v iff some u < v in its cluster
    * has cos(u, v) ≥ τ, reporting that u as dup_of. Quantized integer
    * dot products via the native codegen expression keep both engines
    * bit-identical.
    */
  def semanticDedupQ(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val q = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), Similarity.quantExpr.as("qv"))
      .withColumn("nn", expr("quantized_dot(qv, qv)"))
    val cents = q.filter(col("vec_id") >= ivfCentLo && col("vec_id") < ivfCentLo + ivfNCent)
      .select(col("vec_id").as("cent_id"), col("qv").as("cv"), col("nn").as("ncent"))
    val assign = q.crossJoin(broadcast(cents))
      .withColumn("cos_c",
        expr("quantized_dot(qv, cv)").cast("double") /
          sqrt(col("nn").cast("double")) / sqrt(col("ncent").cast("double")))
      .groupBy(col("vec_id"), col("qv"), col("nn"))
      .agg(max_by(col("cent_id"), struct(col("cos_c"), -col("cent_id"))).as("list_id"))
    val dups = assign.select(col("list_id"), col("vec_id").as("va"),
        col("qv").as("qa"), col("nn").as("na"))
      .join(assign.select(col("list_id"), col("vec_id").as("vb"),
        col("qv").as("qb"), col("nn").as("nb")), Seq("list_id"))
      .filter(col("va") < col("vb"))
      .filter(
        expr("quantized_dot(qa, qb)").cast("double") /
          sqrt(col("na").cast("double")) / sqrt(col("nb").cast("double")) >= semDupTau)
      .groupBy(col("vb").as("vec_id"))
      .agg(min(col("va")).as("dup_of"))
    assign.select(col("vec_id"), col("list_id"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("list_id"),
        col("dup_of").isNull.as("kept"), col("dup_of"))
      .orderBy(col("vec_id"))
  }

  val semanticDedupSql: String =
    s"""WITH q AS (SELECT vec_id,
       |  list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |ex AS (SELECT vec_id, qv, unnest(range(1, len(qv) + 1)) AS i FROM q),
       |norms AS (SELECT vec_id, CAST(SUM(qv[i] * qv[i]) AS BIGINT) AS nn FROM ex GROUP BY 1),
       |cent AS (SELECT vec_id AS cent_id, qv AS cv FROM q
       |         WHERE vec_id >= $ivfCentLo AND vec_id < ${ivfCentLo + ivfNCent}),
       |asex AS (SELECT v.vec_id, c.cent_id, v.qv AS qv, c.cv AS cv,
       |                unnest(range(1, len(v.qv) + 1)) AS i
       |         FROM q v, cent c),
       |adots AS (SELECT vec_id, cent_id, CAST(SUM(qv[i] * cv[i]) AS BIGINT) AS dot
       |          FROM asex GROUP BY 1, 2),
       |acos AS (SELECT a.vec_id, a.cent_id,
       |           CAST(a.dot AS DOUBLE) / sqrt(CAST(nv.nn AS DOUBLE)) / sqrt(CAST(nc.nn AS DOUBLE)) AS cos_c
       |         FROM adots a
       |         JOIN norms nv ON nv.vec_id = a.vec_id
       |         JOIN norms nc ON nc.vec_id = a.cent_id),
       |assign AS (SELECT vec_id, cent_id AS list_id FROM (
       |             SELECT vec_id, cent_id,
       |               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
       |             FROM acos) WHERE rn = 1),
       |pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb
       |          FROM assign a JOIN assign b
       |            ON a.list_id = b.list_id AND a.vec_id < b.vec_id),
       |pex AS (SELECT p.va, p.vb, qa.qv AS qa, qb.qv AS qb,
       |               unnest(range(1, len(qa.qv) + 1)) AS i
       |        FROM pairs p JOIN q qa ON qa.vec_id = p.va JOIN q qb ON qb.vec_id = p.vb),
       |pdots AS (SELECT va, vb, CAST(SUM(qa[i] * qb[i]) AS BIGINT) AS dot
       |          FROM pex GROUP BY 1, 2),
       |dups AS (SELECT vb AS vec_id, MIN(va) AS dup_of
       |         FROM pdots
       |         JOIN norms na ON na.vec_id = va
       |         JOIN norms nb ON nb.vec_id = vb
       |         WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.nn AS DOUBLE)) / sqrt(CAST(nb.nn AS DOUBLE)) >= $semDupTau
       |         GROUP BY 1)
       |SELECT a.vec_id, CAST(a.list_id AS BIGINT) AS list_id,
       |  d.dup_of IS NULL AS kept, d.dup_of
       |FROM assign a LEFT JOIN dups d ON d.vec_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin

  // ---- row 25d: product-quantization encode ----

  val pqNSub = 4
  val pqCentLo = 100L
  val pqNCent = 8

  /** The embeddings that serve as PQ centroids. */
  private[graft] def pqCentPred: Column =
    col("vec_id") >= pqCentLo && col("vec_id") < pqCentLo + pqNCent

  def embedPqQ(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.pqCodes(spark, dir)
      .orderBy(col("vec_id"), col("m"))

  /** CTE chain ending in `best` (the PQ assignment) — shared by
    * embed_pq and pq_adc_topk.
    */
  private val pqCtes: String =
    s"""q AS (SELECT vec_id,
       |  list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |cent AS (SELECT vec_id AS code, qv AS cv FROM q
       |         WHERE vec_id >= $pqCentLo AND vec_id < ${pqCentLo + pqNCent}),
       |geom AS (SELECT vec_id, qv, CAST(FLOOR(len(qv) / $pqNSub.0) AS BIGINT) AS w FROM q),
       |pex AS (SELECT g.vec_id, c.code, g.qv, c.cv, g.w, ms.m, unnest(range(1, g.w + 1)) AS i
       |        FROM geom g, cent c, (SELECT unnest(range(0, $pqNSub)) AS m) ms),
       |d2s AS (SELECT vec_id, code, m,
       |          CAST(SUM((qv[m*w+i] - cv[m*w+i]) * (qv[m*w+i] - cv[m*w+i])) AS BIGINT) AS d2
       |        FROM pex GROUP BY 1, 2, 3),
       |best AS (SELECT vec_id, m, code, d2,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn
       |         FROM d2s)""".stripMargin

  val embedPqSql: String =
    s"""WITH $pqCtes
       |SELECT vec_id, CAST(m AS INT) AS m, code, d2 FROM best WHERE rn = 1
       |ORDER BY vec_id, m""".stripMargin

  // ---- row 25e: PQ asymmetric-distance top-k search ----

  /** The PQ SEARCH path: candidates are represented only by their nSub
    * codes; each probe precomputes a (code, subspace) → exact-integer-L2
    * lookup table against the codebook, and the estimated distance is
    * Σ LUT hits — candidates never ship their vectors, which is the
    * whole point of PQ at billion-vector scale (the LUT join replaces
    * dim multiplications per candidate with nSub lookups).
    */
  def pqAdcTopkQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables(spark, dir, "embeddings")
    val codes = SharedFrames.pqCodes(spark, dir)
    val q = emb.select(col("vec_id"), Similarity.quantExpr.as("qv"))
    val cents = q.filter(pqCentPred).select(col("vec_id").as("code"), col("qv").as("cv"))
    val lut = q.filter(col("vec_id") < probeMax)
      .select(col("vec_id").as("probe_id"), col("qv").as("pv"))
      .crossJoin(broadcast(cents))
      .withColumn("m", explode(sequence(lit(0), lit(pqNSub - 1))))
      .withColumn("w", expr(s"CAST(FLOOR(size(pv) / $pqNSub.0) AS INT)"))
      .withColumn("d2", expr(
        "aggregate(zip_with(slice(pv, m * w + 1, w), slice(cv, m * w + 1, w)," +
          " (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"))
      .select(col("probe_id"), col("m"), col("code"), col("d2"))
    val win = Window.partitionBy(col("probe_id")).orderBy(col("adc"), col("cand_id"))
    codes
      .select(col("vec_id").as("cand_id"), col("m"), col("code"))
      .join(broadcast(lut), Seq("m", "code"))
      .filter(col("cand_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("cand_id"))
      .agg(sum(col("d2")).as("adc"))
      .withColumn("rnk", row_number().over(win))
      .filter(col("rnk") <= topK)
      .select(col("probe_id"), col("rnk"), col("cand_id"), col("adc"))
      .orderBy(col("probe_id"), col("rnk"))
  }

  val pqAdcTopkSql: String =
    s"""WITH $pqCtes,
       |codes AS (SELECT vec_id AS cand_id, m, code FROM best WHERE rn = 1),
       |probes AS (SELECT vec_id AS probe_id, qv AS pv FROM q WHERE vec_id < $probeMax),
       |lex AS (SELECT p.probe_id, c.code, p.pv, c.cv,
       |          CAST(FLOOR(len(p.pv) / $pqNSub.0) AS BIGINT) AS w, ms.m,
       |          unnest(range(1, CAST(FLOOR(len(p.pv) / $pqNSub.0) AS BIGINT) + 1)) AS i
       |        FROM probes p, cent c, (SELECT unnest(range(0, $pqNSub)) AS m) ms),
       |lut AS (SELECT probe_id, m, code,
       |          CAST(SUM((pv[m*w+i] - cv[m*w+i]) * (pv[m*w+i] - cv[m*w+i])) AS BIGINT) AS d2
       |        FROM lex GROUP BY 1, 2, 3),
       |adc AS (SELECT l.probe_id, k.cand_id, CAST(SUM(l.d2) AS BIGINT) AS adc
       |        FROM codes k JOIN lut l ON k.m = l.m AND k.code = l.code
       |        WHERE k.cand_id != l.probe_id
       |        GROUP BY 1, 2)
       |SELECT * FROM (
       |  SELECT probe_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adc, cand_id) AS INT) AS rnk,
       |    cand_id, adc
       |  FROM adc
       |) WHERE rnk <= $topK
       |ORDER BY probe_id, rnk""".stripMargin

  /** Library surface: the raw MLlib leg — IVF search over
    * k-means-trained centroids. The trained centroids are not
    * reproducible in the oracle, so the raw result frame cannot
    * hash-match; the registered primary form is [[ivfKmeansAnnGatedQ]].
    */
  /** Training-input tables whose row counts key the persisted centroid
    * index (shared with model_store's catalog row). */
  private[graft] val kmeansFpTables = Seq("embeddings")

  /** The trained centroid index: built once per (dataset, schema
    * version) and PERSISTED to the warehouse (Checkpoint); every later
    * session loads the tiny centroid table instead of retraining. The
    * session Memo only pins the loaded artifact. */
  private[graft] def kmeansCentsFrame(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "kmeansCents")(
      Checkpoint(spark, dir, "kmeans_centroids")(
        Checkpoint.tableFingerprint(spark, dir, kmeansFpTables: _*))(
        Similarity.kmeansCentroids(
          Tables(spark, dir, "embeddings"), ivfNCent, seed = 7L)))

  def ivfKmeansAnnQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    Similarity
      .ivfAnnWith(emb, col("vec_id") < probeMax, kmeansCentsFrame(spark, dir),
        ivfNProbe, topK)
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** Primary (hash-checked) form of the trained-IVF leg: one row whose
    * counts the oracle re-derives from the probe set — the search must
    * return results for EXACTLY the probes (n_probes), EXACTLY topK rows
    * each (n_results = n_probes × topK), and the conjunction gate holds
    * (ranked by non-increasing cosine, cosines in [-1, 1], never
    * self-matching). A dropped probe, a short result list, or a broken
    * trained index each breaks a data-dependent count, not just a
    * boolean. Raw search results: [[ivfKmeansAnnQ]]; the per-probe
    * itemized verdict is [[ivfKmeansCheckQ]].
    */
  def ivfKmeansAnnGatedQ(spark: SparkSession, dir: String): DataFrame =
    ivfKmeansProbeVerdicts(spark, dir)
      .agg(count(lit(1)).as("n_probes"),
        sum(col("__n")).as("n_results"),
        ((sum(col("__unsorted") + col("__oob") + col("__self")) === 0L) &&
          (max(when(col("__n") === topK.toLong, 0L).otherwise(1L)) === 0L))
          .as("search_ok"))

  /** Per-probe structural counters of the trained-IVF search — the one
    * frame both [[ivfKmeansCheckQ]] (itemized verdicts) and
    * [[ivfKmeansAnnGatedQ]] (hash-gated summary) derive from, so the
    * two gates cannot drift apart.
    */
  private def ivfKmeansProbeVerdicts(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("rnk"))
    ivfKmeansAnnQ(spark, dir)
      .withColumn("__prev", lag(col("cos"), 1).over(w))
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__prev").isNotNull && col("__prev") < col("cos"), 1L)
          .otherwise(0L)).as("__unsorted"),
        sum(when(abs(col("cos")) <= 1.0 + 1e-9, 0L).otherwise(1L)).as("__oob"),
        sum(when(col("cand_id") === col("probe_id"), 1L).otherwise(0L)).as("__self"))
  }

  val ivfKmeansAnnGatedSql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
       |  CAST(COUNT(*) * $topK AS BIGINT) AS n_results, TRUE AS search_ok
       |FROM embeddings WHERE vec_id < $probeMax""".stripMargin

  // ---- row 25i: trained-IVF structural verdict (oracle gate for the trainer leg) ----

  /** Hash-checkable contract for the MLlib-trained IVF leg: the trained
    * centroids aren't oracle-reproducible, but the SEARCH structure is a
    * fixed contract — exactly k results per probe, ranked by
    * non-increasing cosine, cosines in [-1, 1], never self-matching. The
    * oracle asserts the verdicts, so a broken trained-index search fails
    * the correctness gate instead of hiding behind rows-only. Quality
    * (actual recall) is ScalaTest-covered.
    */
  def ivfKmeansCheckQ(spark: SparkSession, dir: String): DataFrame =
    ivfKmeansProbeVerdicts(spark, dir)
      .select(col("probe_id"),
        (col("__n") === lit(topK.toLong)).as("k_ok"),
        (col("__unsorted") === 0L).as("sorted_ok"),
        (col("__oob") === 0L).as("bounded_ok"),
        (col("__self") === 0L).as("self_ok"))
      .orderBy(col("probe_id"))

  val ivfKmeansCheckSql: String =
    s"""SELECT CAST(vec_id AS BIGINT) AS probe_id, TRUE AS k_ok, TRUE AS sorted_ok,
       |  TRUE AS bounded_ok, TRUE AS self_ok
       |FROM embeddings WHERE vec_id < $probeMax ORDER BY probe_id""".stripMargin

  // ---- row 25g: ANN recall evaluation (LSH leg vs brute-force truth) ----

  /** Recall@k of the LSH ANN leg against the brute-force ground truth —
    * the evaluation loop every production ANN deployment runs before
    * trusting an index. Both legs are the already-verified operators;
    * recall is one semi-join + count per probe, so the measurement adds
    * no new corpus-sized work.
    */
  def annRecallQ(spark: SparkSession, dir: String): DataFrame = {
    val gt = embedCosineTopkQ(spark, dir).select(col("probe_id"), col("cand_id"))
    val ann = embedLshAnnQ(spark, dir).select(col("probe_id"), col("cand_id"))
    val hits = gt.join(ann, Seq("probe_id", "cand_id"), "leftsemi")
      .groupBy(col("probe_id")).agg(count(lit(1)).as("__h"))
    gt.groupBy(col("probe_id")).agg(count(lit(1)).as("__k"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("__h"), lit(0L)).cast("bigint").as("n_hits"),
        (coalesce(col("__h"), lit(0L)).cast("double") / lit(topK.toDouble)).as("recall"))
      .orderBy(col("probe_id"))
  }

  // lazy: embedLshAnnSql is declared later in this object
  lazy val annRecallSql: String =
    s"""WITH gt AS (SELECT probe_id, cand_id FROM ($embedCosineTopkSql)),
       |ann AS (SELECT probe_id, cand_id FROM ($embedLshAnnSql)),
       |h AS (SELECT g.probe_id, CAST(COUNT(a.cand_id) AS BIGINT) AS n_hits
       |      FROM gt g LEFT JOIN ann a
       |        ON a.probe_id = g.probe_id AND a.cand_id = g.cand_id
       |      GROUP BY 1)
       |SELECT probe_id, n_hits, CAST(n_hits AS DOUBLE) / ${topK}.0 AS recall
       |FROM h ORDER BY probe_id""".stripMargin

  // ---- row 25k: recall of the TRAINED IVF index vs brute force ----

  /** Minimum acceptable mean recall@k of the k-means-trained IVF
    * search at nProbe=2 of 16 lists. Observed 0.375–0.45 at the test
    * scales (the synthetic embeddings are near-uniform, so the
    * 2-of-16 probe budget bounds attainable recall); an UNINFORMATIVE
    * index (random list assignment) would land near 2/16 ≈ 0.125.
    * 0.2 flags a genuinely broken trained index without tripping on
    * the recall the probe budget legitimately forfeits. */
  val ivfKmeansRecallBound = 0.2

  /** The trained-index counterpart of [[annRecallQ]]: recall@k of the
    * MLlib-k-means IVF search against the brute-force cosine truth —
    * `ivf_kmeans_check` proves the search is structurally sound; this
    * measures whether the TRAINED index actually finds the right
    * neighbors. Both legs are memoized verified operators; the
    * measurement is one semi-join over them. The trained recall value
    * itself is not oracle-reproducible, so the registered form carries
    * the oracle-re-derived probe count next to the recall gate (the
    * nar_check discipline).
    */
  def ivfKmeansRecallQ(spark: SparkSession, dir: String): DataFrame = {
    val gt = embedCosineTopkQ(spark, dir).select(col("probe_id"), col("cand_id"))
    val ann = ivfKmeansAnnQ(spark, dir).select(col("probe_id"), col("cand_id"))
    val hits = gt.join(ann, Seq("probe_id", "cand_id"), "leftsemi")
      .groupBy(col("probe_id")).agg(count(lit(1)).as("__h"))
    gt.groupBy(col("probe_id")).agg(count(lit(1)).as("__k"))
      .join(hits, Seq("probe_id"), "left")
      .agg(count(lit(1)).as("n_probes"),
        (sum(coalesce(col("__h"), lit(0L))).cast("double") /
          sum(col("__k")).cast("double")).as("__recall"))
      .select(col("n_probes"),
        (col("__recall") >= ivfKmeansRecallBound).as("recall_ok"))
  }

  val ivfKmeansRecallSql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_probes, TRUE AS recall_ok
       |FROM embeddings WHERE vec_id < $probeMax""".stripMargin

  // ---- row 25h: int8 scalar quantization + reconstruction error ----

  /** Per-vector int8 scalar quantization (the serving-time compression
    * step next to PQ): min/max range per vector, 255-level codes, and
    * the mean absolute reconstruction error. The error sum folds the
    * per-element terms in array order via aggregate() — a sequential
    * fold both engines execute identically, no shuffle-order exposure.
    * Pure per-row expressions; zero shuffles beyond the output sort.
    */
  def embedInt8Q(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("dv"))
      .select(col("vec_id"), array_min(col("dv")).as("mn"), array_max(col("dv")).as("mx"), col("dv"))
      .select(col("vec_id"), col("mn"), col("mx"),
        expr(
          """CASE WHEN mx > mn THEN
            |  aggregate(
            |    transform(dv, v -> abs(v - (mn + floor((v - mn) * 255.0 / (mx - mn) + 0.5) * ((mx - mn) / 255.0)))),
            |    CAST(0.0 AS DOUBLE), (acc, t) -> acc + t) / CAST(size(dv) AS DOUBLE)
            |  ELSE 0.0 END""".stripMargin).as("mae"))
      .orderBy(col("vec_id"))

  val embedInt8Sql: String =
    """WITH d AS (SELECT vec_id,
      |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS dv FROM embeddings),
      |r AS (SELECT vec_id, list_min(dv) AS mn, list_max(dv) AS mx, dv FROM d)
      |SELECT vec_id, mn, mx,
      |  CASE WHEN mx > mn THEN
      |    list_reduce(
      |      list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(dv, v -> abs(v - (mn + floor((v - mn) * 255.0 / (mx - mn) + 0.5) * ((mx - mn) / 255.0))))),
      |      (acc, t) -> acc + t) / CAST(len(dv) AS DOUBLE)
      |  ELSE 0.0 END AS mae
      |FROM r ORDER BY vec_id""".stripMargin

  val lshDim = 64

  def embedLshAnnQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val planes = Similarity.hyperplanes(spark, lshDim)
    Similarity
      .lshAnn(emb, Similarity.lshBuckets(emb, planes), col("vec_id") < probeMax, topK)
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** SQL twin of the hyperplane-LSH path: integer hyperplanes and exact
    * BIGINT projections make the bucket assignment — and therefore the
    * whole bucketed ANN — reproducible in DuckDB.
    */
  val embedLshAnnSql: String =
    s"""WITH q AS (SELECT vec_id,
       |  list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |ex AS (SELECT vec_id, qv, unnest(range(1, len(qv) + 1)) AS i FROM q),
       |norms AS (SELECT vec_id, CAST(SUM(qv[i] * qv[i]) AS BIGINT) AS nn FROM ex GROUP BY 1),
       |planes AS (SELECT plane, d,
       |    (strpos('0123456789abcdef',
       |            substr(md5(CAST(plane AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 1)) - 1) * 2 - 15 AS w
       |  FROM (SELECT unnest(range(0, ${Similarity.numPlanes})) AS plane),
       |       (SELECT unnest(range(0, $lshDim)) AS d)),
       |proj AS (SELECT e.vec_id, p.plane, CAST(SUM(e.qv[e.d + 1] * p.w) AS BIGINT) AS proj
       |         FROM (SELECT vec_id, qv, unnest(range(0, len(qv))) AS d FROM q) e
       |         JOIN planes p ON p.d = e.d
       |         GROUP BY 1, 2),
       |bkt AS (SELECT vec_id,
       |          CAST(SUM((CASE WHEN proj > 0 THEN 1 ELSE 0 END) * CAST(pow(2.0, plane) AS BIGINT)) AS BIGINT) AS bucket
       |        FROM proj GROUP BY 1),
       |pairs AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id, pb.bucket,
       |            p.qv AS pv, c.qv AS cv, np.nn AS np, nc.nn AS nc
       |          FROM q p
       |          JOIN bkt pb ON pb.vec_id = p.vec_id
       |          JOIN bkt cb ON cb.bucket = pb.bucket
       |          JOIN q c ON c.vec_id = cb.vec_id AND c.vec_id != p.vec_id
       |          JOIN norms np ON np.vec_id = p.vec_id
       |          JOIN norms nc ON nc.vec_id = c.vec_id
       |          WHERE p.vec_id < $probeMax),
       |pex AS (SELECT probe_id, cand_id, bucket, pv, cv, np, nc,
       |               unnest(range(1, len(pv) + 1)) AS i FROM pairs),
       |dots AS (SELECT probe_id, cand_id, bucket,
       |           CAST(SUM(pv[i] * cv[i]) AS BIGINT) AS dot,
       |           MIN(np) AS np, MIN(nc) AS nc
       |         FROM pex GROUP BY 1, 2, 3),
       |cs AS (SELECT probe_id, cand_id, bucket,
       |         CAST(dot AS DOUBLE) / sqrt(CAST(np AS DOUBLE)) / sqrt(CAST(nc AS DOUBLE)) AS cos
       |       FROM dots)
       |SELECT * FROM (
       |  SELECT probe_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS INT) AS rnk,
       |    cand_id, cos, bucket
       |  FROM cs
       |) WHERE rnk <= $topK
       |ORDER BY probe_id, rnk""".stripMargin

  // ---- row 25f: embedding-cosine near-dup ----

  /** Calibrated to the synthetic corpus spread (max pairwise cosine
    * ≈ 0.52); at a real corpus the same operator runs at 0.9+.
    */
  val embedDupTau = 0.35

  def embedDupQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val planes = Similarity.hyperplanes(spark, lshDim)
    Similarity
      .cosineDupPairs(emb, Similarity.lshBuckets(emb, planes), embedDupTau)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  val embedDupSql: String =
    s"""WITH q AS (SELECT vec_id,
       |  list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |ex AS (SELECT vec_id, qv, unnest(range(1, len(qv) + 1)) AS i FROM q),
       |norms AS (SELECT vec_id, CAST(SUM(qv[i] * qv[i]) AS BIGINT) AS nn FROM ex GROUP BY 1),
       |planes AS (SELECT plane, d,
       |    (strpos('0123456789abcdef',
       |            substr(md5(CAST(plane AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 1)) - 1) * 2 - 15 AS w
       |  FROM (SELECT unnest(range(0, ${Similarity.numPlanes})) AS plane),
       |       (SELECT unnest(range(0, $lshDim)) AS d)),
       |proj AS (SELECT e.vec_id, p.plane, CAST(SUM(e.qv[e.d + 1] * p.w) AS BIGINT) AS proj
       |         FROM (SELECT vec_id, qv, unnest(range(0, len(qv))) AS d FROM q) e
       |         JOIN planes p ON p.d = e.d
       |         GROUP BY 1, 2),
       |bkt AS (SELECT vec_id,
       |          CAST(SUM((CASE WHEN proj > 0 THEN 1 ELSE 0 END) * CAST(pow(2.0, plane) AS BIGINT)) AS BIGINT) AS bucket
       |        FROM proj GROUP BY 1),
       |pairs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, qa.qv AS pv, qb.qv AS cv
       |          FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |          JOIN q qa ON qa.vec_id = a.vec_id
       |          JOIN q qb ON qb.vec_id = b.vec_id),
       |pex AS (SELECT vec_a, vec_b, pv, cv, unnest(range(1, len(pv) + 1)) AS i FROM pairs),
       |dots AS (SELECT vec_a, vec_b, CAST(SUM(pv[i] * cv[i]) AS BIGINT) AS dot
       |         FROM pex GROUP BY 1, 2),
       |cs AS (SELECT vec_a, vec_b,
       |         CAST(dot AS DOUBLE) / sqrt(CAST(na.nn AS DOUBLE)) / sqrt(CAST(nb.nn AS DOUBLE)) AS cos
       |       FROM dots
       |       JOIN norms na ON na.vec_id = vec_a
       |       JOIN norms nb ON nb.vec_id = vec_b)
       |SELECT vec_a, vec_b, cos FROM cs WHERE cos >= $embedDupTau
       |ORDER BY vec_a, vec_b""".stripMargin

  // ---- rows 26-29: text analysis ----

  def langIdQ(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.langIdToks(toks(spark, dir).select(col("doc_id"), col("__ws")))
      .orderBy(col("doc_id"))

  val langIdSql: String = {
    val arms = TextAnalysis.langProfiles
      .map { case (lang, ws) =>
        val in = ws.map(w => s"'$w'").mkString("(", ", ", ")")
        s"SELECT doc_id, '$lang' AS lang_pred, CAST(len(list_filter(ws, x -> x IN $in)) AS INT) AS score FROM w"
      }
      .mkString("\nUNION ALL\n")
    s"""WITH $wordsCte,
       |scores AS (
       |$arms
       |)
       |SELECT doc_id, lang_pred, score FROM (
       |  SELECT doc_id, lang_pred, score,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang_pred) AS rn
       |  FROM scores
       |) WHERE rn = 1
       |ORDER BY doc_id""".stripMargin
  }

  /** qualityScore riding the tokenized-corpus memo — the shared scoring
    * frame every gate/eval consumer builds from. */
  private[graft] def quality(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScoreToks(toks(spark, dir).select(col("doc_id"), col("__ws")))

  def qualityScoreQ(spark: SparkSession, dir: String): DataFrame =
    quality(spark, dir).orderBy(col("doc_id"))

  private[graft] val stopwordsInSql: String =
    TextAnalysis.enStopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  /** SQL twins of qualityScore's per-doc expressions over `ws`. */
  private[graft] val stopRatioSqlExpr: String =
    s"CAST(len(list_filter(ws, x -> x IN $stopwordsInSql)) AS DOUBLE) / CAST(len(ws) AS DOUBLE)"
  private[graft] val avgWordLenSqlExpr: String =
    "CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / CAST(len(ws) AS DOUBLE)"
  private[graft] val scoreSqlExpr: String =
    s"""0.4 * LEAST(CAST(len(ws) AS DOUBLE) / 200.0, 1.0)
       |    + 0.3 * ($stopRatioSqlExpr)
       |    + 0.3 * (CASE WHEN ($avgWordLenSqlExpr)
       |                       BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.0 END)""".stripMargin

  val qualityScoreSql: String =
    s"""WITH $wordsCte
       |SELECT doc_id,
       |  CAST(len(ws) AS INT) AS n_words,
       |  $stopRatioSqlExpr AS stop_ratio,
       |  $avgWordLenSqlExpr AS avg_word_len,
       |  $scoreSqlExpr AS score
       |FROM w
       |ORDER BY doc_id""".stripMargin

  /** Quality-signal calibration: decile the corpus by heuristic quality
    * score and report each decile's mean char-bigram NLL — do the two
    * independent curation signals agree? Both per-doc frames are the
    * session's memoized products (no rescans); the decile assignment is
    * NTILE(10)-exact over (score, doc_id) but computed with the
    * range-partitioned distributed rank (`Layout.rankedNtile` — no
    * single-partition global sort, the plan that survives 100 TB);
    * decile means sum floor-grid (1e-6) quantized BIGINTs so neither
    * partition order nor decimal-cast tie-rounding can move a bit. The
    * standard "before you trust a filter, calibrate it against an
    * independent signal" audit.
    */
  def qualityCalibrationQ(spark: SparkSession, dir: String): DataFrame = {
    val qs = qualityScoreQ(spark, dir).select(col("doc_id"), col("score"))
    val pp = QueriesCorpus.lmPerplexityQ(spark, dir).select(col("doc_id"), col("nll"))
    graft.operators.Layout.rankedNtile(
        qs.join(pp, Seq("doc_id")), Seq(col("score"), col("doc_id")), 10, "decile")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(expr("CAST(floor(score * 1000000.0 + 0.5) AS BIGINT)")).cast("double") /
          1e6 / count(lit(1))).as("mean_score"),
        (sum(expr("CAST(floor(nll * 1000000.0 + 0.5) AS BIGINT)")).cast("double") /
          1e6 / count(lit(1))).as("mean_nll"))
      .orderBy(col("decile"))
  }

  val qualityCalibrationSql: String =
    s"""WITH qs AS (SELECT doc_id, score FROM (${qualityScoreSql})),
       |pp AS (SELECT doc_id, nll FROM (${QueriesCorpus.lmPerplexitySql})),
       |j AS (SELECT qs.doc_id, score, nll,
       |    ntile(10) OVER (ORDER BY score, qs.doc_id) AS decile
       |  FROM qs JOIN pp ON qs.doc_id = pp.doc_id)
       |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CAST(floor(score * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 / COUNT(*) AS mean_score,
       |  CAST(SUM(CAST(floor(nll * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 / COUNT(*) AS mean_nll
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- row 27b: per-document token entropy (quality signal) ----

  /** Per-document Shannon entropy of the token distribution — the
    * quality signal that separates natural text (high entropy for its
    * length) from keyword-stuffed or repeated-phrase spam, complementing
    * repetition_ratio. Same portable-ln discipline as the column-level
    * shannon_entropy: every ln-carrying term is DECIMAL(38,6)-quantized
    * before the order-sensitive sum. One (doc_id, word) count shuffle.
    * Docs with no tokens are omitted (explode yields no rows).
    */
  def tokenEntropyQ(spark: SparkSession, dir: String): DataFrame = {
    val cnt = col("cnt").cast("double")
    toks(spark, dir)
      .select(col("doc_id"), explode(col("__ws")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("cnt")).cast("bigint").as("n_tokens"),
        count(lit(1)).as("ndv"),
        sum((cnt * log(cnt)).cast("decimal(38,6)")).as("__s"))
      .select(col("doc_id"), col("n_tokens"), col("ndv"),
        (log(col("n_tokens").cast("double")).cast("decimal(38,6)").cast("double") -
          col("__s").cast("double") / col("n_tokens").cast("double")).as("entropy"))
      .orderBy(col("doc_id"))
  }

  val tokenEntropySql: String =
    s"""WITH $wordsCte,
       |c AS (SELECT doc_id, word, COUNT(*) AS cnt
       |      FROM (SELECT doc_id, unnest(ws) AS word FROM w) GROUP BY 1, 2)
       |SELECT doc_id, n_tokens, ndv,
       |  CAST(CAST(ln(CAST(n_tokens AS DOUBLE)) AS DECIMAL(38,6)) AS DOUBLE)
       |    - CAST(s AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS entropy
       |FROM (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens, COUNT(*) AS ndv,
       |        SUM(CAST(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE)) AS DECIMAL(38,6))) AS s
       |      FROM c GROUP BY 1)
       |ORDER BY doc_id""".stripMargin

  def tokenCountQ(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenCountToks(toks(spark, dir).select(col("doc_id"), col("__ws")))
      .orderBy(col("doc_id"))

  val tokenCountSql: String =
    s"""WITH $wordsCte
       |SELECT doc_id, CAST(len(ws) AS INT) AS n_tokens,
       |  CAST(len(list_distinct(ws)) AS INT) AS n_unique
       |FROM w ORDER BY doc_id""".stripMargin

  // ---- row 28c: training-sequence packing ----

  val packCapacity = 512

  /** Greedy contiguous sequence packing — the concat-then-chunk layout a
    * training pipeline uses to fill fixed context windows: per lang
    * stream in doc_id order, each doc starts at the running token
    * offset; pack_id = ⌊offset / capacity⌋ (a doc whose tokens straddle
    * the boundary overflows its pack — the standard contiguous-packing
    * convention). One running-sum window per stream, no state.
    */
  def seqPackQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks(spark, dir)
      .select(col("lang"), col("doc_id"), size(col("__ws")).cast("long").as("n_tokens"))
      .withColumn("offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(
        col("lang"), col("doc_id"), col("n_tokens"),
        floor(col("offset") / packCapacity).cast("long").as("pack_id"),
        (col("offset") % packCapacity).as("pack_offset"))
      .orderBy(col("lang"), col("doc_id"))
  }

  val seqPackSql: String =
    s"""WITH $wordsCte,
       |t AS (SELECT d.lang, w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens
       |      FROM w JOIN documents d ON d.doc_id = w.doc_id),
       |o AS (SELECT lang, doc_id, n_tokens,
       |        COALESCE(CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS off
       |      FROM t)
       |SELECT lang, doc_id, n_tokens,
       |  CAST(FLOOR(off / $packCapacity.0) AS BIGINT) AS pack_id,
       |  off % $packCapacity AS pack_offset
       |FROM o ORDER BY lang, doc_id""".stripMargin

  def docFingerprintQ(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(Tables(spark, dir, "documents")).orderBy(col("doc_id"))

  val docFingerprintSql: String =
    """SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- row 28b: tf-idf top terms ----

  val tfidfK = 3

  def tfidfTermsQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tf IS the session's per-doc word-count memo (wave24:wc — same
    // groupBy(doc_id, word).count); df and the doc count derive from
    // it and the tokenized corpus, so the per-execution corpus explode
    // + first aggregation disappear (guide §2.4)
    val tf = QueriesWave24.docWordCounts(spark, dir)
      .select(col("doc_id"), col("w").as("term"), col("cnt").as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = toks(spark, dir).agg(count(lit(1)).as("n"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * col("n").cast("double") / col("df").cast("double"))
      .withColumn("rnk", row_number().over(win))
      .filter(col("rnk") <= tfidfK)
      .select(col("doc_id"), col("rnk"), col("term"), col("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  val tfidfTermsSql: String =
    s"""WITH $wordsCte,
       |w2 AS (SELECT doc_id, unnest(ws) AS term FROM w),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w2 GROUP BY 1, 2),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n FROM documents)
       |SELECT * FROM (
       |  SELECT doc_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY CAST(tf.tf AS DOUBLE) * CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE) DESC,
       |               term) AS INT) AS rnk,
       |    term,
       |    CAST(tf.tf AS DOUBLE) * CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE) AS score
       |  FROM tf JOIN dfreq USING (term), n
       |) WHERE rnk <= $tfidfK
       |ORDER BY doc_id, rnk""".stripMargin

  // ---- rows 29b/29c: PII scrub + URL stats ----

  def piiScrubQ(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.piiScrub(Tables(spark, dir, "documents")).orderBy(col("doc_id"))

  /** DuckDB regexp_replace defaults to first-match-only — the 'g' option
    * matches Spark's replace-all semantics.
    */
  val piiScrubSql: String = {
    import TextAnalysis.{emailPat, phonePat}
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$emailPat')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$phonePat')) AS BIGINT) AS n_phones,
       |  md5(regexp_replace(regexp_replace(text, '$emailPat', '<EMAIL>', 'g'),
       |      '$phonePat', '<PHONE>', 'g')) AS redacted_md5
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  def urlStatsQ(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.urlStats(Tables(spark, dir, "documents"))

  val urlStatsSql: String =
    s"""SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(len(regexp_extract_all(text, '${TextAnalysis.urlPat}'))) AS BIGINT) AS n_urls,
       |  CAST(SUM(CASE WHEN len(regexp_extract_all(text, '${TextAnalysis.urlPat}')) > 0
       |           THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_url
       |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---- row 30: multimodal metadata ----

  def mmMetaQ(spark: SparkSession, dir: String): DataFrame =
    Multimodal.meta(Tables(spark, dir, "documents")).orderBy(col("doc_id"))

  val mmMetaSql: String =
    """SELECT doc_id,
      |  ['image/png', 'audio/wav', 'video/mp4'][CAST(doc_id % 3 AS INT) + 1] AS mime,
      |  16 + n_chars % 64 AS width,
      |  16 + CAST(FLOOR(n_chars / 64.0) AS BIGINT) % 64 AS height,
      |  CAST(octet_length(unhex(md5(text))) AS INT) AS n_bytes,
      |  CAST((strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
      |       + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) AS INT) AS byte0,
      |  md5(text) AS checksum
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- row 30b: multimodal frame sampling ----

  val frameStride = 4

  def mmFramesQ(spark: SparkSession, dir: String): DataFrame =
    Multimodal
      .frameSample(Tables(spark, dir, "documents"), frameStride)
      .orderBy(col("doc_id"), col("frame_idx"))

  val mmFramesSql: String =
    s"""SELECT doc_id, n_frames, frame_idx,
       |  md5(md5(text) || ':' || CAST(frame_idx AS VARCHAR)) AS frame_md5
       |FROM (
       |  SELECT doc_id, text, n_frames,
       |    unnest(range(0, n_frames, $frameStride)) AS frame_idx
       |  FROM (SELECT doc_id, text, 8 + n_chars % 16 AS n_frames
       |        FROM documents WHERE CAST(doc_id % 3 AS INT) + 1 = 3))
       |ORDER BY doc_id, frame_idx""".stripMargin

  // ---- row 23b: edit-distance fuzzy match (entity resolution) ----

  val fuzzyPrefixLen = 40
  // τ=8 (20% of the prefix): semantically tight AND keeps the banded-DP
  // band at 17 of 40 columns — τ=16's band covered nearly the whole
  // matrix, making "bounded" levenshtein no cheaper than full.
  val fuzzyMaxDist = 8

  /** Count-filter strength of the segment blocking: partition into
    * τ + m segments and demand ≥ m distinct matched segments. m > 1 is
    * what keeps the scheme selective on LOW-ENTROPY corpora (a small
    * vocabulary makes any single bounded-length key collide at a
    * constant per-pair rate; requiring m independent segment hits
    * drives that rate down geometrically). m = 3 measured on the test
    * corpus: ~50× fewer candidates than per-source all-pairs at
    * sf0.1, at ~1.5× the (cheap, tiny-row) segment-join volume of
    * m = 1. On natural-vocabulary corpora a smaller m (longer, rarer
    * segments) is the better dial.
    */
  val fuzzyReqMatches = 3

  /** The fixed (start, len) partition of the cap-length prefix into
    * τ + m segments (lengths differ by at most 1): with ≤ τ edits and
    * each edit touching at most one segment, at least m segments of
    * any qualifying partner survive every edit untouched.
    */
  private[graft] val fuzzySegs: Seq[(Int, Int, Int)] = {
    val nSeg = fuzzyMaxDist + fuzzyReqMatches
    val base = fuzzyPrefixLen / nSeg
    val rem = fuzzyPrefixLen % nSeg
    val lens = Seq.tabulate(nSeg)(i => if (i < rem) base + 1 else base)
    lens.scanLeft(1)(_ + _).zip(lens).zipWithIndex.map {
      case ((st, ln), i) => (i, st, ln)
    }
  }

  /** Candidate pairs for fuzzy matching: CONTENT blocking on exact
    * prefix segments (the PassJoin / pigeonhole discipline — Li, Deng,
    * Feng, "Pass-Join", VLDB 2011 — strengthened to a count filter).
    * Partition the higher-id string b into τ + m fixed segments
    * ([[fuzzySegs]]); each of the ≤ τ edits of a qualifying pair
    * destroys at most one segment, so ≥ m segments of b survive
    * INTACT, and each intact segment appears in a as a contiguous
    * substring whose start is shifted by the net indel balance before
    * it. The index side emits b's segment keys; the probe side emits
    * a's substrings at every admissible shifted position (plus the
    * truncated/empty variants a shorter-than-cap partner could
    * produce, gated on the |len| ≤ τ band); candidates are the
    * (source, segment, content) equi-join rows that survive the exact
    * position window — splitting the optimal alignment at the intact
    * segment gives ed ≥ |shift| + |Δlen − shift|, so any row with
    * |shift| + |Δlen − shift| > τ cannot come from an intact segment —
    * then a per-pair HAVING of ≥ m distinct matched segments. Join
    * volume is bounded by SEGMENT-CONTENT collisions (tiny rows,
    * keyed shuffle); the verify set after the count filter is ~50×
    * under per-source all-pairs on the test corpus
    * (PairGrowthAuditSpec measures selectivity across scale factors);
    * the emitted pair set provably contains every dist ≤ τ pair.
    */
  def fuzzyCandidates(p: DataFrame): DataFrame = {
    val spark = p.sparkSession
    import spark.implicits._
    val tau = fuzzyMaxDist
    // probe-side key specs (seg, segment start, emit position, emit
    // length, is-full-length) — a few hundred constant rows broadcast
    // onto the corpus; gates that depend on the row's own prefix
    // length are WHERE clauses after the cross join, so the hot
    // projection is one small codegen'd expression instead of an
    // unrolled per-spec WHEN forest
    val probeSpecs = fuzzySegs.flatMap { case (i, st, ln) =>
      val shifted = for {
        shift <- -tau to tau
        pos = st + shift
        if pos >= 1
        l <- 1 to ln
      } yield (i, st, pos, l, l == ln)
      // the empty key: an empty-segment partner (len_b < st) — emit at
      // the nominal position; the window filter reduces to |Δlen| ≤ τ
      shifted :+ ((i, st, st, 0, false))
    }.toDF("seg", "bst", "pos", "l", "full")
    val lenA = length(col("pre"))
    // index role (the pair's HIGHER doc_id): the τ+m segments verbatim,
    // naturally truncated/empty when the prefix is short. The join
    // carries only ids + prefix LENGTHS — the prefixes themselves
    // rejoin onto the few count-filter survivors, so the segment
    // shuffle ships narrow rows, not 2×40-char strings per collision.
    val idxKeys = fuzzySegs.map { case (i, st, ln) =>
      struct(lit(i).as("seg"), lit(st).as("bst"),
        substring(col("pre"), st, ln).as("key"))
    }
    val b = p.select(col("source"), col("doc_id").as("doc_b"),
        lenA.as("lb"), explode(array(idxKeys: _*)).as("k"))
      .select(col("source"), col("doc_b"), col("lb"),
        col("k.seg").as("seg"), col("k.bst").as("bst"), col("k.key").as("key"))
    // probe role (LOWER doc_id): for each segment, its content at every
    // admissible shifted position — full-length always; truncated
    // lengths ℓ only where a partner of length st+ℓ−1 is inside the
    // ±τ length band; the empty key only where an empty-segment
    // partner is inside the band
    val a = p.crossJoin(broadcast(probeSpecs))
      .filter(
        when(col("l") === 0, lenA <= col("bst") - 1 + tau)
          .otherwise(
            (col("pos") + col("l") - 1 <= lenA) &&
              when(col("full"), lenA + tau >= col("bst") + col("l") - 1)
                .otherwise(abs(col("bst") + col("l") - 1 - lenA) <= tau)))
      .select(col("source"), col("doc_id").as("doc_a"), lenA.as("la"),
        col("seg"), col("pos"),
        expr("substring(pre, pos, l)").as("key"))
    val shift = col("pos") - col("bst")
    val dlen = col("la") - col("lb")
    val pairs = a.join(b, Seq("source", "seg", "key"))
      .filter(col("doc_a") < col("doc_b"))
      // exact alignment-split window: ed ≥ |shift| + |Δlen − shift|
      .filter(abs(shift) + abs(dlen - shift) <= tau)
      .groupBy(col("source"), col("doc_a"), col("doc_b"))
      .agg(countDistinct(col("seg")).as("__nseg"))
      .filter(col("__nseg") >= fuzzyReqMatches)
    pairs
      .join(p.select(col("doc_id").as("doc_a"), col("pre").as("pa")), Seq("doc_a"))
      .join(p.select(col("doc_id").as("doc_b"), col("pre").as("pb")), Seq("doc_b"))
      .select(col("source"), col("doc_a"), col("doc_b"), col("pa"), col("pb"))
  }

  /** Character-level fuzzy matching — the entity-resolution counterpart
    * to the token-set similarity ops: doc pairs inside a source block
    * whose lead prefixes sit within a bounded edit distance
    * (`levenshtein` has identical unit-cost semantics in Spark and
    * DuckDB). Blocking is the exact segment-content equi-join of
    * [[fuzzyCandidates]] (pigeonhole: no dist ≤ τ pair can be missed),
    * so the result set is provably identical to the unblocked quadratic
    * form the oracle runs.
    */
  def fuzzyMatchQ(spark: SparkSession, dir: String): DataFrame =
    // verified-pair frame memoized per session (the lshPairs
    // discipline): the block-join-verify pipeline runs once; every
    // later action reads the bounded matched-pair frame
    Memo(spark, dir, "fuzzyPairs") {
      val p = Tables(spark, dir, "documents")
        .select(col("doc_id"), col("source"), substring(col("text"), 1, fuzzyPrefixLen).as("pre"))
      fuzzyCandidates(p)
        // bounded (banded-DP) levenshtein: O(τ·n) per pair instead of
        // O(n²), returns -1 past the threshold — exact distance otherwise,
        // so results are identical to the oracle's unbounded form
        .withColumn("dist", levenshtein(col("pa"), col("pb"), fuzzyMaxDist).cast("int"))
        .filter(col("dist") >= 0)
        .select(col("source"), col("doc_a"), col("doc_b"), col("dist"))
    }.orderBy(col("doc_a"), col("doc_b"))

  val fuzzyMatchSql: String =
    s"""WITH p AS (SELECT doc_id, source, substr(text, 1, $fuzzyPrefixLen) AS pre FROM documents)
       |SELECT a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(levenshtein(a.pre, b.pre) AS INT) AS dist
       |FROM p a JOIN p b ON a.source = b.source AND a.doc_id < b.doc_id
       |WHERE levenshtein(a.pre, b.pre) <= $fuzzyMaxDist
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- row 30c: multimodal resize planning ----

  val resizeMaxDim = 48L

  def mmResizeQ(spark: SparkSession, dir: String): DataFrame =
    Multimodal
      .resizePlan(Tables(spark, dir, "documents"), resizeMaxDim)
      .orderBy(col("doc_id"))

  val mmResizeSql: String =
    s"""SELECT doc_id, width, height, needs_resize,
       |  CASE WHEN needs_resize
       |       THEN CAST(FLOOR(CAST(width * $resizeMaxDim AS DOUBLE) / CAST(lng AS DOUBLE)) AS BIGINT)
       |       ELSE width END AS out_width,
       |  CASE WHEN needs_resize
       |       THEN CAST(FLOOR(CAST(height * $resizeMaxDim AS DOUBLE) / CAST(lng AS DOUBLE)) AS BIGINT)
       |       ELSE height END AS out_height,
       |  md5(md5(text) || ':' ||
       |      CAST(CASE WHEN needs_resize
       |           THEN CAST(FLOOR(CAST(width * $resizeMaxDim AS DOUBLE) / CAST(lng AS DOUBLE)) AS BIGINT)
       |           ELSE width END AS VARCHAR) || 'x' ||
       |      CAST(CASE WHEN needs_resize
       |           THEN CAST(FLOOR(CAST(height * $resizeMaxDim AS DOUBLE) / CAST(lng AS DOUBLE)) AS BIGINT)
       |           ELSE height END AS VARCHAR)) AS out_md5
       |FROM (
       |  SELECT doc_id, text, width, height,
       |    GREATEST(width, height) AS lng,
       |    GREATEST(width, height) > $resizeMaxDim AS needs_resize
       |  FROM (SELECT doc_id, text,
       |          16 + n_chars % 64 AS width,
       |          16 + CAST(FLOOR(n_chars / 64.0) AS BIGINT) % 64 AS height
       |        FROM documents WHERE CAST(doc_id % 3 AS INT) + 1 = 1))
       |ORDER BY doc_id""".stripMargin

  // ---- row 22b: winnowing fingerprints (MOSS) ----

  /** Winnowing document fingerprints: 52-bit md5 hashes of word 4-grams,
    * min over each sliding window of 4 consecutive hashes, distinct
    * minima per doc — the localized substring-match fingerprint scheme
    * (any shared run of ≥ 7 words shares a fingerprint). All per-doc
    * array expressions: the only shuffle is the output sort.
    */
  /** Per-doc winnow fingerprints, materialized once — shared by
    * winnow_fingerprint and winnow_dup.
    */
  private def winnowFps(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "winnowFps")(
      TextOps.winnowFingerprintsToks(toks(spark, dir).select(col("doc_id"), col("__ws"))))

  def winnowFingerprintQ(spark: SparkSession, dir: String): DataFrame =
    winnowFps(spark, dir).orderBy(col("doc_id"), col("fp"))

  /** CTE chain ending in `fp` (doc_id, fp) — the SQL twin of
    * [[TextOps.winnowFingerprints]].
    */
  private val winnowFpCtes: String =
    s"""$wordsCte,
       |hs AS (
       |  SELECT doc_id,
       |    list_transform(range(1, greatest(len(ws) - 2, 1)),
       |      i -> CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]), 1, 13)) AS BIGINT)) AS hs
       |  FROM w
       |),
       |fp AS (
       |  SELECT doc_id, fp FROM (
       |    SELECT doc_id,
       |      unnest(list_distinct(list_transform(
       |        range(1, greatest(len(hs) - 3, 1) + 1),
       |        p -> list_min(list_slice(hs, p, p + 3))))) AS fp
       |    FROM hs
       |  ) WHERE fp IS NOT NULL
       |)""".stripMargin

  val winnowFingerprintSql: String =
    s"""WITH $winnowFpCtes
       |SELECT doc_id, fp FROM fp
       |ORDER BY doc_id, fp""".stripMargin

  // ---- row 22c: winnowing near-dup candidate pairs ----

  /** Stop-fingerprint document-frequency cap: a fingerprint shared by
    * more docs than this is boilerplate, and — crucially at scale —
    * would otherwise explode the pair join quadratically on its bucket.
    */
  val winnowMaxDf = 20
  /** Minimum shared (rare) fingerprints for a candidate pair. */
  val winnowMinShared = 3

  /** Candidate near-dup pairs by shared winnow fingerprints — the
    * localized-overlap dedup path (catches long verbatim runs that
    * whole-document MinHash misses when the rest of the docs differ).
    * Same plan shape as LSH: groupBy bucket, self-join co-partitioned on
    * the fingerprint, hot buckets capped by the stop-fingerprint filter.
    */
  def winnowDupQ(spark: SparkSession, dir: String): DataFrame = {
    val fps = winnowFps(spark, dir)
    val rare = fps
      .groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= winnowMaxDf)
      .select(col("fp"))
    val f2 = fps.join(rare, "fp")
    f2.alias("a")
      .join(f2.alias("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= winnowMinShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val winnowDupSql: String =
    s"""WITH $winnowFpCtes,
       |rare AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= $winnowMaxDf),
       |f2 AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare USING (fp))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
       |FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= $winnowMinShared
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- row 20b: minhash estimate accuracy vs exact Jaccard ----

  /** Sketch-accuracy report: for every verified near-dup pair, the
    * MinHash similarity estimate (fraction of agreeing signature
    * components) next to the exact Jaccard — the measured error of the
    * sketch the LSH path banks on. Costs two broadcast joins of the
    * 16-wide signature table onto the tiny verified-pair list.
    */
  def minhashJaccardEstQ(spark: SparkSession, dir: String): DataFrame = {
    val wide = mhWide(spark, dir)
    val agree = (0 until TextOps.numPerms)
      .map(i => when(col(s"a.m$i") === col(s"b.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    lshPairs(spark, dir)
      .join(broadcast(wide.alias("a")), col("doc_a") === col("a.doc_id"))
      .join(broadcast(wide.alias("b")), col("doc_b") === col("b.doc_id"))
      .select(
        col("doc_a"), col("doc_b"),
        (agree.cast("double") / lit(TextOps.numPerms.toDouble)).as("mh_est"),
        col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val minhashJaccardEstSql: String = {
    val agree = (0 until TextOps.numPerms)
      .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $lshPairsCtes
       |SELECT p.doc_a, p.doc_b,
       |  CAST(($agree) AS DOUBLE) / ${TextOps.numPerms}.0 AS mh_est,
       |  p.jaccard
       |FROM pairs p
       |JOIN sigs a ON p.doc_a = a.doc_id
       |JOIN sigs b ON p.doc_b = b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "winnow_fingerprint" -> (winnowFingerprintQ _),
    "winnow_dup" -> (winnowDupQ _),
    "minhash_jaccard_est" -> (minhashJaccardEstQ _),
    "mm_frames" -> (mmFramesQ _),
    "mm_resize" -> (mmResizeQ _),
    "fuzzy_match" -> (fuzzyMatchQ _),
    "contamination" -> (contaminationQ _),
    "prefix_dedup" -> (prefixDedupQ _),
    "exact_dedup" -> (exactDedupQ _),
    "minhash_sig" -> (minhashSigQ _),
    "minhash_lsh_dup" -> (minhashLshDupQ _),
    "incremental_dedup" -> (incrementalDedupQ _),
    "dup_clusters" -> (dupClustersQ _),
    "simhash_dup" -> (simhashDupQ _),
    "simhash_clusters" -> (simhashClustersQ _),
    "ngram_jaccard" -> (ngramJaccardQ _),
    "ngram_novelty" -> (ngramNoveltyQ _),
    "embed_cosine_topk" -> (embedCosineTopkQ _),
    "embed_lsh_ann" -> (embedLshAnnQ _),
    "ann_recall" -> (annRecallQ _),
    "embed_int8" -> (embedInt8Q _),
    "embed_dup" -> (embedDupQ _),
    "embed_ivf_ann" -> (embedIvfAnnQ _),
    "semantic_dedup" -> (semanticDedupQ _),
    "dedup_method_agreement" -> (dedupMethodAgreementQ _),
    "embed_pq" -> (embedPqQ _),
    "pq_adc_topk" -> (pqAdcTopkQ _),
    "ivf_kmeans_ann" -> (ivfKmeansAnnGatedQ _),
    "ivf_kmeans_check" -> (ivfKmeansCheckQ _),
    "ivf_kmeans_recall" -> (ivfKmeansRecallQ _),
    "lang_id" -> (langIdQ _),
    "quality_score" -> (qualityScoreQ _),
    "quality_calibration" -> (qualityCalibrationQ _),
    "token_count" -> (tokenCountQ _),
    "token_entropy" -> (tokenEntropyQ _),
    "seq_pack" -> (seqPackQ _),
    "tfidf_terms" -> (tfidfTermsQ _),
    "doc_fingerprint" -> (docFingerprintQ _),
    "pii_scrub" -> (piiScrubQ _),
    "url_stats" -> (urlStatsQ _),
    "mm_meta" -> (mmMetaQ _)
  )

  /** The registered ivf_kmeans_ann is the gated summary (probe/result
    * counts the oracle re-derives + conjunction verdict); the raw MLlib
    * search stays library surface (ivfKmeansAnnQ). ivf_kmeans_check is
    * the per-probe itemized contract.
    */
  val oracleSql: Map[String, String] = Map(
    "ivf_kmeans_ann" -> ivfKmeansAnnGatedSql,
    "ivf_kmeans_check" -> ivfKmeansCheckSql,
    "ivf_kmeans_recall" -> ivfKmeansRecallSql,
    "winnow_fingerprint" -> winnowFingerprintSql,
    "winnow_dup" -> winnowDupSql,
    "minhash_jaccard_est" -> minhashJaccardEstSql,
    "mm_frames" -> mmFramesSql,
    "mm_resize" -> mmResizeSql,
    "fuzzy_match" -> fuzzyMatchSql,
    "contamination" -> contaminationSql,
    "prefix_dedup" -> prefixDedupSql,
    "embed_lsh_ann" -> embedLshAnnSql,
    "ann_recall" -> annRecallSql,
    "embed_int8" -> embedInt8Sql,
    "embed_dup" -> embedDupSql,
    "exact_dedup" -> exactDedupSql,
    "minhash_sig" -> minhashSigSql,
    "minhash_lsh_dup" -> minhashLshDupSql,
    "incremental_dedup" -> incrementalDedupSql,
    "dup_clusters" -> dupClustersSql,
    "simhash_dup" -> simhashDupSql,
    "simhash_clusters" -> simhashClustersSql,
    "ngram_jaccard" -> ngramJaccardSql,
    "ngram_novelty" -> ngramNoveltySql,
    "embed_cosine_topk" -> embedCosineTopkSql,
    "embed_ivf_ann" -> embedIvfAnnSql,
    "semantic_dedup" -> semanticDedupSql,
    "dedup_method_agreement" -> dedupMethodAgreementSql,
    "embed_pq" -> embedPqSql,
    "pq_adc_topk" -> pqAdcTopkSql,
    "lang_id" -> langIdSql,
    "quality_score" -> qualityScoreSql,
    "quality_calibration" -> qualityCalibrationSql,
    "token_count" -> tokenCountSql,
    "token_entropy" -> tokenEntropySql,
    "seq_pack" -> seqPackSql,
    "tfidf_terms" -> tfidfTermsSql,
    "doc_fingerprint" -> docFingerprintSql,
    "pii_scrub" -> piiScrubSql,
    "url_stats" -> urlStatsSql,
    "mm_meta" -> mmMetaSql
  )
}
