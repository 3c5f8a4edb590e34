package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Corpus, TextAnalysis}

/** Corpus-curation queries (SURVEY.md §2 rows 36-41): stratified
  * sampling, drift testing, n-gram statistics, rule filtering,
  * repetition signals, and cluster-aware keep-best dedup resolution.
  * Oracle SQL mirrors the Spark expressions operation-for-operation.
  */
object QueriesCorpus extends QueryModule {

  // ---- row 36: deterministic stratified sampling ----

  val strataSeed = "strat42"

  /** Stratum fraction by source index mod 3: 0.5 / 0.25 / 0.1. */
  val strataFracs: Seq[Double] = Seq(0.5, 0.25, 0.1)

  private def srcNum = expr("CAST(substring(source, 4) AS INT)")

  private def threshCol: Column =
    when(srcNum % 3 === 0, lit(Corpus.thresholdHex(strataFracs(0))))
      .when(srcNum % 3 === 1, lit(Corpus.thresholdHex(strataFracs(1))))
      .otherwise(lit(Corpus.thresholdHex(strataFracs(2))))

  private val threshCaseSql: String =
    s"""CASE WHEN CAST(substr(source, 4) AS INT) % 3 = 0 THEN '${Corpus.thresholdHex(strataFracs(0))}'
       |       WHEN CAST(substr(source, 4) AS INT) % 3 = 1 THEN '${Corpus.thresholdHex(strataFracs(1))}'
       |       ELSE '${Corpus.thresholdHex(strataFracs(2))}' END""".stripMargin

  def stratifiedSampleQ(spark: SparkSession, dir: String): DataFrame =
    Corpus
      .stratifiedSample(Tables(spark, dir, "documents"), strataSeed, threshCol)
      .orderBy(col("doc_id"))

  val stratifiedSampleSql: String =
    s"""SELECT doc_id, source, substr(md5('$strataSeed:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h8
       |FROM documents
       |WHERE substr(md5('$strataSeed:' || CAST(doc_id AS VARCHAR)), 1, 8) <
       |  $threshCaseSql
       |ORDER BY doc_id""".stripMargin

  // ---- row 36b: uniform source-mix rebalancing ----

  val mixSeed = "mix42"

  def sourceMixSampleQ(spark: SparkSession, dir: String): DataFrame =
    Corpus
      .sourceMixSample(Tables(spark, dir, "documents"), mixSeed)
      .orderBy(col("doc_id"))

  /** DuckDB twin: the 8-hex-digit uniform is rebuilt digit-by-digit
    * (strpos over the hex alphabet) and the threshold product runs in
    * HUGEINT — same exact integers as Spark's DECIMAL(38,0) path.
    */
  val sourceMixSampleSql: String = {
    val digits = (1 to 8)
      .map(i =>
        s"(strpos('0123456789abcdef', substr(h8, $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")
    s"""WITH counts AS (SELECT source, COUNT(*) AS n_src FROM documents GROUP BY 1),
       |m AS (SELECT MIN(n_src) AS min_src FROM counts),
       |d AS (SELECT doc_id, source,
       |        substr(md5('$mixSeed:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h8
       |      FROM documents)
       |SELECT d.doc_id, d.source, c.n_src, m.min_src,
       |  CAST($digits AS HUGEINT) * c.n_src < CAST(m.min_src AS HUGEINT) * 4294967296 AS kept
       |FROM d JOIN counts c ON c.source = d.source, m
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- row 36c: deterministic k-per-group sample ----

  val groupSampleSeed = "pick7"
  val groupSampleK = 3

  def perGroupSampleQ(spark: SparkSession, dir: String): DataFrame =
    Corpus
      .perGroupSample(Tables(spark, dir, "documents"), groupSampleSeed, groupSampleK)
      .orderBy(col("source"), col("rnk"))

  val perGroupSampleSql: String =
    s"""SELECT doc_id, source, h, CAST(rnk AS INT) AS rnk FROM (
       |  SELECT doc_id, source, md5('$groupSampleSeed:' || CAST(doc_id AS VARCHAR)) AS h,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |                       ORDER BY md5('$groupSampleSeed:' || CAST(doc_id AS VARCHAR)), doc_id) AS rnk
       |  FROM documents
       |) WHERE rnk <= $groupSampleK
       |ORDER BY source, rnk""".stripMargin

  // ---- row 36f: corpus summary (the dataset-card aggregate) ----

  /** Per (lang, source) corpus roll-up: docs, token/char totals, mean
    * doc length — the dataset-card numbers every corpus release ships.
    * One groupBy; token counts are row-local array sizes.
    */
  def corpusSummaryQ(spark: SparkSession, dir: String): DataFrame =
    QueriesText.toks(spark, dir)
      .select(
        col("lang"), col("source"), col("n_chars"),
        size(col("__ws")).cast("long").as("__nt"))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("n_tokens"),
        sum(col("n_chars")).as("sum_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_chars"))
      .orderBy(col("lang"), col("source"))

  val corpusSummarySql: String =
    s"""WITH ${QueriesText.wordsCte}
       |SELECT d.lang, d.source, COUNT(*) AS n_docs,
       |  CAST(SUM(len(w.ws)) AS BIGINT) AS n_tokens,
       |  CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(d.n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_chars
       |FROM documents d JOIN w ON w.doc_id = d.doc_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- row 37: χ² drift between event populations ----

  def chi2DriftQ(spark: SparkSession, dir: String): DataFrame =
    Corpus.chi2Drift(Tables(spark, dir, "events")).orderBy(col("event_type"))

  val chi2DriftSql: String =
    """WITH obs AS (SELECT event_type,
      |  CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |  CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      |  FROM events GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n0) AS BIGINT) AS t0, CAST(SUM(n1) AS BIGINT) AS t1 FROM obs)
      |SELECT event_type, n0, n1,
      |  (CAST(n0 AS DOUBLE) - e0) * (CAST(n0 AS DOUBLE) - e0) / e0
      |    + (CAST(n1 AS DOUBLE) - e1) * (CAST(n1 AS DOUBLE) - e1) / e1 AS chi2
      |FROM (SELECT event_type, n0, n1,
      |        CAST(n0 + n1 AS DOUBLE) * CAST(t0 AS DOUBLE) / CAST(t0 + t1 AS DOUBLE) AS e0,
      |        CAST(n0 + n1 AS DOUBLE) * CAST(t1 AS DOUBLE) / CAST(t0 + t1 AS DOUBLE) AS e1
      |      FROM obs, tot)
      |ORDER BY event_type""".stripMargin

  // ---- row 38: per-lang top-k n-grams ----

  val ngramFreqK = 5

  def ngramFreqQ(spark: SparkSession, dir: String): DataFrame =
    Corpus
      .ngramFreq(Tables(spark, dir, "documents"), ngramFreqK)
      .orderBy(col("lang"), col("rnk"))

  val ngramFreqSql: String =
    s"""WITH ${QueriesText.wordsCte},
       |bi AS (SELECT d.lang,
       |         unnest(list_transform(range(1, greatest(len(ws), 1)), i -> ws[i] || ' ' || ws[i+1])) AS ngram
       |       FROM w JOIN documents d USING (doc_id)),
       |cnt AS (SELECT lang, ngram, COUNT(*) AS cnt FROM bi GROUP BY 1, 2)
       |SELECT lang, CAST(rnk AS INT) AS rnk, ngram, cnt FROM (
       |  SELECT lang, ngram, cnt,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, ngram) AS rnk
       |  FROM cnt)
       |WHERE rnk <= $ngramFreqK
       |ORDER BY lang, rnk""".stripMargin

  // ---- row 39: C4/Gopher-style rule filter ----

  def docFilterQ(spark: SparkSession, dir: String): DataFrame =
    Corpus.docFilter(Tables(spark, dir, "documents")).orderBy(col("doc_id"))

  val docFilterSql: String = {
    import TextAnalysis.{emailPat, phonePat}
    s"""WITH ${QueriesText.wordsCte}
       |SELECT doc_id, r_min_words, r_stop_ratio, r_word_shape, r_no_pii,
       |  (r_min_words AND r_stop_ratio AND r_word_shape AND r_no_pii) AS kept
       |FROM (
       |  SELECT w.doc_id,
       |    len(ws) >= 30 AS r_min_words,
       |    (${QueriesText.stopRatioSqlExpr}) >= 0.02 AS r_stop_ratio,
       |    (${QueriesText.avgWordLenSqlExpr}) BETWEEN 3.0 AND 10.0 AS r_word_shape,
       |    (len(regexp_extract_all(d.text, '$emailPat'))
       |      + len(regexp_extract_all(d.text, '$phonePat'))) = 0 AS r_no_pii
       |  FROM w JOIN documents d USING (doc_id))
       |ORDER BY doc_id""".stripMargin
  }

  // ---- row 40: repetition signals ----

  def repetitionRatioQ(spark: SparkSession, dir: String): DataFrame =
    Corpus.repetitionRatioToks(
      QueriesText.toks(spark, dir).select(col("doc_id"), col("__ws")))
      .orderBy(col("doc_id"))

  val repetitionRatioSql: String =
    s"""WITH ${QueriesText.wordsCte},
       |wx AS (SELECT doc_id, unnest(ws) AS word FROM w),
       |wc AS (SELECT doc_id, word, COUNT(*) AS cnt FROM wx GROUP BY 1, 2),
       |agg AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS nt,
       |               CAST(COUNT(*) AS BIGINT) AS nu, CAST(MAX(cnt) AS BIGINT) AS mx
       |        FROM wc GROUP BY 1),
       |bi AS (SELECT doc_id,
       |         list_transform(range(1, greatest(len(ws), 1)), i -> ws[i] || ' ' || ws[i+1]) AS bl
       |       FROM w)
       |SELECT w.doc_id,
       |  COALESCE(1.0 - CAST(nu AS DOUBLE) / CAST(nt AS DOUBLE), 0.0) AS dup_word_ratio,
       |  COALESCE(CAST(mx AS DOUBLE) / CAST(nt AS DOUBLE), 0.0) AS top_word_ratio,
       |  CASE WHEN len(bl) > 0 THEN 1.0 - CAST(len(list_distinct(bl)) AS DOUBLE) / CAST(len(bl) AS DOUBLE)
       |       ELSE 0.0 END AS dup_bigram_ratio
       |FROM w
       |JOIN bi USING (doc_id)
       |LEFT JOIN agg USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- row 41: cluster-aware keep-best dedup resolution ----

  /** Among each near-dup cluster keep the highest-quality member
    * (quality_score semantics, ties to the lowest doc_id) — the decision
    * a curation pipeline actually ships, composed from the materialized
    * cluster labels and the per-doc quality frame.
    */
  def dedupKeepBestQ(spark: SparkSession, dir: String): DataFrame = {
    val clusters = QueriesText.dupComponents(spark, dir)
    val quality = QueriesText.quality(spark, dir)
      .select(col("doc_id"), col("score"))
    val win = Window.partitionBy(col("cluster_id")).orderBy(col("score").desc, col("doc_id"))
    val keep = clusters
      .join(quality, "doc_id")
      .withColumn("__rn", row_number().over(win))
      .filter(col("__rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"))
    clusters
      .join(keep, "cluster_id")
      .select(
        col("doc_id"), col("cluster_id"), col("keep_id"),
        (col("doc_id") === col("keep_id")).as("kept"))
      .orderBy(col("doc_id"))
  }

  val dedupKeepBestSql: String =
    s"""WITH RECURSIVE ${QueriesText.clustersCtes},
       |qs AS (SELECT doc_id, ${QueriesText.scoreSqlExpr.replace("\n", " ")} AS score FROM w),
       |ranked AS (SELECT c.doc_id, c.cluster_id,
       |    ROW_NUMBER() OVER (PARTITION BY c.cluster_id ORDER BY qs.score DESC, c.doc_id) AS rn
       |  FROM clusters c JOIN qs USING (doc_id)),
       |keep AS (SELECT cluster_id, doc_id AS keep_id FROM ranked WHERE rn = 1)
       |SELECT c.doc_id, c.cluster_id, k.keep_id, c.doc_id = k.keep_id AS kept
       |FROM clusters c JOIN keep k USING (cluster_id)
       |ORDER BY c.doc_id""".stripMargin

  // ---- row 42: end-to-end curation pass ----

  /** The composed keep-list a curation pipeline actually ships: quality
    * rule filter ∧ lead-prefix dedup winner ∧ near-dup cluster
    * keep-best ∧ stratified sample — one boolean per stage plus the
    * final decision, per document. Every stage reuses the session's
    * materialized frames (cluster labels, quality scores), so the
    * composition costs joins over already-built state, not recomputed
    * pipelines.
    */
  def curationPassQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val filt = Corpus.docFilter(docs).select(col("doc_id"), col("kept").as("r_filter"))
    val pfxBase = QueriesText.toks(spark, dir)
      .select(col("doc_id"), col("__ws"))
      .withColumn("__p",
        md5(expr(s"array_join(slice(__ws, 1, ${QueriesText.prefixWords}), ' ')")))
    val pfx = pfxBase
      .join(pfxBase.groupBy(col("__p")).agg(min(col("doc_id")).as("__keep")), "__p")
      .select(col("doc_id"), (col("doc_id") === col("__keep")).as("r_prefix"))
    val clusters = QueriesText.dupComponents(spark, dir)
    val quality = QueriesText.quality(spark, dir).select(col("doc_id"), col("score"))
    val win = Window.partitionBy(col("cluster_id")).orderBy(col("score").desc, col("doc_id"))
    val keep = clusters.join(quality, "doc_id")
      .withColumn("__rn", row_number().over(win))
      .filter(col("__rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("__keep_id"))
    val nd = clusters.join(keep, "cluster_id")
      .select(col("doc_id"), (col("doc_id") === col("__keep_id")).as("__ndk"))
    val h8 = substring(md5(concat(lit(s"$strataSeed:"), col("doc_id").cast("string"))), 1, 8)
    val strat = docs.select(col("doc_id"), (h8 < threshCol).as("r_sample"))
    filt
      .join(pfx, "doc_id")
      .join(nd, Seq("doc_id"), "left")
      .withColumn("r_neardup", coalesce(col("__ndk"), lit(true)))
      .join(strat, "doc_id")
      .select(
        col("doc_id"), col("r_filter"), col("r_prefix"), col("r_neardup"), col("r_sample"),
        (col("r_filter") && col("r_prefix") && col("r_neardup") && col("r_sample")).as("kept"))
      .orderBy(col("doc_id"))
  }

  val curationPassSql: String = {
    import TextAnalysis.{emailPat, phonePat}
    val pfxSub =
      s"(SELECT doc_id, md5(array_to_string(ws[1:${QueriesText.prefixWords}], ' ')) AS p FROM w)"
    s"""WITH RECURSIVE ${QueriesText.clustersCtes},
       |qs AS (SELECT doc_id, ${QueriesText.scoreSqlExpr.replace("\n", " ")} AS score FROM w),
       |ranked AS (SELECT c.doc_id, c.cluster_id,
       |    ROW_NUMBER() OVER (PARTITION BY c.cluster_id ORDER BY qs.score DESC, c.doc_id) AS rn
       |  FROM clusters c JOIN qs USING (doc_id)),
       |keep AS (SELECT cluster_id, doc_id AS keep_id FROM ranked WHERE rn = 1),
       |nd AS (SELECT c.doc_id, c.doc_id = k.keep_id AS ndk
       |       FROM clusters c JOIN keep k USING (cluster_id)),
       |filt AS (SELECT w.doc_id,
       |    (len(ws) >= 30) AND ((${QueriesText.stopRatioSqlExpr}) >= 0.02)
       |      AND ((${QueriesText.avgWordLenSqlExpr}) BETWEEN 3.0 AND 10.0)
       |      AND ((len(regexp_extract_all(d.text, '$emailPat'))
       |            + len(regexp_extract_all(d.text, '$phonePat'))) = 0) AS r_filter
       |  FROM w JOIN documents d USING (doc_id)),
       |pfx AS (SELECT wp.doc_id, wp.doc_id = g.keep_id AS r_prefix
       |        FROM $pfxSub wp
       |        JOIN (SELECT p, MIN(doc_id) AS keep_id FROM $pfxSub z GROUP BY 1) g USING (p)),
       |strat AS (SELECT doc_id,
       |    substr(md5('$strataSeed:' || CAST(doc_id AS VARCHAR)), 1, 8) < $threshCaseSql AS r_sample
       |  FROM documents)
       |SELECT f.doc_id, f.r_filter, p.r_prefix,
       |  COALESCE(nd.ndk, TRUE) AS r_neardup, s.r_sample,
       |  f.r_filter AND p.r_prefix AND COALESCE(nd.ndk, TRUE) AND s.r_sample AS kept
       |FROM filt f
       |JOIN pfx p USING (doc_id)
       |LEFT JOIN nd USING (doc_id)
       |JOIN strat s USING (doc_id)
       |ORDER BY f.doc_id""".stripMargin
  }

  // ---- bpe_pairs: tokenizer-training pair statistics ----

  val bpeTopK = 25

  /** The inner statistic of BPE tokenizer training (one merge
    * iteration): adjacent character-pair counts over the corpus,
    * weighted by word frequency. Scale shape is exactly how real BPE
    * trainers run: the pair explosion happens over the DISTINCT word
    * vocabulary (bounded), never the corpus — one corpus-wide word
    * count shuffle, then vocabulary-sized work.
    */
  def bpePairsQ(spark: SparkSession, dir: String): DataFrame =
    Corpus.bpePairsToks(QueriesText.toks(spark, dir).select(col("__ws")), bpeTopK)

  val bpePairsSql: String =
    s"""WITH ${QueriesText.wordsCte},
       |wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c
       |       FROM (SELECT unnest(ws) AS word FROM w) GROUP BY 1),
       |p AS (SELECT c, unnest(list_transform(range(1, length(word)), i -> substr(word, i, 2))) AS pair
       |      FROM wc WHERE length(word) >= 2)
       |SELECT pair, CAST(SUM(c) AS BIGINT) AS cnt FROM p GROUP BY 1
       |ORDER BY cnt DESC, pair LIMIT $bpeTopK""".stripMargin

  // ---- row 38c: bpe_train — greedy BPE merge loop (tokenizer training) ----

  val bpeMerges = 6

  /** Word vocabulary with counts and the sentinel-spaced character
    * sequence each word starts from: leading/trailing single space,
    * TWO spaces between symbols. The two-space separator is what makes
    * one literal replace-all per merge exactly the greedy left-to-right
    * BPE merge: the needle `␣a␣␣b␣` consumes one space of each
    * flanking separator and the replacement `␣ab␣` restores it, so
    * consecutive occurrences (`a b a b`) all merge in a single pass
    * and a needle can never match inside a longer symbol (symbols are
    * space-free by construction).
    */
  private def bpeVocab(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "corpus:bpeVocab")(
      QueriesText.toks(spark, dir)
        .select(explode(col("__ws")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("c"))
        .select(col("c"),
          concat(lit(" "),
            concat_ws("  ",
              expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")),
            lit(" ")).as("seq")))

  /** BPE tokenizer TRAINING — the full greedy merge loop, not just one
    * pair count (`bpe_pairs` is the inner statistic): `bpeMerges`
    * iterations of count-adjacent-pairs → pick the most frequent
    * (ties: lexicographic) → merge it everywhere. Every iteration is
    * vocabulary-bounded work (the corpus is touched once, for the word
    * counts), each winner is a 1-row driver pick, and the resulting
    * merge table — the trained tokenizer — is PERSISTED to the model
    * store keyed by the corpus fingerprint, like every other trained
    * artifact. The oracle replays the identical loop as chained CTE
    * stages, so the trained merges hash-match end-to-end.
    */
  private[graft] def bpeMergesArtifact(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "corpus:bpeMerges")(
      Checkpoint(spark, dir, "bpe_merges")(
        Checkpoint.tableFingerprint(spark, dir, "documents")) {
        import spark.implicits._
        Corpus.bpeTrain(bpeVocab(spark, dir), bpeMerges)
          .toDF("merge_idx", "sym_a", "sym_b", "merged", "cnt")
      })

  def bpeTrainQ(spark: SparkSession, dir: String): DataFrame =
    bpeMergesArtifact(spark, dir).orderBy(col("merge_idx"))

  val bpeTrainSql: String = {
    val stages = (1 to bpeMerges).map { t =>
      s"""p$t AS (SELECT u.a AS a, u.b AS b, CAST(SUM(c) AS BIGINT) AS cnt FROM (
         |  SELECT c, unnest(list_transform(range(1, len(syms)),
         |    i -> {'a': syms[i], 'b': syms[i + 1]})) AS u
         |  FROM (SELECT c, string_split(trim(seq), '  ') AS syms FROM v${t - 1})
         |  WHERE len(syms) >= 2) GROUP BY 1, 2),
         |b$t AS MATERIALIZED (SELECT a, b, a || b AS m, cnt FROM p$t
         |  ORDER BY cnt DESC, a, b LIMIT 1),
         |v$t AS MATERIALIZED (SELECT c,
         |  replace(seq, ' ' || (SELECT a FROM b$t) || '  ' || (SELECT b FROM b$t) || ' ',
         |    ' ' || (SELECT m FROM b$t) || ' ') AS seq FROM v${t - 1})""".stripMargin
    }.mkString(",\n")
    val out = (1 to bpeMerges)
      .map(t => s"SELECT CAST($t AS INTEGER) AS merge_idx, a AS sym_a, b AS sym_b," +
        s" m AS merged, cnt FROM b$t")
      .mkString("\nUNION ALL\n")
    s"""WITH ${QueriesText.wordsCte},
       |wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c
       |       FROM (SELECT unnest(ws) AS word FROM w) GROUP BY 1),
       |v0 AS MATERIALIZED (SELECT c, ' ' || array_to_string(
       |    list_transform(range(1, length(word) + 1), i -> substr(word, i, 1)), '  ')
       |    || ' ' AS seq FROM wc),
       |$stages
       |$out
       |ORDER BY merge_idx""".stripMargin
  }

  // ---- row 38d: bpe_encode — apply the trained merges (tokenize) ----

  /** The trained tokenizer's APPLY side: run the persisted merge table
    * over the vocabulary (the same chained sentinel-space replaces the
    * trainer used — applying k merges is k vocabulary-bounded string
    * replaces, the corpus itself is never re-touched) and report the
    * corpus-level encoding statistics a tokenizer release ships:
    * word/char/token totals, fertility (tokens per word) and the
    * char→token compression ratio. The merge list is a k-row driver
    * collect of the model-store artifact; the oracle replays training
    * AND application in one CTE chain, so the encoded statistics
    * hash-match end-to-end.
    */
  def bpeEncodeQ(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeMergesArtifact(spark, dir)
      .orderBy(col("merge_idx"))
      .select(col("sym_a"), col("sym_b"), col("merged"))
      .collect() // k rows — the trained merge table itself
    val encoded = merges.foldLeft(bpeVocab(spark, dir)) { (v, m) =>
      v.select(col("c"), expr(
        s"replace(seq, ' ${m.getString(0)}  ${m.getString(1)} ', ' ${m.getString(2)} ')")
        .as("seq"))
    }
    encoded
      .select(col("c"), size(split(trim(col("seq")), "  ")).cast("long").as("__nt"),
        (length(col("seq")) - lit(2) -
          (size(split(trim(col("seq")), "  ")) - lit(1)) * lit(2))
          .cast("long").as("__nc"))
      .agg(
        sum(col("c")).cast("bigint").as("n_words"),
        sum(col("__nc") * col("c")).cast("bigint").as("n_chars"),
        sum(col("__nt") * col("c")).cast("bigint").as("n_tokens"))
      .select(col("n_words"), col("n_chars"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        (col("n_tokens").cast("double") / col("n_chars").cast("double"))
          .as("compression"))
  }

  val bpeEncodeSql: String = {
    // reuse the training CTE chain; v<bpeMerges> is the encoded vocab
    val body = bpeTrainSql
    val chain = body.substring(0, body.indexOf("\nSELECT CAST(1 AS INTEGER)")).trim
    // NB: stripMargin only on the local template — the interpolated
    // chain contains `||` concats at line starts that stripMargin
    // would truncate to `|`
    val tail =
      s"""enc AS (SELECT c, string_split(trim(seq), '  ') AS syms,
         |          length(seq) - 2 - (len(string_split(trim(seq), '  ')) - 1) * 2 AS nc
         |        FROM v$bpeMerges),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_words,
         |          CAST(SUM(nc * c) AS BIGINT) AS n_chars,
         |          CAST(SUM(len(syms) * c) AS BIGINT) AS n_tokens FROM enc)
         |SELECT n_words, n_chars, n_tokens,
         |  CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE) AS fertility,
         |  CAST(n_tokens AS DOUBLE) / CAST(n_chars AS DOUBLE) AS compression
         |FROM tot""".stripMargin
    chain + ",\n" + tail
  }

  // ---- substring_dup: exact repeated-substring span coverage ----

  val ssdGram = 10

  /** Exact-substring duplication profile (the dedup-the-training-data
    * exact-match method): token `ssdGram`-grams occurring more than once
    * ANYWHERE in the corpus mark their covering token spans; per doc,
    * the distinct covered positions / total tokens. The gram table is
    * the suffix-array-free formulation of the same statistic — corpus
    * work is O(tokens), the span explode only touches grams that
    * actually repeat. Docs with zero repeated spans are omitted.
    */
  def substringDupQ(spark: SparkSession, dir: String): DataFrame =
    Corpus.substringDupToks(
      QueriesText.toks(spark, dir).select(col("doc_id"), col("__ws")), ssdGram,
      Memo(spark, dir, "corpus:ssdGrams")(_))
      .orderBy(col("doc_id"))

  val substringDupSql: String =
    s"""WITH ${QueriesText.wordsCte},
       |g AS (SELECT doc_id, len(ws) AS n,
       |        unnest(list_transform(range(1, len(ws) - ${ssdGram - 2}),
       |          i -> {'p': i, 'h': md5(array_to_string(list_slice(ws, i, i + ${ssdGram - 1}), ' '))})) AS u
       |      FROM w WHERE len(ws) >= $ssdGram),
       |g2 AS (SELECT doc_id, n, u.p AS p, u.h AS gh FROM g),
       |r AS (SELECT gh FROM g2 GROUP BY 1 HAVING COUNT(*) > 1),
       |cov AS (SELECT doc_id, n, COUNT(DISTINCT pos) AS covered FROM (
       |          SELECT g2.doc_id, g2.n, unnest(range(g2.p, g2.p + $ssdGram)) AS pos
       |          FROM g2 JOIN r USING (gh)) GROUP BY 1, 2)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(covered AS BIGINT) AS covered_tokens,
       |  CAST(covered AS DOUBLE) / CAST(n AS DOUBLE) AS coverage
       |FROM cov ORDER BY doc_id""".stripMargin

  // ---- zipf_fit: rank-frequency power-law regression ----

  val zipfTopN = 1000

  /** Zipf's-law fit over the corpus vocabulary: OLS of ln(freq) on
    * ln(rank) for the top-N words (slope ≈ −1 for natural language — a
    * corpus-health statistic; synthetic or boilerplate-heavy corpora
    * bend it). Ranks come from one vocabulary count shuffle + a top-N;
    * the regression follows the portable exactness discipline: lns
    * quantized to DECIMAL(38,6) (kept decimal for the plain sums),
    * cross-moments on the 2^-20 binary grid, one fixed double tree for
    * slope/intercept.
    */
  def zipfFitQ(spark: SparkSession, dir: String): DataFrame = {
    val ranked = QueriesText.toks(spark, dir)
      .select(explode(col("__ws")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(zipfTopN)
      .withColumn("rn",
        row_number().over(Window.orderBy(col("cnt").desc, col("word"))))
    val feats = ranked
      .select(
        log(col("rn").cast("double")).cast("decimal(38,6)").as("xd"),
        log(col("cnt").cast("double")).cast("decimal(38,6)").as("yd"))
      .select(col("xd"), col("yd"),
        col("xd").cast("double").as("x"), col("yd").cast("double").as("y"))
    feats
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("xd")).cast("double").as("sx"),
        sum(col("yd")).cast("double").as("sy"),
        (sum(floor(col("x") * col("x") * lit(1048576.0)).cast("bigint")).cast("double") /
          lit(1048576.0)).as("sxx"),
        (sum(floor(col("x") * col("y") * lit(1048576.0)).cast("bigint")).cast("double") /
          lit(1048576.0)).as("sxy"))
      .select(col("n"), col("sx"), col("sy"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"))
      .select(col("n").cast("bigint").as("n_words"), col("slope"),
        ((col("sy") - col("slope") * col("sx")) / col("n")).as("intercept"))
  }

  val zipfFitSql: String =
    s"""WITH ${QueriesText.wordsCte},
       |wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
       |       FROM (SELECT unnest(ws) AS word FROM w) GROUP BY 1),
       |top AS (SELECT word, cnt FROM wc ORDER BY cnt DESC, word LIMIT $zipfTopN),
       |ranked AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rn FROM top),
       |f AS (SELECT CAST(ln(CAST(rn AS DOUBLE)) AS DECIMAL(38,6)) AS xd,
       |             CAST(ln(CAST(cnt AS DOUBLE)) AS DECIMAL(38,6)) AS yd FROM ranked),
       |f2 AS (SELECT xd, yd, CAST(xd AS DOUBLE) AS x, CAST(yd AS DOUBLE) AS y FROM f),
       |m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |        CAST(SUM(xd) AS DOUBLE) AS sx, CAST(SUM(yd) AS DOUBLE) AS sy,
       |        CAST(SUM(CAST(FLOOR(x * x * 1048576.0) AS BIGINT)) AS DOUBLE) / 1048576.0 AS sxx,
       |        CAST(SUM(CAST(FLOOR(x * y * 1048576.0) AS BIGINT)) AS DOUBLE) / 1048576.0 AS sxy
       |      FROM f2)
       |SELECT CAST(n AS BIGINT) AS n_words, slope, (sy - slope * sx) / n AS intercept
       |FROM (SELECT n, sx, sy, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope FROM m)""".stripMargin

  // ---- dsir_weights: hashed-n-gram importance weights (DSIR-style) ----

  val dsirBuckets = 4096
  val dsirTopN = 100

  /** Data-selection importance weights à la DSIR: per-token hashed-
    * unigram log-likelihood ratio of a target distribution (here the
    * lang='en' slice) against the whole corpus, summed per document.
    * The 4096-bucket model is two aggregations + a broadcast back onto
    * the token stream — the classic importance-resampling preprocessing
    * pass for LLM data curation. Each log is quantized to DECIMAL(38,6)
    * before any arithmetic so the per-doc sums are exact decimal sums
    * (aggregation-order-free, engine-portable).
    */
  def dsirWeightsQ(spark: SparkSession, dir: String): DataFrame = {
    val tok = Memo(spark, dir, "corpus:dsirTokens")(
      QueriesText.toks(spark, dir)
        .select(col("doc_id"), col("lang"),
          explode(col("__ws")).as("word"))
        .select(col("doc_id"), col("lang"),
          (conv(substring(md5(concat(lit("dsir:"), col("word"))), 1, 13), 16, 10)
            .cast("long") % dsirBuckets).as("b")))
    val bs = tok.groupBy(col("b")).agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tc"),
      count(lit(1)).as("ac"))
    val tot = bs.agg(sum(col("tc")).as("tt"), sum(col("ac")).as("at2"))
    val lr = bs.crossJoin(broadcast(tot)).select(col("b"),
      (log((col("tc") + 0.5) / (col("tt") + lit(dsirBuckets / 2.0))).cast("decimal(38,6)") -
        log((col("ac") + 0.5) / (col("at2") + lit(dsirBuckets / 2.0))).cast("decimal(38,6)")).as("lw"))
    tok.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("lw")).cast("decimal(38,6)").as("wsum"), count(lit(1)).as("n_tok"))
      .orderBy(col("wsum").desc, col("doc_id")).limit(dsirTopN)
      .select(col("doc_id"), col("n_tok"), col("wsum").cast("double").as("dsir_weight"))
  }

  val dsirWeightsSql: String =
    s"""WITH ${QueriesText.wordsCte},
       |tok AS (SELECT doc_id, lang,
       |          CAST(('0x'||substr(md5('dsir:'||word),1,13)) AS BIGINT) % $dsirBuckets AS b
       |        FROM (SELECT w.doc_id, d.lang, unnest(w.ws) AS word
       |              FROM w JOIN documents d ON w.doc_id = d.doc_id)),
       |bs AS (SELECT b,
       |         CAST(SUM(CASE WHEN lang='en' THEN 1 ELSE 0 END) AS BIGINT) AS tc,
       |         CAST(COUNT(*) AS BIGINT) AS ac
       |       FROM tok GROUP BY 1),
       |tot AS (SELECT CAST(SUM(tc) AS BIGINT) AS tt, CAST(SUM(ac) AS BIGINT) AS at2 FROM bs),
       |lr AS (SELECT b, CAST(ln((tc + 0.5) / (tt + ${dsirBuckets / 2.0})) AS DECIMAL(38,6))
       |               - CAST(ln((ac + 0.5) / (at2 + ${dsirBuckets / 2.0})) AS DECIMAL(38,6)) AS lw
       |       FROM bs, tot),
       |ds AS (SELECT doc_id, CAST(SUM(lw) AS DECIMAL(38,6)) AS wsum, CAST(COUNT(*) AS BIGINT) AS n_tok
       |       FROM tok JOIN lr USING (b) GROUP BY 1)
       |SELECT doc_id, n_tok, CAST(wsum AS DOUBLE) AS dsir_weight
       |FROM ds ORDER BY wsum DESC, doc_id LIMIT $dsirTopN""".stripMargin

  // ---- mlm_mask: deterministic MLM-style token masking ----

  val mlmPct = 15

  /** BERT-style masked-LM batch preparation: each token position is
    * masked with probability 15%, decided by a seeded md5 draw on
    * (doc_id, position) — fully deterministic, reproducible shard by
    * shard, no RNG state to coordinate across executors. One explode +
    * one keyed aggregation.
    */
  def mlmMaskQ(spark: SparkSession, dir: String): DataFrame =
    QueriesText.toks(spark, dir)
      .select(col("doc_id"), posexplode(col("__ws")))
      .select(col("doc_id"), (col("pos") + 1).as("p"))
      .withColumn("m",
        conv(substring(md5(concat(lit("mlm:"), col("doc_id").cast("string"),
          lit(":"), col("p").cast("string"))), 1, 13), 16, 10)
          .cast("long") % 100 < mlmPct)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("m"), 1L).otherwise(0L)).as("n_masked"),
        min(when(col("m"), col("p"))).as("first_masked"))
      .orderBy(col("doc_id"))

  val mlmMaskSql: String =
    s"""WITH ${QueriesText.wordsCte},
       |tok AS (SELECT doc_id, p,
       |         CAST(('0x'||substr(md5('mlm:'||CAST(doc_id AS VARCHAR)||':'||CAST(p AS VARCHAR)),1,13)) AS BIGINT) % 100 < $mlmPct AS m
       |       FROM (SELECT doc_id, unnest(range(1, len(ws)+1)) AS p FROM w))
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       |  MIN(CASE WHEN m THEN p END) AS first_masked
       |FROM tok GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- span_corrupt: T5-style span-corruption masking plan ----

  val spanEvery = 20
  val spanLen = 3

  /** T5-style span corruption: each position opens a 3-token mask span
    * with probability 1/20, decided by a seeded md5 draw — overlapping
    * spans merge by construction (a position is masked iff any of the
    * last 3 positions opened a span, a 2-PRECEDING window max). Same
    * reproducibility contract as mlm_mask: shard-independent, no RNG
    * state, the mask plan is a pure function of (doc_id, pos).
    */
  def spanCorruptQ(spark: SparkSession, dir: String): DataFrame = {
    val win = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(-(spanLen - 1), Window.currentRow)
    QueriesText.toks(spark, dir)
      .select(col("doc_id"), posexplode(col("__ws")))
      .select(col("doc_id"), (col("pos") + 1).as("p"))
      .withColumn("st",
        conv(substring(md5(concat(lit("span:"), col("doc_id").cast("string"),
          lit(":"), col("p").cast("string"))), 1, 13), 16, 10)
          .cast("long") % spanEvery === 0)
      .withColumn("msk", max(when(col("st"), 1).otherwise(0)).over(win) === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("st"), 1L).otherwise(0L)).as("n_spans"),
        sum(when(col("msk"), 1L).otherwise(0L)).as("n_masked"))
      .orderBy(col("doc_id"))
  }

  val spanCorruptSql: String =
    s"""WITH ${QueriesText.wordsCte},
       |tok AS (SELECT doc_id, p,
       |         CAST(('0x'||substr(md5('span:'||CAST(doc_id AS VARCHAR)||':'||CAST(p AS VARCHAR)),1,13)) AS BIGINT) % $spanEvery = 0 AS st
       |       FROM (SELECT doc_id, unnest(range(1, len(ws)+1)) AS p FROM w)),
       |mk AS (SELECT doc_id, p, st,
       |         MAX(CASE WHEN st THEN 1 ELSE 0 END) OVER
       |           (PARTITION BY doc_id ORDER BY p ROWS BETWEEN ${spanLen - 1} PRECEDING AND CURRENT ROW) = 1 AS msk
       |       FROM tok)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN st THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
       |  CAST(SUM(CASE WHEN msk THEN 1 ELSE 0 END) AS BIGINT) AS n_masked
       |FROM mk GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- tok_fertility: tokenizer fertility profile per language ----

  /** Tokenizer fertility statistics per language — words per doc and
    * chars per word, the quick health check before committing to a
    * tokenizer at corpus scale. Exact integer sums with the final
    * double divisions only at presentation.
    */
  def tokFertilityQ(spark: SparkSession, dir: String): DataFrame =
    QueriesText.toks(spark, dir)
      .select(col("lang"), col("__ws").as("ws"))
      .select(col("lang"), size(col("ws")).as("nw"),
        length(concat_ws("", col("ws"))).as("nc"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nw")).as("n_words"),
        sum(col("nc").cast("bigint")).as("n_word_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_word_chars"),
        (col("n_words").cast("double") / col("n_docs")).as("words_per_doc"),
        (col("n_word_chars").cast("double") / col("n_words")).as("chars_per_word"))
      .orderBy(col("lang"))

  val tokFertilitySql: String =
    s"""WITH ${QueriesText.wordsCte},
       |f AS (SELECT d.lang, len(w.ws) AS nw, strlen(array_to_string(w.ws, '')) AS nc
       |      FROM w JOIN documents d ON w.doc_id = d.doc_id),
       |a AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |        CAST(SUM(nw) AS BIGINT) AS n_words, CAST(SUM(nc) AS BIGINT) AS n_word_chars
       |      FROM f GROUP BY 1)
       |SELECT lang, n_docs, n_words, n_word_chars,
       |  CAST(n_words AS DOUBLE) / n_docs AS words_per_doc,
       |  CAST(n_word_chars AS DOUBLE) / n_words AS chars_per_word
       |FROM a ORDER BY lang""".stripMargin

  // ---- lm_perplexity: char-bigram LM negative log-likelihood ----

  /** Per-document average negative log-likelihood under a char-bigram
    * conditional LM trained on the corpus itself — the classic
    * perplexity-filter signal for LLM data curation (gibberish and
    * boilerplate score far from the corpus mean). Model = two keyed
    * aggregations (bigram counts, first-char totals); scoring = one
    * broadcast of the ≤|Σ|² model back onto the bigram stream. Each
    * log-prob is quantized to DECIMAL(38,6), so per-doc sums are exact
    * and engine-portable; the only double division is the final mean.
    */
  /** (doc_id, bg) char-bigram stream of the corpus — the shared LM
    * training/eval frame (lm_perplexity here, Wave 27's held-out
    * generalization audit).
    */
  private[graft] def lmBigrams(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "corpus:lmBigrams")(
      Tables(spark, dir, "documents")
        .select(col("doc_id"), lower(col("text")).as("t"))
        .filter(length(col("t")) >= 2)
        .select(col("doc_id"), explode(
          expr("transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))")).as("bg")))

  /** Per-(doc, char-bigram) multiplicities — the run-length-compressed
    * form of [[lmBigrams]] (distinct bigrams per doc vs every character
    * position). Both perplexity passes read this frame, so the
    * compression is paid once in the warm pass and saves every scan.
    */
  private[graft] def lmDocBg(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "corpus:lmDocBg")(
      lmBigrams(spark, dir)
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("m")))

  def lmPerplexityQ(spark: SparkSession, dir: String): DataFrame = {
    // Identical sums in compressed form: c2 = Σ m per bigram; the
    // per-doc log-prob total Σ_rows lw = Σ_bg m·lw (decimal products
    // and sums are exact — no rounding enters that the row-at-a-time
    // sum didn't have).
    val docBc = lmDocBg(spark, dir)
    val bc = docBc.groupBy(col("bg")).agg(sum(col("m")).as("c2"))
    val cc = bc.groupBy(substring(col("bg"), 1, 1).as("c1")).agg(sum(col("c2")).as("c1n"))
    val lp = bc.join(cc, substring(col("bg"), 1, 1) === col("c1"))
      .select(col("bg"), log(col("c2").cast("double") / col("c1n")).cast("decimal(38,6)").as("lw"))
    docBc.join(broadcast(lp), Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        sum(col("m") * col("lw")).cast("decimal(38,6)").as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        (-col("s").cast("double") / col("n_bigrams")).as("nll"))
      .orderBy(col("doc_id"))
  }

  val lmPerplexitySql: String =
    """WITH t AS (SELECT doc_id, lower(text) AS t FROM documents WHERE strlen(lower(text)) >= 2),
      |big AS (SELECT doc_id, substr(t, CAST(i AS INT), 2) AS bg
      |        FROM (SELECT doc_id, t, unnest(range(1, strlen(t))) AS i FROM t)),
      |bc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c2 FROM big GROUP BY 1),
      |cc AS (SELECT substr(bg, 1, 1) AS c1, CAST(SUM(c2) AS BIGINT) AS c1n FROM bc GROUP BY 1),
      |lp AS (SELECT bg, CAST(ln(CAST(c2 AS DOUBLE) / c1n) AS DECIMAL(38,6)) AS lw
      |       FROM bc JOIN cc ON substr(bg, 1, 1) = cc.c1)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  -CAST(CAST(SUM(lw) AS DECIMAL(38,6)) AS DOUBLE) / COUNT(*) AS nll
      |FROM big JOIN lp USING (bg) GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lm_perplexity" -> (lmPerplexityQ _),
    "span_corrupt" -> (spanCorruptQ _),
    "dsir_weights" -> (dsirWeightsQ _),
    "mlm_mask" -> (mlmMaskQ _),
    "tok_fertility" -> (tokFertilityQ _),
    "zipf_fit" -> (zipfFitQ _),
    "bpe_pairs" -> (bpePairsQ _),
    "bpe_train" -> (bpeTrainQ _),
    "bpe_encode" -> (bpeEncodeQ _),
    "substring_dup" -> (substringDupQ _),
    "curation_pass" -> (curationPassQ _),
    "source_mix_sample" -> (sourceMixSampleQ _),
    "corpus_summary" -> (corpusSummaryQ _),
    "per_group_sample" -> (perGroupSampleQ _),
    "stratified_sample" -> (stratifiedSampleQ _),
    "chi2_drift" -> (chi2DriftQ _),
    "ngram_freq" -> (ngramFreqQ _),
    "doc_filter" -> (docFilterQ _),
    "repetition_ratio" -> (repetitionRatioQ _),
    "dedup_keep_best" -> (dedupKeepBestQ _)
  )

  val oracleSql: Map[String, String] = Map(
    "lm_perplexity" -> lmPerplexitySql,
    "span_corrupt" -> spanCorruptSql,
    "dsir_weights" -> dsirWeightsSql,
    "mlm_mask" -> mlmMaskSql,
    "tok_fertility" -> tokFertilitySql,
    "zipf_fit" -> zipfFitSql,
    "bpe_pairs" -> bpePairsSql,
    "bpe_train" -> bpeTrainSql,
    "bpe_encode" -> bpeEncodeSql,
    "substring_dup" -> substringDupSql,
    "curation_pass" -> curationPassSql,
    "source_mix_sample" -> sourceMixSampleSql,
    "corpus_summary" -> corpusSummarySql,
    "per_group_sample" -> perGroupSampleSql,
    "stratified_sample" -> stratifiedSampleSql,
    "chi2_drift" -> chi2DriftSql,
    "ngram_freq" -> ngramFreqSql,
    "doc_filter" -> docFilterSql,
    "repetition_ratio" -> repetitionRatioSql,
    "dedup_keep_best" -> dedupKeepBestSql
  )
}
