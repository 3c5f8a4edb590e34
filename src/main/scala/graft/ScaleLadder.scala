package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-ladder evidence for the 100 TB posture (SCALE_LADDER.json):
  * every "bounded candidate growth" claim in the dedup/similarity
  * stack, measured — not argued — across deterministic k× amplified
  * variants of sf0.1 ([[Amplify]]). Per rung it records: corpus
  * sizes, each candidate-pair family's candidate count (or bucket
  * mass where the audit contract is mass) beside its unblocked
  * quadratic domain, wall seconds per measurement, a timed pass over
  * a representative scan/join/dedup query set, and the session's memo
  * + trainer build seconds. Across rungs it fits per-family growth
  * exponents alpha = log(c_hi/c_lo) / log(n_hi/n_lo): banded/bucketed
  * families must land near alpha ≈ 1 (candidates linear in corpus
  * size at constant duplicate structure); alpha ≈ 2 means the
  * blocking degenerated to all-pairs.
  *
  * Budget guard (logged, never silent): a family whose cheap bucket
  * mass exceeds [[countBudget]] records the mass and skips the
  * materialized candidate count for that rung.
  *
  * Usage: runMain graft.ScaleLadder [srcDir] [workRoot] [rungs]
  */
object ScaleLadder {

  val countBudget = 2000000000L

  /** Representative scan/join/agg/dedup queries (trainer-serving legs
    * excluded — the trainers' serve path is CheckpointSpec's subject;
    * the ladder's question is how scans, shuffles, and candidate joins
    * scale). */
  val timedQueries: Seq[String] = Seq(
    "q1_agg", "q3_join_agg", "q5_revenue", "q9_profit_by_nation",
    "q18_big_orders", "q16_supplier_variety", "col_stats", "col_quantiles",
    "mad_outliers", "subschema_sizes", "exact_dedup", "minhash_lsh_dup",
    "dup_clusters", "simhash_dup", "fuzzy_match", "winnow_dup",
    "prefix_sim_join", "embed_lsh_ann", "hard_negatives", "token_count",
    "skew_agg", "sessionize")

  private def nPairs(n: Long): Long = n * (n - 1) / 2

  private def bucketMass(df: DataFrame, keys: Seq[String]): Long =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .agg(coalesce(sum(col("__n") * (col("__n") - 1)), lit(0L)).cast("long"))
      .head().getLong(0) / 2

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val workRoot = if (args.length > 1) args(1) else "/tmp/graft_scale"
    val rungs = (if (args.length > 2) args(2) else "1,3,10")
      .split(',').map(_.trim.toInt).toSeq
    val spark = GraftSession()
    // amplified fingerprints must never pollute the committed store
    Checkpoint.rootOverride = Some(s"$workRoot/ckpt")
    Memo.eagerTiming = true

    def f(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def jnum(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")

    val rungJsons = scala.collection.mutable.LinkedHashMap[Int, String]()
    // family -> (rung -> (candidates-or-mass, domain))
    val fam = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.LinkedHashMap[Int, (Long, Long)]]()
    val baseN = scala.collection.mutable.LinkedHashMap[Int, Long]()

    for (k <- rungs) {
      val dir = s"$workRoot/x$k"
      println(s"[ladder] amplifying x$k ...")
      Amplify.amplify(spark, src, dir, k)
      val docs = Tables(spark, dir, "documents")
      val emb = Tables(spark, dir, "embeddings")
      val nDocs = docs.count(); val nEmb = emb.count()
      baseN(k) = nDocs
      println(s"[ladder] x$k: $nDocs docs, $nEmb embeddings")

      val famSecs = scala.collection.mutable.LinkedHashMap[String, Double]()
      val skipped = scala.collection.mutable.ListBuffer[String]()
      def mark(name: String, domain: Long)(count: => Long): Unit = {
        val t0 = System.nanoTime()
        val c = count
        famSecs(name) = (System.nanoTime() - t0) / 1e9
        fam.getOrElseUpdate(name,
          scala.collection.mutable.LinkedHashMap[Int, (Long, Long)]())(k) = (c, domain)
        println(s"[ladder] x$k $name: $c / $domain = " +
          f(if (domain > 0) c.toDouble / domain else 0.0) +
          s" (${f(famSecs(name))}s)")
      }

      // fuzzy_match: candidates vs per-source all-pairs
      val p = docs.select(col("doc_id"), col("source"),
        substring(col("text"), 1, QueriesText.fuzzyPrefixLen).as("pre"))
      val srcQuad = p.groupBy(col("source")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n") * (col("n") - 1)).cast("long")).head().getLong(0) / 2
      mark("fuzzy_candidates", srcQuad)(QueriesText.fuzzyCandidates(p).count())

      // minhash LSH: collapsed candidates vs corpus all-pairs
      mark("lsh_candidates", nPairs(nDocs))(
        graft.operators.TextOps
          .lshCandidatesCollapsed(QueriesText.mhWide(spark, dir)).count())

      // simhash: raw band mass (cheap) gates the materialized count
      val bands = Memo.persisted(
        graft.operators.TextOps.simhashBands(docs))
      val mass = (0 until 4).map(b =>
        bucketMass(bands.select(col(s"b$b").as("k")), Seq("k"))).sum
      mark("simhash_band_mass", nPairs(nDocs))(mass)
      if (mass <= countBudget)
        mark("simhash_candidates", nPairs(nDocs))(
          graft.operators.TextOps.simhashCandidates(bands).count())
      else {
        skipped += s"simhash_candidates (band mass $mass > $countBudget)"
        println(s"[ladder] x$k simhash_candidates SKIPPED: mass $mass > budget")
      }
      bands.unpersist()

      // winnow fingerprint bucket mass
      mark("winnow_fp_mass", nPairs(nDocs))(
        bucketMass(graft.operators.TextOps.winnowFingerprints(docs), Seq("fp")))

      // phash band-bucket mass vs image all-pairs
      val ph = QueriesWave7.phashBandsOf(docs)
      val nImg = ph.select(col("doc_id")).distinct().count()
      mark("phash_band_mass", nPairs(nImg))(bucketMass(ph, Seq("band", "bv")))

      // knn/lid label-partition mass
      mark("knn_label_mass", nPairs(nEmb))(
        bucketMass(emb.select(col("label")), Seq("label")))

      // hard negatives: probed pairs vs anchors × corpus
      val hn = QueriesWave26.hardNegativesPairs(spark, dir)
      val nAnch = hn.select(col("va")).distinct().count()
      mark("hard_negative_pairs", nAnch * (nEmb - 1))(hn.count())

      // prefix_sim_join verified pairs vs corpus all-pairs
      mark("prefix_sim_pairs", nPairs(nDocs))(
        QueriesWave6.prefixSimJoinQ(spark, dir).count())

      // bitext eval sample: MUST stay the fixed budget at every rung
      mark("bitext_eval_sample", QueriesWave30.bmEvalN.toLong)(
        QueriesWave30.bmEvalSources(QueriesWave6.knnQuantized(spark, dir)).count())

      // representative query set: warm once (memo/trainer builds land
      // off the clock, recorded separately), then min of two passes
      val qset = timedQueries.filter(SparkEntry.queries.contains)
      def pass(): Map[String, Double] = qset.map { q =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir).count()
        q -> (System.nanoTime() - t0) / 1e9
      }.toMap
      pass()
      val timed = Seq(pass(), pass())
      val queries = qset.map(q => q -> timed.map(_(q)).min)

      val memoSecs = Memo.buildSecs.toSeq.collect {
        case ((d, tag), s) if d == dir => tag -> s }.sortBy(-_._2)
      val ckptSecs = Checkpoint.buildSecs.toSeq.collect {
        case ((d, tag), s) if d == dir => tag -> s }.sortBy(-_._2)

      val famJson = fam.collect {
        case (name, m) if m.contains(k) =>
          val (c, dom) = m(k)
          s""""$name":{"count":$c,"domain":$dom,"selectivity":${
            f(if (dom > 0) c.toDouble / dom else 0.0)},"sec":${f(famSecs.getOrElse(name, 0.0))}}"""
      }.mkString("{", ",", "}")
      rungJsons(k) =
        s"""{"n_docs":$nDocs,"n_embeddings":$nEmb,""" +
          s""""families":$famJson,"queries":${jnum(queries)},""" +
          s""""query_total_sec":${f(queries.map(_._2).sum)},""" +
          s""""memo_sec":${jnum(memoSecs)},"ckpt_train_sec":${jnum(ckptSecs)},""" +
          s""""skipped":${skipped.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    }

    // growth exponents between the first and last rung, with each
    // family's CONTRACT class — the two classes have different
    // correct asymptotics and must be read differently:
    //  - content-blocked: the blocking key space grows with the
    //    corpus (shingle minima, content prefixes, fingerprints), so
    //    candidate COUNT must stay near-linear (alpha ~ 1).
    //  - domain-fraction: the key space is FIXED (a 16-bit simhash
    //    band, a dHash band, a label partition, an IVF probe budget),
    //    so random collisions have a constant per-pair floor and the
    //    honest contract is FLAT SELECTIVITY at a tiny constant
    //    (simhash's measured ~7e-5 IS the analytic 4/2^16 birthday
    //    floor of 4 independent 16-bit bands); alpha ~ 2 at constant
    //    selectivity is the expected shape, and the 100 TB posture is
    //    bounded-size dedup shards + the hot-bucket re-split, which
    //    keep the per-shard quadratic term at key-space scale.
    val contentBlocked = Set("fuzzy_candidates", "lsh_candidates",
      "winnow_fp_mass", "prefix_sim_pairs", "bitext_eval_sample")
    val kLo = rungs.head; val kHi = rungs.last
    val nRatio = baseN(kHi).toDouble / baseN(kLo)
    val expJson = fam.collect {
      case (name, m) if m.contains(kLo) && m.contains(kHi) &&
        m(kLo)._1 > 0 && nRatio > 1.0 =>
        val alpha = math.log(m(kHi)._1.toDouble / m(kLo)._1) / math.log(nRatio)
        val cls = if (contentBlocked(name)) "content-blocked" else "domain-fraction"
        def sel(k: Int) = { val (c, d) = m(k); if (d > 0) c.toDouble / d else 0.0 }
        s""""$name":{"alpha":${f(alpha)},"class":"$cls",""" +
          s""""selectivity_low":${"%.2e".formatLocal(java.util.Locale.ROOT, sel(kLo))},""" +
          s""""selectivity_high":${"%.2e".formatLocal(java.util.Locale.ROOT, sel(kHi))}}"""
    }.mkString("{", ",", "}")

    val json =
      s"""{"src":"$src","rungs":${rungs.mkString("[", ",", "]")},""" +
        rungJsons.map { case (k, j) => s""""x$k":$j""" }.mkString("", ",", ",") +
        s""""growth_exponents_low_to_high":$expJson,""" +
        s""""note":"alpha = log(count_hi/count_lo)/log(n_docs_hi/n_docs_lo). CONTRACT per class: content-blocked families (corpus-sized key spaces) must hold alpha ~ 1; domain-fraction families (fixed key spaces: 16-bit simhash/dHash bands, label partitions, IVF probe budgets) must hold FLAT selectivity at their analytic floor (simhash ~4/2^16, knn labels 1/10, hard negatives ~nProbe/nCells) — alpha ~ 2 at constant tiny selectivity is their expected shape, bounded at deploy scale by sharded dedup partitions + the hot-bucket re-split. bitext_eval_sample must stay pinned at its fixed count. Text is remapped to the natural-entropy vocabulary regime on every rung (see Amplify) so rungs compare like with like; query timings are one warm + min of two timed passes on local[cores]."}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("SCALE_LADDER.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[ladder] wrote SCALE_LADDER.json; exponents: $expJson")
    Checkpoint.rootOverride = None
    Memo.eagerTiming = false
    spark.stop()
  }
}
