package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Fanouts, JoinSample}
import graft.query.{CardBenchmark, PredicateSql, PseudoSql}

/** The learned NAR density-model family (SURVEY.md §2 rows 11h-11u,
  * 11p, 11q): the exact-joint NAR, progressive sampling from it,
  * incremental training, the transformer / masked-denoising /
  * continuous-fanout variants, the training curve, and the HPO grid —
  * each trained once per (dataset fingerprint, schema version) and
  * served from the [[Checkpoint]] warehouse. Split from
  * QueriesEstimators along the family boundary its doc headers
  * delineate — a pure move, no logic change (EntrySpec pins the
  * query-key triple through the refactor).
  *
  * Every oracle SQL string is generated from the same narSpecs the
  * Spark plans execute, so the two sides cannot drift.
  */
object QueriesNar extends QueryModule {

  // ---- rows 11h/11i: learned NAR density model (the reference's model) ----

  private val narHidden = 8
  private val narSeed = 101L

  /** q-error gate for the learned model — observed worst case across
    * test scales is ≈1.08 (the ~2000-slot sample's own noise floor), so
    * 4.0 leaves real margin while still tripping on a broken model
    * (wrong conditioning, label off-by-one, collapsed softmax, missing
    * fanout downweight — the latter alone reads ≈3.9).
    */
  private val narBound = 4.0

  /** The gates' q-error: max(e, t) / max(min(e, t), 1) — the smaller
    * side clamped at one row, so a zero estimate or truth reads as the
    * other side's size instead of dividing by zero. */
  private def qerr(e: Column, t: Column): Column =
    greatest(e, t) / greatest(least(e, t), lit(1.0))

  /** (query_id, needs-orders, needs-lineitem, Spark predicate over the
    * DECODED joint, same predicate as SQL). Predicates touch only the
    * training batch's encoded columns, so the model can answer them.
    */
  private[graft] val narSpecs: Seq[(String, Boolean, Boolean, Column, String)] = Seq(
    ("n01", true, true,
      col("c_mktsegment") === "BUILDING" && col("l_returnflag") === "R",
      "c_mktsegment = 'BUILDING' AND l_returnflag = 'R'"),
    ("n02", true, false, col("o_orderstatus") === "F", "o_orderstatus = 'F'"),
    ("n03", true, false,
      col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY") && col("o_orderstatus") === "O",
      "c_mktsegment IN ('AUTOMOBILE', 'MACHINERY') AND o_orderstatus = 'O'"),
    ("n04", true, true, col("l_returnflag") =!= "N", "l_returnflag != 'N'"))

  /** Training-input tables whose row counts key the persisted NAR
    * models (shared with model_store's catalog row). */
  private[graft] val narFpTables = Seq("customer", "orders", "lineitem")

  /** Fingerprint of the NAR training inputs (the chain's tables) —
    * keys the persisted model so regenerated data trains fresh. */
  private def narFingerprint(spark: SparkSession, dir: String): Long =
    Checkpoint.tableFingerprint(spark, dir, narFpTables: _*)

  /** model_store accessors: the loaded artifacts (trained checkpoints
    * after decode), bounded frames by contract. */
  private[graft] def narJointArtifact(spark: SparkSession, dir: String): DataFrame =
    narJointDecoded(spark, dir)
  private[graft] def narIncArtifact(spark: SparkSession, dir: String): DataFrame =
    narIncJoints(spark, dir)
  private[graft] def narTruthsArtifact(spark: SparkSession, dir: String): DataFrame =
    narTruths(spark, dir)
  private[graft] def narIncDecodedArtifact(spark: SparkSession, dir: String): DataFrame =
    narIncDecoded(spark, dir)
  private[graft] def narIncEstsArtifact(spark: SparkSession, dir: String): DataFrame =
    narIncEstFrame(spark, dir)

  /** The trained model's exact joint, decoded back to values (code 1 →
    * NULL = absent) — trained ONCE per (dataset, schema version) and
    * PERSISTED to the warehouse ([[Checkpoint]]), the way the reference
    * trains a checkpoint once and reloads it per workload (run.py
    * model-glob load path). A fresh session serves nar_est /
    * nar_progressive / nar_check from the persisted joint with no
    * trainer invocation; the session [[Memo]] only pins the loaded
    * artifact + decode joins.
    */
  private def narJointDecoded(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "narJoint") {
      import graft.operators.Encoding
      def dict(t: String, c: String) =
        Encoding.dictionary(Tables(spark, dir, t), c)
      val (dc, dd, dl) = (dict("customer", "c_mktsegment"),
        dict("orders", "o_orderstatus"), dict("lineitem", "l_returnflag"))
      // The enumerated joint IS the model checkpoint — catalog-sized
      // (domain cross-product) by construction. Persisting it (instead
      // of caching the raw frame) also sidesteps the cache
      // canonicalizer: the raw frame's plan embeds the heads'
      // ML-transform UDFs, which are nondeterministic to it, so every
      // downstream action would re-run the softmax evaluation.
      val checkpoint =
        Checkpoint(spark, dir, "nar_joint")(narFingerprint(spark, dir)) {
          import graft.operators.NarModel
          def dmax(d: DataFrame): Int =
            d.agg(max(col("code"))).head().getInt(0)
          val batch = Memo(spark, dir, "trainingBatch")(QueriesSampleEst.trainingBatchQ(spark, dir))
          val fMax = math.min(
            batch.agg(max(col("lo_fanout"))).head().getLong(0), 32L).toInt
          NarModel
            .joint(batch, dmax(dc), dmax(dd), dmax(dl), fMax, narHidden, narSeed)
            .select(col("c_code"), col("o_code"), col("l_code"), col("p"), col("einv"))
        }
      checkpoint
        .join(broadcast(dc.withColumnRenamed("code", "c_code")), Seq("c_code"), "left")
        .join(broadcast(dd.withColumnRenamed("code", "o_code")), Seq("o_code"), "left")
        .join(broadcast(dl.withColumnRenamed("code", "l_code")), Seq("l_code"), "left")
    }

  /** est = W × Σ P̂(combo) over combos satisfying the predicate and the
    * spec's table-presence flags — sample_est's formula with the LEARNED
    * density in place of the empirical sample fractions. Specs that do
    * NOT reach lineitem are order-level counts: slot mass is
    * per-lineitem (universal relation), so each combo is downweighted
    * by the model's E[1/fanout | combo] — the reference's fanout
    * scaling.
    */
  /** Total chain weight, materialized once per (session, dir): the
    * est/progressive/check legs all scale by the same W — one Fanouts
    * traversal, not one per leg.
    */
  /** Fixed-order probability-mass fold over a catalog-sized joint: the
    * per-row terms are collected, sorted by value, and summed
    * sequentially — the same double on ANY partitioning of the joint
    * frame. A plain sum() here ulp-drifts with the build session's
    * parallelism (both the enumerated-combos frame and a freshly
    * rewritten joint artifact repartition with the session), which the
    * round-14 full-store rebuild-vs-committed diff caught on
    * nar_inc_decoded. Bounded by the code cross-product by contract.
    */
  private def pmFold(term: Column): Column =
    aggregate(array_sort(collect_list(term)), lit(0.0), (acc, x) => acc + x)

  private def narW(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "narW")(
      JoinSample.totalWeight(QueriesSampleEst.chain, "customer", Fanouts.loader(spark, dir))
        .select(col("total_weight").cast("double").as("__w")))

  private def narEstFrame(spark: SparkSession, dir: String): DataFrame = Memo(spark, dir, "narEstFrame") {
    val joint = narJointDecoded(spark, dir)
    val w = narW(spark, dir)
    narSpecs.map { case (id, needO, needL, pred, _) =>
      val flags = (if (needO) Seq(col("o_code") =!= 1) else Nil) ++
        (if (needL) Seq(col("l_code") =!= 1) else Nil)
      val sat = (pred +: flags).reduce(_ && _)
      val mass = if (needL) col("p") else col("p") * col("einv")
      joint
        .agg(pmFold(when(sat, mass).otherwise(0.0)).as("__pm"))
        .crossJoin(w)
        .select(lit(id).as("query_id"),
          greatest(col("__w") * col("__pm"), lit(1.0)).as("est"))
    }.reduce(_.unionAll(_))
  }

  /** Library surface: the learned density model's raw estimate per
    * covered spec (an MLP checkpoint is not reproducible in the oracle,
    * so the raw frame cannot hash-match — the registered primary form
    * is [[narEstGatedQ]], which carries the oracle-computable ground
    * truth next to the model gate).
    */
  def narEstQ(spark: SparkSession, dir: String): DataFrame =
    narEstFrame(spark, dir).orderBy(col("query_id"))

  /** Primary (hash-checked) form of the learned-density estimator: per
    * spec, the TRUE cardinality — which the oracle re-derives from real
    * joins, so the truth column is data-dependent, not a constant — and
    * the model gate (estimate finite, ≥ 1, within the q-error bound of
    * that truth). A broken trained model fails the hash instead of
    * hiding behind rows-only. Raw estimates: [[narEstQ]].
    */
  def narEstGatedQ(spark: SparkSession, dir: String): DataFrame =
    narEstFrame(spark, dir)
      .join(narTruths(spark, dir), Seq("query_id"))
      .select(col("query_id"), col("__t").cast("bigint").as("truth"),
        (!isnan(col("est")) && col("est").isNotNull && col("est") >= 1.0 &&
          qerr(col("est"), col("__t")) <= narBound).as("est_ok"))
      .orderBy(col("query_id"))

  val narEstGatedSql: String =
    narSpecs.map { case (id, _, needL, _, predSql) =>
      val joins = "customer JOIN orders ON c_custkey = o_custkey" +
        (if (needL) " JOIN lineitem ON o_orderkey = l_orderkey" else "")
      s"SELECT '$id' AS query_id, CAST((SELECT COUNT(*) FROM $joins" +
        s" WHERE $predSql) AS BIGINT) AS truth, TRUE AS est_ok"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY query_id")

  /** True cardinalities of the nar specs, as one small union of join
    * counts (the same chain joins every estimator here is audited
    * against).
    */
  private def narTruths(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "narTruths") {
      // Warehouse-persisted: the truths are a deterministic,
      // fingerprint-keyed product of the same chain tables that key
      // the joints they gate — rebuilding costs the 2-join eval scan
      // per session (~20 s of the driver's r12 warm pass); loading is
      // one footer read, and a regenerated dataset re-derives.
      Checkpoint(spark, dir, "nar_truths")(narFingerprint(spark, dir)) {
      // one conditional-aggregation pass per join SHAPE (with/without
      // lineitem), unpivoted to (query_id, __t) — 2 joins, not 4
      narSpecs.groupBy(_._3).map { case (needL, specs) =>
        val c = Tables(spark, dir, "customer")
        val o = Tables(spark, dir, "orders")
        val base = c.join(o, col("c_custkey") === col("o_custkey"))
        val joined =
          if (needL)
            base.join(Tables(spark, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          else base
        val aggs = specs.map { case (id, _, _, pred, _) =>
          sum(when(pred, 1L).otherwise(0L)).cast("double").as(id)
        }
        val entries = specs.flatMap { case (id, _, _, _, _) => Seq(lit(id), col(id)) }
        joined
          .agg(aggs.head, aggs.tail: _*)
          .select(explode(map(entries: _*)))
          .select(col("key").as("query_id"), col("value").as("__t"))
      }.reduce(_.unionAll(_))
      }
    }

  // ---- row 11j: progressive sampling FROM the trained model ----

  private val narProgN = 4096L

  /** The reference's actual inference path (estimators.py:913
    * ProgressiveSampling run against the NAR conditionals), Spark-first:
    * S md5-seeded uniforms inverse-CDF through the model joint's
    * cumulative distribution — the joint IS the broadcast checkpoint,
    * so the "sampler" is one broadcast range join, no driver loop —
    * and each spec's estimate is W × mean over samples of 1{sat}
    * (× the sampled combo's E[1/fanout] for order-level specs). The
    * tiny cumulative window runs over the model's combo table (domain
    * cross-product, double digits), never over data. Rows-only; gated
    * against the exact-enumeration leg by nar_check's prog_ok.
    */
  private def narProgFrame(spark: SparkSession, dir: String): DataFrame = Memo(spark, dir, "narProgFrame") {
    import org.apache.spark.sql.expressions.Window
    val cw = Window.orderBy(col("c_code"), col("o_code"), col("l_code"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = narJointDecoded(spark, dir)
      .withColumn("__hi", sum(col("p")).over(cw))
      .withColumn("__lo", col("__hi") - col("p"))
    val draws = spark.range(narProgN).select(
      (conv(substring(md5(concat(lit("narp:"), col("id").cast("string"))), 1, 13), 16, 10)
        .cast("long").cast("double") / lit(JoinSample.H)).as("__u"))
    val picked = draws.join(broadcast(cum),
      col("__u") >= col("__lo") && col("__u") < col("__hi"))
    val w = narW(spark, dir)
    narSpecs.map { case (id, needO, needL, pred, _) =>
      val flags = (if (needO) Seq(col("o_code") =!= 1) else Nil) ++
        (if (needL) Seq(col("l_code") =!= 1) else Nil)
      val sat = (pred +: flags).reduce(_ && _)
      val mass = if (needL) lit(1.0) else col("einv")
      picked
        .agg((sum(when(sat, mass).otherwise(0.0)) / lit(narProgN.toDouble)).as("__pm"))
        .crossJoin(w)
        .select(lit(id).as("query_id"),
          greatest(col("__w") * col("__pm"), lit(1.0)).as("est"))
    }.reduce(_.unionAll(_))
  }

  /** Library surface: raw progressive-sampling estimates (not
    * hash-matchable — the registered primary form is
    * [[narProgressiveGatedQ]]). */
  def narProgressiveQ(spark: SparkSession, dir: String): DataFrame =
    narProgFrame(spark, dir).orderBy(col("query_id"))

  /** Primary (hash-checked) form of the progressive-sampling leg: per
    * spec, the oracle-re-derived true cardinality and the sampler gate —
    * within 2× the exact-enumeration bound of that truth (4096 forward
    * samples cost at most the 2× agreement factor nar_check already
    * asserts) AND within 2× of exact enumeration itself. Raw estimates:
    * [[narProgressiveQ]].
    */
  def narProgressiveGatedQ(spark: SparkSession, dir: String): DataFrame =
    narProgFrame(spark, dir).withColumnRenamed("est", "__prog")
      .join(narEstFrame(spark, dir), Seq("query_id"))
      .join(narTruths(spark, dir), Seq("query_id"))
      .select(col("query_id"), col("__t").cast("bigint").as("truth"),
        (qerr(col("__prog"), col("__t")) <= narBound * 2.0 &&
          qerr(col("est"), col("__prog")) <= 2.0).as("prog_ok"))
      .orderBy(col("query_id"))

  val narProgressiveGatedSql: String =
    narSpecs.map { case (id, _, needL, _, predSql) =>
      val joins = "customer JOIN orders ON c_custkey = o_custkey" +
        (if (needL) " JOIN lineitem ON o_orderkey = l_orderkey" else "")
      s"SELECT '$id' AS query_id, CAST((SELECT COUNT(*) FROM $joins" +
        s" WHERE $predSql) AS BIGINT) AS truth, TRUE AS prog_ok"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY query_id")

  /** Hash-checked verdict for the trained density model, in the
    * ivf_kmeans_check discipline: the checkpoint itself is not
    * oracle-reproducible, but "estimates are finite, ≥ 1, within a
    * q-error bound of the true cardinality, and the progressive-sampling
    * leg agrees with exact enumeration" is a fixed contract the oracle
    * asserts — a broken trained model (or a broken sampler) fails the
    * correctness gate instead of hiding behind rows-only.
    */
  def narCheckQ(spark: SparkSession, dir: String): DataFrame =
    narEstFrame(spark, dir)
      .join(narTruths(spark, dir), Seq("query_id"))
      .join(narProgFrame(spark, dir).withColumnRenamed("est", "__prog"), Seq("query_id"))
      .select(col("query_id"),
        (!isnan(col("est")) && col("est").isNotNull).as("finite_ok"),
        (col("est") >= 1.0).as("pos_ok"),
        (qerr(col("est"), col("__t")) <= narBound).as("qerr_ok"),
        // 4096 forward samples put the sampler within ~10% of exact
        // enumeration at these selectivities; 2× flags a real breakage
        (qerr(col("est"), col("__prog")) <= 2.0).as("prog_ok"))
      .orderBy(col("query_id"))

  val narCheckSql: String =
    narSpecs.map { case (id, _, _, _, _) =>
      s"SELECT '$id' AS query_id, TRUE AS finite_ok, TRUE AS pos_ok," +
        " TRUE AS qerr_ok, TRUE AS prog_ok"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY query_id")

  // ---- rows 11k/11l: incremental training (run.py --inc-train) ----

  /** Iteration budget for the incremental continuation — half the
    * from-scratch budget: warm-started L-BFGS starts near the optimum,
    * which is the entire point of incremental training. */
  private val narIncIter = 30

  /** Incremental training — the reference's `--inc-train` path
    * (run.py:118; models.py load-checkpoint-and-continue): a model
    * trained on the BASE batch (the first half of the sample slots) is
    * UPDATED when the appended half arrives by warm-starting every head
    * from the base checkpoint's weights and continuing L-BFGS on
    * base+delta ([[graft.operators.NarModel.heads]] `init`), instead of
    * refitting from the seed initialization. Both enumerated joints
    * (base and incrementally-updated) persist as ONE warehouse
    * checkpoint, tagged by a `model` column — a fresh session serves
    * the before/after comparison with no trainer invocation.
    *
    * The fanout cap is computed over the FULL batch so both trainings
    * share layer shapes (warm-starting requires matching dimensions) —
    * the cap is a catalog constant, not a fitted parameter.
    */
  private def narIncJoints(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "narIncJoints") {
      Checkpoint(spark, dir, "nar_inc_joint")(narFingerprint(spark, dir)) {
        import graft.operators.{Encoding, NarModel}
        def dict(t: String, c: String) =
          Encoding.dictionary(Tables(spark, dir, t), c)
        def dmax(d: DataFrame): Int =
          d.agg(max(col("code"))).head().getInt(0)
        val (cMax, oMax, lMax) = (dmax(dict("customer", "c_mktsegment")),
          dmax(dict("orders", "o_orderstatus")),
          dmax(dict("lineitem", "l_returnflag")))
        val batch = Memo(spark, dir, "trainingBatch")(QueriesSampleEst.trainingBatchQ(spark, dir))
        val fMax = math.min(
          batch.agg(max(col("lo_fanout"))).head().getLong(0), 32L).toInt
        // slots are md5 hex ids (uniform): the low half of the hex space
        // is a deterministic ~50% "base corpus"; the rest is the
        // appended batch the incremental update folds in
        val base = batch.filter(substring(col("slot"), 1, 1) < "8")
        val baseHeads =
          NarModel.heads(base, cMax, oMax, lMax, fMax, narHidden, narSeed)
        val incHeads = NarModel.heads(batch, cMax, oMax, lMax, fMax, narHidden,
          narSeed, maxIter = narIncIter, init = Some(baseHeads))
        def tag(m: String, j: DataFrame) = j.select(lit(m).as("model"),
          col("c_code"), col("o_code"), col("l_code"), col("p"), col("einv"))
        tag("base", NarModel.jointOf(baseHeads, base, cMax, oMax, lMax, fMax))
          .unionAll(
            tag("inc", NarModel.jointOf(incHeads, batch, cMax, oMax, lMax, fMax)))
      }
    }

  /** The persisted base/inc joints decoded back to values (code 1 →
    * NULL = absent), same decode as [[narJointDecoded]]. */
  private def narIncDecoded(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "narIncDecoded") {
      // Warehouse-persisted beside nar_inc_joint: the decode is
      // deterministic (checkpointed joints × data dictionaries), but
      // re-deriving it per session re-scans the dictionary tables
      // (~19 s of the driver's r12 warm pass). Same fingerprint key
      // as the joints it decodes.
      Checkpoint(spark, dir, "nar_inc_decoded")(narFingerprint(spark, dir)) {
        import graft.operators.Encoding
        def dict(t: String, c: String) =
          Encoding.dictionary(Tables(spark, dir, t), c)
        narIncJoints(spark, dir)
          .join(broadcast(dict("customer", "c_mktsegment")
            .withColumnRenamed("code", "c_code")), Seq("c_code"), "left")
          .join(broadcast(dict("orders", "o_orderstatus")
            .withColumnRenamed("code", "o_code")), Seq("o_code"), "left")
          .join(broadcast(dict("lineitem", "l_returnflag")
            .withColumnRenamed("code", "l_code")), Seq("l_code"), "left")
      }
    }

  /** (query_id, base est, incrementally-trained est) per covered spec —
    * [[narEstFrame]]'s formula per model tag, one grouped aggregate
    * over the checkpoint instead of one per model. */
  private def narIncEstFrame(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "narIncEstFrame") {
      // Warehouse-persisted: the per-spec before/after estimates are a
      // bounded (2 × |specs| aggregates), deterministic product of the
      // checkpointed joints — but re-deriving them was the single
      // largest line of the driver's r12 warm pass (65.9 s: one
      // grouped-aggregate plan per spec over the decoded joint, paid
      // per session). One footer read ever after, same key as the
      // joints.
      Checkpoint(spark, dir, "nar_inc_ests")(narFingerprint(spark, dir)) {
      val joints = narIncDecoded(spark, dir)
      val w = narW(spark, dir)
      narSpecs.map { case (id, needO, needL, pred, _) =>
        val flags = (if (needO) Seq(col("o_code") =!= 1) else Nil) ++
          (if (needL) Seq(col("l_code") =!= 1) else Nil)
        val sat = (pred +: flags).reduce(_ && _)
        val mass = if (needL) col("p") else col("p") * col("einv")
        // Persisted-artifact determinism: each combo's mass is pinned
        // to the 1e-12 grid so the probability-mass SUM is an exact
        // BIGINT in any partition order (a bare double sum differed in
        // the last ulp between builds — caught by CheckpointSpec's
        // rebuild-vs-committed diff); one double division recovers it.
        joints
          .groupBy(col("model"))
          .agg((sum(when(sat,
            round(mass * lit(1e12)).cast("long")).otherwise(0L))
            .cast("double") / lit(1e12)).as("__pm"))
          .crossJoin(w)
          .groupBy(lit(id).as("query_id"))
          .agg(
            max(when(col("model") === "base",
              greatest(col("__w") * col("__pm"), lit(1.0)))).as("base_est"),
            max(when(col("model") === "inc",
              greatest(col("__w") * col("__pm"), lit(1.0)))).as("inc_est"))
      }.reduce(_.unionAll(_))
      }
    }

  /** Library surface: raw before/after estimates of the incremental
    * training path (not hash-matchable — the registered primary form is
    * [[narIncEstGatedQ]]). */
  def narIncEstQ(spark: SparkSession, dir: String): DataFrame =
    narIncEstFrame(spark, dir).orderBy(col("query_id"))

  /** Primary (hash-checked) form of the incrementally-trained
    * estimator: per spec, the oracle-re-derived true cardinality and
    * the updated model's gate (finite, ≥ 1, within the same q-error
    * bound the from-scratch model must meet) — folding the appended
    * batch in must leave the model inside the contract. */
  def narIncEstGatedQ(spark: SparkSession, dir: String): DataFrame =
    narIncEstFrame(spark, dir)
      .join(narTruths(spark, dir), Seq("query_id"))
      .select(col("query_id"), col("__t").cast("bigint").as("truth"),
        (!isnan(col("inc_est")) && col("inc_est").isNotNull &&
          col("inc_est") >= 1.0 &&
          qerr(col("inc_est"), col("__t")) <= narBound)
          .as("est_ok"))
      .orderBy(col("query_id"))

  val narIncEstGatedSql: String =
    narSpecs.map { case (id, _, needL, _, predSql) =>
      val joins = "customer JOIN orders ON c_custkey = o_custkey" +
        (if (needL) " JOIN lineitem ON o_orderkey = l_orderkey" else "")
      s"SELECT '$id' AS query_id, CAST((SELECT COUNT(*) FROM $joins" +
        s" WHERE $predSql) AS BIGINT) AS truth, TRUE AS est_ok"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY query_id")

  /** Hash-checked verdict for incremental training (the nar_check
    * discipline), per covered spec against oracle-re-derived truth:
    *  - `base_ok`: the base model (half the sample) is itself within
    *    2× the q-error bound — the "before" report;
    *  - `inc_ok`: the updated model is within the full-model bound —
    *    the "after" report (folding data in must not break the gate);
    *  - `not_worse_ok`: the update did not degrade the fit — the
    *    after-q-error is within 2× of the before-q-error;
    *  - `agree_ok`: the incremental continuation lands where a
    *    from-scratch fit on the same base+delta lands (within 2×) —
    *    warm-start converges to the retrained model, the property that
    *    makes incremental training trustworthy at all.
    */
  def narIncCheckQ(spark: SparkSession, dir: String): DataFrame = {
    narIncEstFrame(spark, dir)
      .join(narTruths(spark, dir), Seq("query_id"))
      .join(narEstFrame(spark, dir).withColumnRenamed("est", "__scratch"),
        Seq("query_id"))
      .select(col("query_id"), col("__t").cast("bigint").as("truth"),
        (!isnan(col("base_est")) && col("base_est") >= 1.0 &&
          qerr(col("base_est"), col("__t")) <= narBound * 2.0).as("base_ok"),
        (!isnan(col("inc_est")) && col("inc_est") >= 1.0 &&
          qerr(col("inc_est"), col("__t")) <= narBound).as("inc_ok"),
        (qerr(col("inc_est"), col("__t")) <=
          qerr(col("base_est"), col("__t")) * 2.0).as("not_worse_ok"),
        (qerr(col("inc_est"), col("__scratch")) <= 2.0).as("agree_ok"))
      .orderBy(col("query_id"))
  }

  val narIncCheckSql: String =
    narSpecs.map { case (id, _, needL, _, predSql) =>
      val joins = "customer JOIN orders ON c_custkey = o_custkey" +
        (if (needL) " JOIN lineitem ON o_orderkey = l_orderkey" else "")
      s"SELECT '$id' AS query_id, CAST((SELECT COUNT(*) FROM $joins" +
        s" WHERE $predSql) AS BIGINT) AS truth, TRUE AS base_ok," +
        " TRUE AS inc_ok, TRUE AS not_worse_ok, TRUE AS agree_ok"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY query_id")

  // ---- rows 11n/11o: transformer NAR (models.py:435 NARTransformer) ----

  /** Adam steps for the transformer fit — full-batch over the weighted
    * combo table; 800 converges the weighted CE to the empirical
    * conditionals' noise floor at these domain sizes (spec-checked). */
  private val narTxSteps = 800

  /** The transformer trainer's bounded input: the weighted distinct-combo
    * collapse of the encoded training batch (gradient-identical to the
    * raw rows, ≤ cMax·oMax·lMax·fMax rows — a documented bounded-frame
    * collect) plus the per-position domain sizes. Shared by the
    * checkpoint trainer ([[narTxJoint]]) and the intermediate-model
    * curve ([[narTxCurveEsts]]). */
  private def narTxInputs(spark: SparkSession, dir: String)
      : (Array[(Int, Int, Int, Int, Double)], Int, Int, Int, Int) = {
    import graft.operators.Encoding
    def dmax(t: String, c: String): Int =
      Encoding.dictionary(Tables(spark, dir, t), c)
        .agg(max(col("code"))).head().getInt(0)
    val (cMax, oMax, lMax) = (dmax("customer", "c_mktsegment"),
      dmax("orders", "o_orderstatus"), dmax("lineitem", "l_returnflag"))
    val batch = Memo(spark, dir, "trainingBatch")(QueriesSampleEst.trainingBatchQ(spark, dir))
    val fMax = math.min(
      batch.agg(max(col("lo_fanout"))).head().getLong(0), 32L).toInt
    val combos = batch
      .groupBy(col("c_code"), col("o_code"), col("l_code"),
        least(col("lo_fanout"), lit(fMax.toLong)).cast("int").as("f_code"))
      .agg(count(lit(1)).as("w"))
      .collect()
      .map(r => (r.getInt(0) - 1, r.getInt(1) - 1, r.getInt(2) - 1,
        r.getInt(3) - 1, r.getLong(4).toDouble))
      .sortBy(t => (t._1, t._2, t._3, t._4))
    (combos, cMax, oMax, lMax, fMax)
  }

  /** The transformer NAR's enumerated joint — the reference's
    * `NARTransformer` (models.py:435) re-expressed: one causal
    * self-attention network learns ALL the autoregressive conditionals
    * (including P(c) and the fanout head) instead of one MLP per
    * conditional ([[graft.operators.NarTransformer]]); persisted to the
    * warehouse model store like every trained artifact. */
  private def narTxJoint(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "narTxJoint") {
      Checkpoint(spark, dir, "nar_tx_joint")(narFingerprint(spark, dir)) {
        val (combos, cMax, oMax, lMax, fMax) = narTxInputs(spark, dir)
        val model = graft.operators.NarTransformer.train(
          combos, cMax, oMax, lMax, fMax, narSeed, narTxSteps)
        import spark.implicits._
        model.enumerateJoint()
          .toDF("c_code", "o_code", "l_code", "p", "einv")
      }
    }

  /** Decode a (c_code, o_code, l_code, …) joint back to values (code 1
    * → NULL = absent) via broadcast dictionary joins, same decode as
    * [[narJointDecoded]]. */
  private def narDictDecode(spark: SparkSession, dir: String,
      joint: DataFrame): DataFrame = {
    import graft.operators.Encoding
    def dict(t: String, c: String) =
      Encoding.dictionary(Tables(spark, dir, t), c)
    joint
      .join(broadcast(dict("customer", "c_mktsegment")
        .withColumnRenamed("code", "c_code")), Seq("c_code"), "left")
      .join(broadcast(dict("orders", "o_orderstatus")
        .withColumnRenamed("code", "o_code")), Seq("o_code"), "left")
      .join(broadcast(dict("lineitem", "l_returnflag")
        .withColumnRenamed("code", "l_code")), Seq("l_code"), "left")
  }

  /** The persisted transformer joint decoded back to values. */
  private def narTxDecoded(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "narTxDecoded") {
      narDictDecode(spark, dir, narTxJoint(spark, dir))
    }

  /** model_store accessor: the loaded transformer joint (bounded). */
  private[graft] def narTxArtifact(spark: SparkSession, dir: String): DataFrame =
    narTxDecoded(spark, dir)

  /** model_store accessors for the remaining persisted trainer
    * products — the training-curve eval table and the HPO eval table
    * (both bounded by contract). */
  private[graft] def narTxCurveArtifact(spark: SparkSession, dir: String): DataFrame =
    narTxCurveEsts(spark, dir)
  private[graft] def narHpoArtifact(spark: SparkSession, dir: String): DataFrame =
    narHpoEstFrame(spark, dir)

  /** [[narEstFrame]]'s estimate formula evaluated over the transformer
    * joint — est = W × Σ P̂(combo satisfying spec), E[1/fanout]
    * downweight on order-level specs. */
  private def narTxEstFrame(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "narTxEstFrame") {
      val joint = narTxDecoded(spark, dir)
      val w = narW(spark, dir)
      narSpecs.map { case (id, needO, needL, pred, _) =>
        val flags = (if (needO) Seq(col("o_code") =!= 1) else Nil) ++
          (if (needL) Seq(col("l_code") =!= 1) else Nil)
        val sat = (pred +: flags).reduce(_ && _)
        val mass = if (needL) col("p") else col("p") * col("einv")
        joint
          .agg(pmFold(when(sat, mass).otherwise(0.0)).as("__pm"))
          .crossJoin(w)
          .select(lit(id).as("query_id"),
            greatest(col("__w") * col("__pm"), lit(1.0)).as("est"))
      }.reduce(_.unionAll(_))
    }

  /** Library surface: the transformer NAR's raw estimates (not
    * hash-matchable; primary form is [[narTxEstGatedQ]]). */
  def narTxEstQ(spark: SparkSession, dir: String): DataFrame =
    narTxEstFrame(spark, dir).orderBy(col("query_id"))

  /** Primary (hash-checked) form of the transformer NAR: per spec, the
    * oracle-re-derived true cardinality and the model gate ([[narBound]]
    * q-error) — the same contract the MLP NAR meets; a broken attention
    * mask, collapsed softmax, or missing fanout downweight fails the
    * hash. Raw estimates: [[narTxEstQ]]. */
  def narTxEstGatedQ(spark: SparkSession, dir: String): DataFrame =
    narTxEstFrame(spark, dir)
      .join(narTruths(spark, dir), Seq("query_id"))
      .select(col("query_id"), col("__t").cast("bigint").as("truth"),
        (!isnan(col("est")) && col("est").isNotNull && col("est") >= 1.0 &&
          qerr(col("est"), col("__t")) <= narBound).as("est_ok"))
      .orderBy(col("query_id"))

  val narTxEstGatedSql: String =
    narSpecs.map { case (id, _, needL, _, predSql) =>
      val joins = "customer JOIN orders ON c_custkey = o_custkey" +
        (if (needL) " JOIN lineitem ON o_orderkey = l_orderkey" else "")
      s"SELECT '$id' AS query_id, CAST((SELECT COUNT(*) FROM $joins" +
        s" WHERE $predSql) AS BIGINT) AS truth, TRUE AS est_ok"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY query_id")

  /** Itemized verdict for the transformer NAR (the nar_check
    * discipline) against oracle-re-derived truth: estimate finite, ≥ 1,
    * within the q-error bound, and AGREEING with the MLP NAR within 2× —
    * two independently-trained architectures landing together is the
    * cross-check that makes either trustworthy (the reference ships
    * both backbones for exactly this comparison). */
  def narTxCheckQ(spark: SparkSession, dir: String): DataFrame = {
    narTxEstFrame(spark, dir)
      .join(narTruths(spark, dir), Seq("query_id"))
      .join(narEstFrame(spark, dir).withColumnRenamed("est", "__mlp"),
        Seq("query_id"))
      .select(col("query_id"), col("__t").cast("bigint").as("truth"),
        (!isnan(col("est")) && col("est").isNotNull).as("finite_ok"),
        (col("est") >= 1.0).as("pos_ok"),
        (qerr(col("est"), col("__t")) <= narBound).as("qerr_ok"),
        (qerr(col("est"), col("__mlp")) <= 2.0).as("mlp_agree_ok"))
      .orderBy(col("query_id"))
  }

  val narTxCheckSql: String =
    narSpecs.map { case (id, _, needL, _, predSql) =>
      val joins = "customer JOIN orders ON c_custkey = o_custkey" +
        (if (needL) " JOIN lineitem ON o_orderkey = l_orderkey" else "")
      s"SELECT '$id' AS query_id, CAST((SELECT COUNT(*) FROM $joins" +
        s" WHERE $predSql) AS BIGINT) AS truth, TRUE AS finite_ok," +
        " TRUE AS pos_ok, TRUE AS qerr_ok, TRUE AS mlp_agree_ok"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY query_id")

  // ---- rows 11r/11s: faithful non-AR masked-denoising transformer ----

  /** Full-batch Adam steps for the masked-denoising fit — each step
    * already averages the 15-mask enumeration, so 400 converges the
    * expected masked CE at these domain sizes (spec-checked). */
  private val narMlmSteps = 400

  /** The faithful NON-autoregressive leg: random masked-column
    * denoising with unmasked attention (models.py:211, :340-352),
    * trained deterministically over the enumerated mask space on the
    * SAME weighted combo table as both AR legs
    * ([[graft.operators.NarMlm]]), conditionals recovered by the
    * reference's masking trick, enumerated into the shared joint shape
    * and persisted to the model store. Closes the last documented
    * architecture divergence: the repo now carries the reference's
    * actual training objective alongside the AR re-expressions.
    */
  private def narMlmJoint(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "narMlmJoint") {
      Checkpoint(spark, dir, "nar_mlm_joint")(narFingerprint(spark, dir)) {
        val (combos, cMax, oMax, lMax, fMax) = narTxInputs(spark, dir)
        val model = graft.operators.NarMlm.train(
          combos, cMax, oMax, lMax, fMax, narSeed, narMlmSteps)
        import spark.implicits._
        model.enumerateJoint()
          .toDF("c_code", "o_code", "l_code", "p", "einv")
      }
    }

  private def narMlmDecoded(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "narMlmDecoded") {
      narDictDecode(spark, dir, narMlmJoint(spark, dir))
    }

  /** model_store accessor: the loaded masked-denoising joint. */
  private[graft] def narMlmArtifact(spark: SparkSession, dir: String): DataFrame =
    narMlmDecoded(spark, dir)

  /** [[narEstFrame]]'s estimate formula over the masked-denoising
    * joint — shared algebra, third independently-trained model. */
  private def narMlmEstFrame(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "narMlmEstFrame") {
      val joint = narMlmDecoded(spark, dir)
      val w = narW(spark, dir)
      narSpecs.map { case (id, needO, needL, pred, _) =>
        val flags = (if (needO) Seq(col("o_code") =!= 1) else Nil) ++
          (if (needL) Seq(col("l_code") =!= 1) else Nil)
        val sat = (pred +: flags).reduce(_ && _)
        val mass = if (needL) col("p") else col("p") * col("einv")
        joint
          .agg(pmFold(when(sat, mass).otherwise(0.0)).as("__pm"))
          .crossJoin(w)
          .select(lit(id).as("query_id"),
            greatest(col("__w") * col("__pm"), lit(1.0)).as("est"))
      }.reduce(_.unionAll(_))
    }

  /** Library surface: raw masked-denoising estimates (primary
    * hash-checked form is [[narMlmEstGatedQ]]). */
  def narMlmEstQ(spark: SparkSession, dir: String): DataFrame =
    narMlmEstFrame(spark, dir).orderBy(col("query_id"))

  /** Primary (hash-checked) form: per spec, oracle-re-derived truth and
    * the same [[narBound]] q-error gate the AR legs meet — a collapsed
    * masked head, a broken mask-enumeration weight, or a wrong
    * conditioning pattern fails the hash. */
  def narMlmEstGatedQ(spark: SparkSession, dir: String): DataFrame =
    narMlmEstFrame(spark, dir)
      .join(narTruths(spark, dir), Seq("query_id"))
      .select(col("query_id"), col("__t").cast("bigint").as("truth"),
        (!isnan(col("est")) && col("est").isNotNull && col("est") >= 1.0 &&
          qerr(col("est"), col("__t")) <= narBound).as("est_ok"))
      .orderBy(col("query_id"))

  val narMlmEstGatedSql: String =
    narSpecs.map { case (id, _, needL, _, predSql) =>
      val joins = "customer JOIN orders ON c_custkey = o_custkey" +
        (if (needL) " JOIN lineitem ON o_orderkey = l_orderkey" else "")
      s"SELECT '$id' AS query_id, CAST((SELECT COUNT(*) FROM $joins" +
        s" WHERE $predSql) AS BIGINT) AS truth, TRUE AS est_ok"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY query_id")

  /** Itemized verdict for the masked-denoising model against
    * oracle-re-derived truth: finite, ≥ 1, within the q-error bound,
    * and agreeing within 2× with BOTH independently-trained AR legs —
    * the three-way cross-check the reference's dual-backbone design
    * exists for, now across two different training OBJECTIVES as well.
    */
  def narMlmCheckQ(spark: SparkSession, dir: String): DataFrame = {
    narMlmEstFrame(spark, dir)
      .join(narTruths(spark, dir), Seq("query_id"))
      .join(narEstFrame(spark, dir).withColumnRenamed("est", "__mlp"),
        Seq("query_id"))
      .join(narTxEstFrame(spark, dir).withColumnRenamed("est", "__tx"),
        Seq("query_id"))
      .select(col("query_id"), col("__t").cast("bigint").as("truth"),
        (!isnan(col("est")) && col("est").isNotNull).as("finite_ok"),
        (col("est") >= 1.0).as("pos_ok"),
        (qerr(col("est"), col("__t")) <= narBound).as("qerr_ok"),
        (qerr(col("est"), col("__mlp")) <= 2.0).as("mlp_agree_ok"),
        (qerr(col("est"), col("__tx")) <= 2.0).as("tx_agree_ok"))
      .orderBy(col("query_id"))
  }

  val narMlmCheckSql: String =
    narSpecs.map { case (id, _, needL, _, predSql) =>
      val joins = "customer JOIN orders ON c_custkey = o_custkey" +
        (if (needL) " JOIN lineitem ON o_orderkey = l_orderkey" else "")
      s"SELECT '$id' AS query_id, CAST((SELECT COUNT(*) FROM $joins" +
        s" WHERE $predSql) AS BIGINT) AS truth, TRUE AS finite_ok," +
        " TRUE AS pos_ok, TRUE AS qerr_ok, TRUE AS mlp_agree_ok," +
        " TRUE AS tx_agree_ok"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY query_id")

  // ---- rows 11t/11u: continuous-fanout NAR variant (--cont-fanout) ----

  /** The reference's `--cont-fanout` encoding variant (run.py:166;
    * common.py:536-546 log2-transforms fanout columns instead of
    * discretizing them into a categorical head; estimators.py:373-377
    * then downweights by the POINT-predicted fanout fo = max(1,
    * 2^log2_fo) instead of the categorical head's E[1/fanout]).
    * Re-expressed closed-form: with one-hot combo features the
    * L2-optimal continuous regression head IS the per-combo
    * conditional mean of log2(fanout) over the training batch —
    * computed as a hierarchical shrinkage chain (combo mean → (c, o)
    * mean → global mean) so unseen combos still predict, the role the
    * NN's generalization plays in the reference. The tiny
    * (combo → fo_hat) table persists to the warehouse model store like
    * every trained head; training is one keyed aggregate of the
    * sample-sized batch.
    */
  private def narContHead(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "narContHead") {
      Checkpoint(spark, dir, "nar_cont_head")(narFingerprint(spark, dir)) {
        import graft.operators.Encoding
        import spark.implicits._
        def dmax(t: String, c: String): Int =
          Encoding.dictionary(Tables(spark, dir, t), c)
            .agg(max(col("code"))).head().getInt(0)
        val (cMax, oMax, lMax) = (dmax("customer", "c_mktsegment"),
          dmax("orders", "o_orderstatus"), dmax("lineitem", "l_returnflag"))
        val combos = (for { c <- 1 to cMax; o <- 1 to oMax; l <- 1 to lMax }
          yield (c, o, l)).toDF("c_code", "o_code", "l_code")
        // Exact-integer means: avg() over doubles sums in partition
        // order, so the trained head differed in the last ulp between
        // boxes/runs — caught by CheckpointSpec's rebuild-vs-committed
        // diff. log2(fanout) is quantized onto the 1e-6 grid first;
        // the SUM is then an exact BIGINT in any partition order and
        // the mean is one deterministic double division.
        val batch = Memo(spark, dir, "trainingBatch")(QueriesSampleEst.trainingBatchQ(spark, dir))
        val lg = batch.select(col("c_code"), col("o_code"), col("l_code"),
          expr("CAST(round(log2(CAST(lo_fanout AS DOUBLE)) * 1e6) AS BIGINT)")
            .as("__lf6"))
        val m3 = lg.groupBy(col("c_code"), col("o_code"), col("l_code"))
          .agg(((sum(col("__lf6")).cast("double") / lit(1e6)) /
            count(lit(1)).cast("double")).as("__m3"))
        val m2 = lg.groupBy(col("c_code"), col("o_code"))
          .agg(((sum(col("__lf6")).cast("double") / lit(1e6)) /
            count(lit(1)).cast("double")).as("__m2"))
        val m1 = lg.agg(((sum(col("__lf6")).cast("double") / lit(1e6)) /
          count(lit(1)).cast("double")).as("__m1"))
        combos
          .join(broadcast(m3), Seq("c_code", "o_code", "l_code"), "left")
          .join(broadcast(m2), Seq("c_code", "o_code"), "left")
          .crossJoin(broadcast(m1))
          .select(col("c_code"), col("o_code"), col("l_code"),
            greatest(lit(1.0),
              pow(lit(2.0), coalesce(col("__m3"), col("__m2"), col("__m1"))))
              .as("fo_hat"))
      }
    }

  /** [[narEstFrame]]'s estimate formula with the CONTINUOUS fanout
    * downweight: order-level specs divide each combo's mass by the
    * point-predicted fo_hat (1/fo, the reference's cont-fanout
    * scaling) instead of multiplying by the categorical E[1/fanout]. */
  private def narContEstFrame(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "narContEstFrame") {
      val joint = narJointDecoded(spark, dir)
        .join(broadcast(narContHead(spark, dir)),
          Seq("c_code", "o_code", "l_code"), "left")
      val w = narW(spark, dir)
      narSpecs.map { case (id, needO, needL, pred, _) =>
        val flags = (if (needO) Seq(col("o_code") =!= 1) else Nil) ++
          (if (needL) Seq(col("l_code") =!= 1) else Nil)
        val sat = (pred +: flags).reduce(_ && _)
        val mass = if (needL) col("p")
          else col("p") / greatest(col("fo_hat"), lit(1.0))
        joint
          .agg(pmFold(when(sat, mass).otherwise(0.0)).as("__pm"))
          .crossJoin(w)
          .select(lit(id).as("query_id"),
            greatest(col("__w") * col("__pm"), lit(1.0)).as("est"))
      }.reduce(_.unionAll(_))
    }

  /** model_store accessor: the loaded continuous-fanout head. */
  private[graft] def narContArtifact(spark: SparkSession, dir: String): DataFrame =
    narContHead(spark, dir)

  /** Library surface: the continuous-fanout variant's raw estimates
    * (primary registered form is [[narContEstGatedQ]]). */
  def narContEstQ(spark: SparkSession, dir: String): DataFrame =
    narContEstFrame(spark, dir).orderBy(col("query_id"))

  /** Primary (hash-checked) form of the continuous-fanout NAR variant:
    * per spec, the oracle-re-derived true cardinality and the model
    * gate ([[narBound]] q-error) — the same contract every other NAR
    * leg meets; a broken log2 encoding or a collapsed head fails the
    * hash. Raw estimates: [[narContEstQ]]. */
  def narContEstGatedQ(spark: SparkSession, dir: String): DataFrame =
    narContEstFrame(spark, dir)
      .join(narTruths(spark, dir), Seq("query_id"))
      .select(col("query_id"), col("__t").cast("bigint").as("truth"),
        (!isnan(col("est")) && col("est").isNotNull && col("est") >= 1.0 &&
          qerr(col("est"), col("__t")) <= narBound).as("est_ok"))
      .orderBy(col("query_id"))

  val narContEstGatedSql: String =
    narSpecs.map { case (id, _, needL, _, predSql) =>
      val joins = "customer JOIN orders ON c_custkey = o_custkey" +
        (if (needL) " JOIN lineitem ON o_orderkey = l_orderkey" else "")
      s"SELECT '$id' AS query_id, CAST((SELECT COUNT(*) FROM $joins" +
        s" WHERE $predSql) AS BIGINT) AS truth, TRUE AS est_ok"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY query_id")

  /** Itemized verdict for the continuous-fanout variant against
    * oracle-re-derived truth: finite, ≥ 1, within the q-error bound,
    * and agreeing within 2× with the categorical-fanout leg — the
    * cross-encoding check that makes the off-by-default flag safe to
    * flip (the nar_tx_check discipline applied across fanout
    * ENCODINGS rather than architectures). */
  def narContCheckQ(spark: SparkSession, dir: String): DataFrame = {
    narContEstFrame(spark, dir)
      .join(narTruths(spark, dir), Seq("query_id"))
      .join(narEstFrame(spark, dir).withColumnRenamed("est", "__cat"),
        Seq("query_id"))
      .select(col("query_id"), col("__t").cast("bigint").as("truth"),
        (!isnan(col("est")) && col("est").isNotNull).as("finite_ok"),
        (col("est") >= 1.0).as("pos_ok"),
        (qerr(col("est"), col("__t")) <= narBound).as("qerr_ok"),
        (qerr(col("est"), col("__cat")) <= 2.0).as("cat_agree_ok"))
      .orderBy(col("query_id"))
  }

  val narContCheckSql: String =
    narSpecs.map { case (id, _, needL, _, predSql) =>
      val joins = "customer JOIN orders ON c_custkey = o_custkey" +
        (if (needL) " JOIN lineitem ON o_orderkey = l_orderkey" else "")
      s"SELECT '$id' AS query_id, CAST((SELECT COUNT(*) FROM $joins" +
        s" WHERE $predSql) AS BIGINT) AS truth, TRUE AS finite_ok," +
        " TRUE AS pos_ok, TRUE AS qerr_ok, TRUE AS cat_agree_ok"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY query_id")

  // ---- row 11p: nar_training_curve (run.py:156 --eval-all-intermediate-models) ----

  /** Checkpoint steps at which the training trajectory is evaluated —
    * ascending, last = the production budget so the final snapshot IS
    * the served model's fit. */
  private val narCurveRungs = Seq(50, 200, narTxSteps)

  /** Per-checkpoint estimates across the transformer NAR's training
    * trajectory — the reference's `--eval-all-intermediate-models`
    * (run.py:156 walks the saved per-step checkpoints and re-runs
    * eval_batch on each): ONE continuous training run snapshots the
    * enumerated joint at each rung ([[graft.operators.NarTransformer
    * .fitSnapshots]] — optimizer state never resets, so the final rung
    * is bit-identical to the production fit), and every snapshot is
    * evaluated with [[narTxEstFrame]]'s est formula. Rows:
    * (step, query_id, est) — rungs × specs, bounded. The frame persists
    * to the warehouse like the trained joints (run.py:170
    * `--dump-intermediates` saves exactly these per-step eval products),
    * so later sessions serve the curve without retraining. */
  private def narTxCurveEsts(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "narTxCurveEsts") {
     Checkpoint(spark, dir, "nar_tx_curve")(narFingerprint(spark, dir)) {
      val (combos, cMax, oMax, lMax, fMax) = narTxInputs(spark, dir)
      val snaps = new graft.operators.NarTransformer(
        cMax, oMax, lMax, fMax, 16, 32, narSeed)
        .fitSnapshots(combos, narCurveRungs)
      import spark.implicits._
      val joints = snaps.flatMap { case (step, j) =>
        j.map { case (c, o, l, p, e) => (step, c, o, l, p, e) }
      }.toDF("step", "c_code", "o_code", "l_code", "p", "einv")
      val dec = narDictDecode(spark, dir, joints)
      val w = narW(spark, dir)
      narSpecs.map { case (id, needO, needL, pred, _) =>
        val flags = (if (needO) Seq(col("o_code") =!= 1) else Nil) ++
          (if (needL) Seq(col("l_code") =!= 1) else Nil)
        val sat = (pred +: flags).reduce(_ && _)
        val mass = if (needL) col("p") else col("p") * col("einv")
        dec.groupBy(col("step"))
          .agg(pmFold(when(sat, mass).otherwise(0.0)).as("__pm"))
          .crossJoin(w)
          .select(col("step"), lit(id).as("query_id"),
            greatest(col("__w") * col("__pm"), lit(1.0)).as("est"))
      }.reduce(_.unionAll(_))
     }
    }

  /** Primary (hash-checked) training-curve verdict, per (checkpoint
    * step, spec): oracle-re-derived truth plus three gates — every
    * snapshot's estimate is finite and ≥ 1, the FINAL snapshot meets
    * the full q-error bound, and the final snapshot's worst q-error is
    * no worse than the first's (training moved the model toward the
    * data, the property `--eval-all-intermediate-models` exists to
    * show). A broken snapshot path, optimizer-state reset, or divergent
    * training breaks the hash. */
  def narTrainingCurveQ(spark: SparkSession, dir: String): DataFrame = {
    val rows = narTxCurveEsts(spark, dir)
      .join(narTruths(spark, dir), Seq("query_id"))
      .withColumn("__qe", qerr(col("est"), col("__t")))
    val gate = rows.agg(
      max(when(col("step") === narCurveRungs.head, col("__qe"))).as("__mq0"),
      max(when(col("step") === narCurveRungs.last, col("__qe"))).as("__mq1"))
    rows.crossJoin(broadcast(gate))
      .select(col("step"), col("query_id"),
        col("__t").cast("bigint").as("truth"),
        (!isnan(col("est")) && col("est").isNotNull && col("est") >= 1.0)
          .as("finite_ok"),
        (col("step") =!= narCurveRungs.last || col("__qe") <= narBound)
          .as("final_ok"),
        (col("__mq1") <= col("__mq0")).as("curve_ok"))
      .orderBy(col("step"), col("query_id"))
  }

  val narTrainingCurveSql: String =
    narCurveRungs.flatMap { step =>
      narSpecs.map { case (id, _, needL, _, predSql) =>
        val joins = "customer JOIN orders ON c_custkey = o_custkey" +
          (if (needL) " JOIN lineitem ON o_orderkey = l_orderkey" else "")
        s"SELECT $step AS step, '$id' AS query_id, CAST((SELECT COUNT(*)" +
          s" FROM $joins WHERE $predSql) AS BIGINT) AS truth," +
          " TRUE AS finite_ok, TRUE AS final_ok, TRUE AS curve_ok"
      }
    }.mkString("", "\nUNION ALL\n", "\nORDER BY step, query_id")

  // ---- row 11q: nar_hpo (run.py:204 n_trials hyperparameter search) ----

  /** The deterministic search grid — (trial, d, h, lr1000): network
    * width and learning rate, the searchable axes of the reference's
    * Optuna space (run.py:290 `d_word: tune.choice([32, 64])`, :292
    * `lr: tune.loguniform(1e-4, 5e-3)`, plus the per-model-type
    * d_ff/n_ff choices), quantized to a fixed grid so the trial set is
    * identical on every engine and every run — a deterministic grid is
    * to Optuna what the md5 uniform is to rand(): the same search,
    * reproducible. lr is carried ×1000 as an integer so the output
    * schema stays engine-portable. */
  private val narHpoGrid: Seq[(Int, Int, Int, Int)] = Seq(
    (1, 8, 16, 10), (2, 8, 16, 30), (3, 16, 32, 10), (4, 16, 32, 30))

  /** Search budget per trial: trials run at a quarter of the production
    * step budget (the reference caps search trials by n_epochs the same
    * way), so the whole 4-trial search costs ONE production run. */
  private val narHpoSteps = narTxSteps / 4

  /** Per-trial search products — each grid config trained from its own
    * seed on the same weighted combo table, final weighted NLL
    * recorded, and the trial's joint run through the production est
    * formula, so what PERSISTS is the (trial, config, loss, spec, est)
    * EVAL table (the `nar_tx_curve` discipline — a search's artifact is
    * its scoring table; re-deriving it per session from raw joints
    * would pay 4× decode+aggregate on every load). Scale: the search
    * input is the bounded combo collapse — the 100 TB work happened
    * making the join sample; trials are driver-side catalog-sized
    * fits, embarrassingly parallel in a real deployment. */
  private def narHpoEstFrame(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "narHpoEstFrame") {
      Checkpoint(spark, dir, "nar_hpo_evals")(narFingerprint(spark, dir)) {
        val (combos, cMax, oMax, lMax, fMax) = narTxInputs(spark, dir)
        import spark.implicits._
        val joints = narHpoGrid.flatMap { case (trial, d, h, lr1000) =>
          val model = new graft.operators.NarTransformer(
            cMax, oMax, lMax, fMax, d, h, narSeed + trial)
            .fit(combos, narHpoSteps, lr1000 / 1000.0)
          val loss = model.loss(combos)
          model.enumerateJoint().map { case (c, o, l, p, e) =>
            (trial, d, h, lr1000, loss, c, o, l, p, e)
          }
        }.toDF("trial", "d", "h", "lr1000", "loss",
          "c_code", "o_code", "l_code", "p", "einv")
        val dec = narDictDecode(spark, dir, joints)
        val w = narW(spark, dir)
        narSpecs.map { case (id, needO, needL, pred, _) =>
          val flags = (if (needO) Seq(col("o_code") =!= 1) else Nil) ++
            (if (needL) Seq(col("l_code") =!= 1) else Nil)
          val sat = (pred +: flags).reduce(_ && _)
          val mass = if (needL) col("p") else col("p") * col("einv")
          dec.groupBy(col("trial"), col("d"), col("h"), col("lr1000"), col("loss"))
            .agg(pmFold(when(sat, mass).otherwise(0.0)).as("__pm"))
            .crossJoin(w)
            .select(col("trial"), col("d"), col("h"), col("lr1000"), col("loss"),
              lit(id).as("query_id"),
              greatest(col("__w") * col("__pm"), lit(1.0)).as("est"))
        }.reduce(_.unionAll(_))
      }
    }

  /** Primary (hash-checked) hyperparameter-search verdict, per (trial,
    * spec) — the reference's `--n-trials` search (run.py:204; Optuna
    * over architecture/lr scored by per-trial loss, best checkpoint
    * kept) with oracle-re-derived truth and four gates: the trial's
    * loss is finite and positive, the SELECTED trial (argmin loss,
    * tie-break by trial id) has loss ≤ this trial's (a broken argmin
    * breaks the hash on some row), every trial's estimate is finite
    * ≥ 1, and the selected trial's estimate meets the full production
    * q-error bound per spec — the search must END at a servable model,
    * which is the property the reference's search exists to guarantee. */
  def narHpoQ(spark: SparkSession, dir: String): DataFrame = {
    val ests = narHpoEstFrame(spark, dir)
    val sel = ests.groupBy().agg(
      min_by(struct(col("trial"), col("loss")),
        struct(col("loss"), col("trial"))).as("__s"))
      .select(col("__s.trial").as("__selTrial"), col("__s.loss").as("__selLoss"))
    val best = ests.join(broadcast(sel), col("trial") === col("__selTrial"))
      .select(col("query_id"), col("est").as("__bestEst"))
    ests
      .join(narTruths(spark, dir), Seq("query_id"))
      .crossJoin(broadcast(sel))
      .join(broadcast(best), Seq("query_id"))
      .select(col("trial"), col("d"), col("h"), col("lr1000"),
        col("query_id"), col("__t").cast("bigint").as("truth"),
        (!isnan(col("loss")) && col("loss") > 0.0).as("loss_ok"),
        (col("__selLoss") <= col("loss")).as("sel_ok"),
        (!isnan(col("est")) && col("est").isNotNull && col("est") >= 1.0)
          .as("finite_ok"),
        (qerr(col("__bestEst"), col("__t")) <= narBound).as("best_ok"))
      .orderBy(col("trial"), col("query_id"))
  }

  val narHpoSql: String =
    narHpoGrid.flatMap { case (trial, d, h, lr1000) =>
      narSpecs.map { case (id, _, needL, _, predSql) =>
        val joins = "customer JOIN orders ON c_custkey = o_custkey" +
          (if (needL) " JOIN lineitem ON o_orderkey = l_orderkey" else "")
        s"SELECT $trial AS trial, $d AS d, $h AS h, $lr1000 AS lr1000," +
          s" '$id' AS query_id, CAST((SELECT COUNT(*) FROM $joins" +
          s" WHERE $predSql) AS BIGINT) AS truth, TRUE AS loss_ok," +
          " TRUE AS sel_ok, TRUE AS finite_ok, TRUE AS best_ok"
      }
    }.mkString("", "\nUNION ALL\n", "\nORDER BY trial, query_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nar_est" -> (narEstGatedQ _),
    "nar_progressive" -> (narProgressiveGatedQ _),
    "nar_check" -> (narCheckQ _),
    "nar_inc_est" -> (narIncEstGatedQ _),
    "nar_inc_check" -> (narIncCheckQ _),
    "nar_tx_est" -> (narTxEstGatedQ _),
    "nar_tx_check" -> (narTxCheckQ _),
    "nar_cont_est" -> (narContEstGatedQ _),
    "nar_cont_check" -> (narContCheckQ _),
    "nar_mlm_est" -> (narMlmEstGatedQ _),
    "nar_mlm_check" -> (narMlmCheckQ _),
    "nar_training_curve" -> (narTrainingCurveQ _),
    "nar_hpo" -> (narHpoQ _)
  )

  /** The registered nar_est/nar_progressive are the gated forms (truth
    * re-derived by the oracle from real joins + model-gate verdict);
    * the raw estimate frames remain library surface (narEstQ /
    * narProgressiveQ). nar_check is the itemized diagnostic contract.
    */
  val oracleSql: Map[String, String] = Map(
    "nar_est" -> narEstGatedSql,
    "nar_progressive" -> narProgressiveGatedSql,
    "nar_check" -> narCheckSql,
    "nar_inc_est" -> narIncEstGatedSql,
    "nar_inc_check" -> narIncCheckSql,
    "nar_tx_est" -> narTxEstGatedSql,
    "nar_tx_check" -> narTxCheckSql,
    "nar_cont_est" -> narContEstGatedSql,
    "nar_cont_check" -> narContCheckSql,
    "nar_mlm_est" -> narMlmEstGatedSql,
    "nar_mlm_check" -> narMlmCheckSql,
    "nar_training_curve" -> narTrainingCurveSql,
    "nar_hpo" -> narHpoSql
  )
}
