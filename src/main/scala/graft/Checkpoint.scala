package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Warehouse persistence for TRAINED artifacts and their
  * deterministic derived frames — the cross-session counterpart of
  * [[Memo]]. A trained model's parameters (the NAR joint, k-means
  * centroids, the isotonic staircase) are tiny tables
  * that cost a training run to produce; a real engine writes them to
  * the warehouse keyed by (dataset, schema version) and serves every
  * later session WITHOUT retraining (the reference's checkpoint
  * load/`--glob` path in scardina/run.py — models are trained once and
  * reloaded per workload). The same contract covers bounded,
  * fingerprint-keyed DERIVED products of those inputs (eval truths,
  * decoded joints, per-spec estimate frames): rebuilding them is
  * deterministic but costs per-session scans, so they ship in the
  * store beside the parameters they derive from. Here: parquet under
  * `models/graft_ckpt/<schemaVersion>/<dataset>-<fingerprint>/
  * <name>`, written on first build, read-if-present ever after.
  *
  * The key is defensive on BOTH axes:
  *  - `schemaVersion` is bumped by hand when a trainer, encoding, or
  *    feature change invalidates persisted parameters (model-version
  *    discipline — stale checkpoints must never serve a new contract);
  *  - the `fingerprint` is data-dependent (row counts of the training
  *    inputs), so a regenerated dataset at the same path trains fresh
  *    instead of serving parameters fit to different data.
  *
  * Scale: a checkpoint is by contract a catalog/model-sized table
  * (domain cross-products, k centroids, staircase knots) — one parquet
  * footer read at load, broadcastable downstream. The 100 TB work is
  * what the training run consumed, which is exactly what loading skips.
  */
object Checkpoint {

  /** Bump when a trainer/encoding change invalidates persisted
    * artifacts (see class doc). v2: nar_cont_head means moved to the
    * exact-integer 1e-6 grid (the v1 avg() summed doubles in partition
    * order — nondeterministic in the last ulp across boxes, caught by
    * CheckpointSpec's rebuild-vs-committed diff). v3: the fingerprint
    * folds a per-table CONTENT checksum beside each row count (see
    * [[tableFingerprint]]) — v2 keys were count-only, so a
    * count-preserving content edit to a training table could serve
    * stale parameters AND stale derived eval truths. */
  val schemaVersion = "v3"

  /** Counts build-thunk executions (i.e. actual training runs).
    * CheckpointSpec uses it to prove a second session serves trained
    * surfaces from the warehouse with NO trainer invocation. */
  val builds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** (dir, name) → training wall seconds for builds that actually ran
    * this process (loads record nothing). Bench dumps it into
    * BENCH_DETAIL.json so the warm pass attributes trainer cost. */
  val buildSecs =
    scala.collection.concurrent.TrieMap[(String, String), Double]()

  /** Test seam: redirect the warehouse root (specs point it at a temp
    * dir so audit runs don't serve each other's artifacts). */
  @volatile private[graft] var rootOverride: Option[String] = None

  /** Default root is a COMMITTED repo directory (`models/`), not the
    * gitignored spark-warehouse: trained parameters are reproducible
    * deliverables keyed by (schema version, data fingerprint), and
    * shipping them with the library is what lets a fresh checkout — or
    * the driver's bench environment — serve every estimator leg
    * without a single training run (the reference likewise ships and
    * globs `.pt` checkpoints rather than retraining per run). */
  private def root: String =
    rootOverride.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_CKPT_DIR", "models/graft_ckpt"))

  /** Per-(dir, table) row counts for fingerprints — a parquet count is
    * metadata-only but still a job; cache it for the process lifetime. */
  private val counts =
    scala.collection.concurrent.TrieMap[(String, String), Long]()

  /** Modulus of the fingerprint fold: a prime < 2^31, so every
    * intermediate (acc × 1000003 + n) stays < 2^51 — exact in BIGINT
    * on any engine, which lets `model_store`'s oracle re-derive the
    * fingerprint from COUNT(*)s + content checksums in plain SQL. */
  val fingerprintMod = 2147483629L

  /** Per-row checksum terms are reduced mod this prime BEFORE summing,
    * so the running SUM stays exact in a BIGINT up to ~9×10^12 rows
    * per table (9.2×10^18 / 10^6) — beyond any single table here. */
  val chkTermMod = 1000003L

  /** Engine-portable concat input of each table's CONTENT checksum:
    * the key column(s) plus the category/value columns the trainers
    * and derived eval truths actually condition on, restricted to
    * renderings that are bit-identical across engines (integer casts,
    * raw strings, and cent/micro fixed-point grids for doubles — raw
    * float-to-string rendering is NOT portable and never appears).
    * One string per table, valid verbatim in BOTH Spark SQL and
    * DuckDB (`cast(x as string)`, `concat`, `coalesce`, `floor` agree;
    * every piece is coalesced so neither engine's NULL-in-concat rule
    * is exercised). Kept in lockstep with [[checksumInputDuck]] for
    * the one table whose syntax can't be shared (list indexing).
    */
  private val checksumInput: Map[String, String] = Map(
    "region" -> ("concat(coalesce(cast(r_regionkey as string),'~'),'|'," +
      "coalesce(r_name,'~'))"),
    "nation" -> ("concat(coalesce(cast(n_nationkey as string),'~'),'|'," +
      "coalesce(n_name,'~'),'|',coalesce(cast(n_regionkey as string),'~'))"),
    "customer" -> ("concat(coalesce(cast(c_custkey as string),'~'),'|'," +
      "coalesce(cast(c_nationkey as string),'~'),'|'," +
      "coalesce(c_mktsegment,'~'),'|'," +
      "coalesce(cast(cast(floor(c_acctbal*100+0.5) as bigint) as string),'~'))"),
    "orders" -> ("concat(coalesce(cast(o_orderkey as string),'~'),'|'," +
      "coalesce(cast(o_custkey as string),'~'),'|'," +
      "coalesce(o_orderstatus,'~'),'|'," +
      "coalesce(cast(cast(floor(o_totalprice*100+0.5) as bigint) as string),'~'))"),
    "lineitem" -> ("concat(coalesce(cast(l_orderkey as string),'~'),'|'," +
      "coalesce(cast(l_linenumber as string),'~'),'|'," +
      "coalesce(l_returnflag,'~'),'|'," +
      "coalesce(cast(cast(floor(l_extendedprice*100+0.5) as bigint) as string),'~'))"),
    "part" -> ("concat(coalesce(cast(p_partkey as string),'~'),'|'," +
      "coalesce(p_brand,'~'),'|',coalesce(p_type,'~'),'|'," +
      "coalesce(cast(p_size as string),'~'))"),
    "supplier" -> ("concat(coalesce(cast(s_suppkey as string),'~'),'|'," +
      "coalesce(cast(s_nationkey as string),'~'),'|'," +
      "coalesce(cast(cast(floor(s_acctbal*100+0.5) as bigint) as string),'~'))"),
    "documents" -> ("concat(coalesce(cast(doc_id as string),'~'),'|'," +
      "coalesce(source,'~'),'|',coalesce(text,'~'))"),
    "events" -> ("concat(coalesce(cast(event_id as string),'~'),'|'," +
      "coalesce(cast(user_id as string),'~'),'|'," +
      "coalesce(event_type,'~'),'|'," +
      "coalesce(cast(cast(floor(value*100+0.5) as bigint) as string),'~'))"))

  /** Spark-side checksum input for tables needing engine-specific
    * syntax: embeddings' first coordinate (Spark `element_at` is
    * 1-based; DuckDB lists index 1-based with `[..]`), on the exact
    * micro grid after an explicit promote to double on both engines. */
  private val checksumInputSpark: Map[String, String] =
    checksumInput + ("embeddings" ->
      ("concat(coalesce(cast(vec_id as string),'~'),'|'," +
        "coalesce(cast(label as string),'~'),'|'," +
        "coalesce(cast(cast(floor(cast(element_at(embedding,1) as double)" +
        "*1000000.0+0.5) as bigint) as string),'~'))"))

  private val checksumInputDuck: Map[String, String] =
    checksumInput + ("embeddings" ->
      ("concat(coalesce(cast(vec_id as string),'~'),'|'," +
        "coalesce(cast(label as string),'~'),'|'," +
        "coalesce(cast(cast(floor(cast(embedding[1] as double)" +
        "*1000000.0+0.5) as bigint) as string),'~'))"))

  /** Per-(dir, table) content checksums — one deliberate column scan
    * per training table per process (cached, like [[counts]]). At
    * warehouse scale this is the one non-metadata cost of the key;
    * a production deployment would fold the same sum at ingest and
    * store it as table metadata — the CONTRACT (order-independent
    * modular sum of per-row md5 terms) is ingest-incremental by
    * construction (appends add terms; nothing is order-sensitive). */
  private val checks =
    scala.collection.concurrent.TrieMap[(String, String), Long]()

  /** Per-(dir, table) locks so concurrent first callers (parallel warm
    * pass) don't run the same full-column checksum scan twice. */
  private val chkLocks =
    scala.collection.concurrent.TrieMap[(String, String), Object]()

  private[graft] def tableChecksum(spark: SparkSession, dir: String, t: String): Long =
    checks.get((dir, t)).getOrElse {
      chkLocks.putIfAbsent((dir, t), new Object)
      chkLocks((dir, t)).synchronized {
        checks.getOrElseUpdate((dir, t), {
          val ci = checksumInputSpark.getOrElse(t,
            sys.error(s"no checksum spec for table $t — add one to Checkpoint"))
          Tables(spark, dir, t)
            .selectExpr("coalesce(sum(cast(conv(substring(md5(" + ci +
              s"),1,13),16,10) as bigint) % $chkTermMod),0) as c")
            .head().getLong(0) % fingerprintMod
        })
      }
    }

  /** Order-sensitive combined fingerprint of the named training-input
    * tables: a polynomial fold (mod [[fingerprintMod]]) interleaving
    * each table's ROW COUNT with its CONTENT checksum. The count term
    * keys growth; the checksum term keys count-preserving content
    * edits — without it, a regenerated table with identical
    * cardinality would silently serve stale trained parameters AND
    * stale persisted eval truths (the gate would lose independence
    * from the artifact it checks). */
  def tableFingerprint(spark: SparkSession, dir: String, tables: String*): Long =
    tables.foldLeft(17L) { (acc, t) =>
      val n = counts.getOrElseUpdate((dir, t), Tables(spark, dir, t).count())
      val c = tableChecksum(spark, dir, t)
      (((acc * 1000003L + n) % fingerprintMod) * 1000003L + c) % fingerprintMod
    }

  /** One table's checksum aggregate as DuckDB SQL (the oracle's half
    * of [[tableChecksum]] — identical concat input, identical per-term
    * mod, hex-prefix cast instead of `conv`). */
  def checksumSql(t: String): String =
    s"SELECT COALESCE(SUM(CAST(('0x' || substr(md5(${checksumInputDuck(t)})" +
      s",1,13)) AS BIGINT) % $chkTermMod),0) % $fingerprintMod AS v FROM $t"

  /** CTE definitions computing each distinct table's checksum ONCE
    * (MATERIALIZED so an oracle embedding the fingerprint in many
    * UNION arms doesn't rescan the table per arm). */
  def checksumCtes(tables: Seq[String]): String =
    tables.distinct.sorted
      .map(t => s"__chk_$t AS MATERIALIZED (${checksumSql(t)})")
      .mkString(",\n")

  /** The identical fold as engine-portable SQL (the oracle's side of
    * the model-store contract); expects [[checksumCtes]] for every
    * referenced table in scope. */
  def fingerprintSql(tables: Seq[String]): String =
    tables.foldLeft("17")((acc, t) =>
      s"(((($acc * 1000003 + (SELECT COUNT(*) FROM $t)) % $fingerprintMod)" +
        s" * 1000003 + (SELECT v FROM __chk_$t)) % $fingerprintMod)")

  /** Per-artifact build locks (keyed by resolved path): concurrent
    * callers — the parallel warm pass — must never run two writers
    * against the same artifact directory. */
  private val buildLocks =
    scala.collection.concurrent.TrieMap[String, Object]()

  /** Serve `name` from the warehouse if present; otherwise run `build`
    * (counted as a training run), persist its result, and serve the
    * read-back — so downstream plans are identical on the build and
    * load paths (always a parquet scan of the artifact, never the
    * trainer's own plan). Reads go through the session read cache
    * ([[Tables.parquet]]), so each artifact's schema is inferred once
    * per session; a rebuild in this process drops the stale entry. A
    * DIFFERENT process rewriting an artifact under a live session
    * leaves the cached plan pointing at deleted part files, so
    * cross-process rewrites need a fresh session.
    */
  def apply(spark: SparkSession, dir: String, name: String)(fingerprint: => Long)(
      build: => DataFrame): DataFrame = {
    val p = java.nio.file.Paths.get(
      root, schemaVersion,
      s"${new java.io.File(dir).getName}-${fingerprint}", name)
    if (!java.nio.file.Files.exists(p.resolve("_SUCCESS"))) {
      buildLocks.putIfAbsent(p.toString, new Object)
      buildLocks(p.toString).synchronized {
        if (!java.nio.file.Files.exists(p.resolve("_SUCCESS"))) {
          builds.incrementAndGet()
          val t0 = System.nanoTime()
          build.write.mode("overwrite").parquet(p.toString)
          buildSecs.put((dir, name), (System.nanoTime() - t0) / 1e9)
          Tables.forget(spark, p.toString)
        }
      }
    }
    Tables.parquet(spark, p.toString)(identity)
  }
}
