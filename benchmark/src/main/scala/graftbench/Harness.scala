package graftbench

import java.io.{File, PrintWriter}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Checkpoint, SparkEntry, Tables}
import graft.query.{Engine, PseudoSql}

/** The benchmark's JVM side. `run.py` builds it together with the
  * program's sources and drives it; it only calls the program's public
  * entry points and Spark's public listener interfaces.
  *
  * Modes:
  *  - `meta <out.json>`: every `SparkEntry.queries` name and oracle SQL.
  *  - `amplify <src> <dest> <k>`: `graft.Amplify` of a dataset.
  *  - `run key=value...`: one workload run. Keys: `workload` (suite or
  *    truth), `seed`, `seconds`, `trace` (0 or 1), `data` (the dataset
  *    dir), `out` (where the records go), `store` (the model store
  *    `SPARK_GRAFT_CKPT_DIR` points at), `local` (Spark's local dir),
  *    `entries` (suite) and `pools`, `per_set` (truth).
  */
object Harness {
  private val mainNanos = System.nanoTime()

  def main(args: Array[String]): Unit = args.head match {
    case "meta" => meta(args(1))
    case "amplify" =>
      val spark = session(Map.empty)
      try graft.Amplify.amplify(spark, args(1), args(2), args(3).toInt)
      finally spark.stop()
    case "run" =>
      run(args.tail.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    case other => sys.error(s"unknown mode $other")
  }

  private def meta(out: String): Unit = {
    val oracle = SparkEntry.oracleSql
    val names = SparkEntry.queries.keys.toSeq.sorted
    write(out, Seq(Json.obj(Seq("names" -> names,
      "oracle" -> names.flatMap(n => oracle.get(n).map(n -> _)).toMap))))
  }

  /** A session from deployment settings only: cores, shuffle width,
    * local dirs, UI, time zone, the parquet timestamp mode and the
    * program's extensions. No tuning knob or mode flag of the program
    * is set, so the benchmark measures what a library caller gets. */
  def session(cfg: Map[String, String]): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
    cfg.get("local").foreach { d =>
      b.config("spark.local.dir", d).config("spark.sql.warehouse.dir", s"$d/warehouse")
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def write(path: String, lines: IterableOnce[String]): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try lines.iterator.foreach(w.println) finally w.close()
  }

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  private def run(cfg: Map[String, String]): Unit = {
    val workload = cfg("workload")
    val seed = cfg("seed").toLong
    val seconds = cfg("seconds").toDouble
    val traced = cfg("trace") == "1"
    val dir = cfg("data")
    val out = cfg("out")
    val store = new File(cfg("store"))
    val names: Seq[String] = cfg.get("entries").map(f =>
      scala.io.Source.fromFile(f).getLines().map(_.takeWhile(_ != '#').trim)
        .filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

    val spark = session(cfg)
    val nproc = Runtime.getRuntime.availableProcessors
    // op records stream to disk as they complete, so a run cut short
    // still shows how far it got
    val ops = new LineLog(s"$out/ops.jsonl")
    var queries: Seq[TruthGen.Query] = Seq.empty
    var trace: Option[Trace] = None

    val entries = SparkEntry.queries
    // end of the parse call inside a truth op's build step
    var parsedAt = 0L

    def timedCall(phase: String, pass: Int, name: String, split: Boolean)(
        build: => DataFrame): String = {
      val b0 = Checkpoint.builds.get
      val opId = trace.map(_.nextId()).getOrElse(0L)
      trace.foreach { t =>
        t.currentOp = opId
        spark.sparkContext.setJobGroup(s"graftbench-op-$opId", name)
      }
      val t0 = System.nanoTime()
      parsedAt = t0
      var t1, t2 = t0
      var rows = -1L
      var err: String = null
      try {
        val df = build
        t1 = System.nanoTime()
        if (split) df.queryExecution.executedPlan
        t2 = System.nanoTime()
        rows = if (workload == "truth") df.collect().head.getLong(0) else df.count()
      } catch {
        case NonFatal(e) =>
          err = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
            .linesIterator.toSeq.headOption.getOrElse("").take(300)
      }
      val t3 = System.nanoTime()
      if (t1 == t0) t1 = t3
      if (t2 < t1) t2 = t1
      trace.foreach { t =>
        t.span(opId, 0, opId, "op", name, t0, t3, "phase" -> phase, "pass" -> pass)
        if (workload == "truth") {
          t.span(t.nextId(), opId, opId, "query", "parse", t0, parsedAt)
          t.span(t.nextId(), opId, opId, "query", "build", parsedAt, t1)
        } else t.span(t.nextId(), opId, opId, "SparkEntry", "build", t0, t1)
        t.span(t.nextId(), opId, opId, "Catalyst", "plan", t1, t2)
        t.span(t.nextId(), opId, opId, "Spark", "exec", t2, t3)
        org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
        spark.sparkContext.clearJobGroup()
      }
      Json.obj(Seq("phase" -> phase, "pass" -> pass, "name" -> name,
        "parse" -> secs(t0, parsedAt), "build" -> secs(parsedAt, t1),
        "plan" -> secs(t1, t2), "exec" -> secs(t2, t3), "total" -> secs(t0, t3),
        "rows" -> rows, "err" -> err, "ckpt_builds" -> (Checkpoint.builds.get - b0)))
    }

    def entryOp(phase: String, pass: Int, name: String, split: Boolean): String =
      timedCall(phase, pass, name, split) {
        entries.getOrElse(name, sys.error(s"no such entry: $name"))(spark, dir)
      }

    def truthOp(phase: String, pass: Int, q: TruthGen.Query, split: Boolean): String =
      timedCall(phase, pass, q.id, split) {
        val query = PseudoSql.parse(q.sql)
        parsedAt = System.nanoTime()
        Engine.count(query, t => Tables(spark, dir, t))
      }

    /** Order of one suite pass: the seed permutes it, differently per pass. */
    def order[T](xs: Seq[T], pass: Int): Seq[T] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(xs)

    // ---- set-up: from the JVM's main entry to the first timed op ----
    val w0 = System.nanoTime()
    Tables.all.foreach(t => Tables(spark, dir, t).count())
    val tablesSecs = secs(w0, System.nanoTime())
    workload match {
      case "suite" =>
        // the untimed warm pass, one entry at a time like the timed passes:
        // run concurrently, it built the shared memos in an order that
        // changed from run to run, and the timed passes varied with it
        order(names, -1).foreach(n => ops += entryOp("warm", 0, n, split = false))
      case "truth" =>
        queries = TruthGen.generate(seed, TruthGen.readPools(cfg("pools")),
          cfg("per_set").toInt)
    }
    val setupSecs = secs(mainNanos, System.nanoTime())

    // ---- timed phase: whole passes until the time is used up ----
    def onePass(phase: String, pass: Int, split: Boolean): Double = {
      val p0 = System.nanoTime()
      workload match {
        // generated order: table sets in a fixed sequence, so the JVM's
        // warm-up falls on the same join shapes whatever the seed
        case "truth" => queries.foreach(q => ops += truthOp(phase, pass, q, split))
        case "suite" => order(names, pass).foreach(n => ops += entryOp(phase, pass, n, split))
      }
      secs(p0, System.nanoTime())
    }

    val walls = scala.collection.mutable.ArrayBuffer[Double]()
    val start = System.nanoTime()
    // `seconds=0` (the run that trains a store) stops after set-up
    while (seconds > 0 && (walls.isEmpty || secs(start, System.nanoTime()) < seconds))
      walls += onePass("timed", walls.size, split = false)
    val storage = spark.sparkContext.getRDDStorageInfo
    val cachedBytes = storage.map(r => r.memSize + r.diskSize).sum
    val counters = Seq(
      "cached_bytes" -> cachedBytes, "cached_rdds" -> storage.length,
      "ckpt_builds" -> Checkpoint.builds.get,
      "store_bytes" -> dirBytes(store))

    // The traced run repeats each timed pass with the listeners on, then
    // once more with them off: the overhead compares each traced pass with
    // the untraced pass right after it, so both sit at the same point of
    // the JIT and codegen warm-up.
    val tracedWalls, controlWalls = scala.collection.mutable.ArrayBuffer[Double]()
    if (traced) {
      val t = new Trace(store.getAbsolutePath)
      val sc = spark.sparkContext
      val r0 = System.nanoTime()
      for (pass <- walls.indices) {
        sc.addSparkListener(t.sparkListener)
        spark.listenerManager.register(t.planListener)
        trace = Some(t)
        tracedWalls += onePass("traced", pass, split = true)
        org.apache.spark.BenchAccess.drainListeners(sc)
        trace = None
        sc.removeSparkListener(t.sparkListener)
        spark.listenerManager.unregister(t.planListener)
        controlWalls += onePass("control", pass, split = false)
      }
      t.span(t.nextId(), -1, 0, "run", workload, r0, System.nanoTime())
      write(s"$out/spans.jsonl", t.lines)
    }

    ops.close()
    if (queries.nonEmpty) write(s"$out/queries.jsonl", queries.map(q => Json.obj(Seq(
      "id" -> q.id, "sql" -> q.sql, "tables" -> q.tables.size, "ops" -> q.ops))))
    write(s"$out/run.json", Seq(Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "setup_s" -> setupSecs,
      "tables_warm_s" -> tablesSecs, "pass_walls" -> walls.toSeq,
      "traced_walls" -> tracedWalls.toSeq, "control_walls" -> controlWalls.toSeq,
      "nproc" -> nproc, "heap_bytes" -> Runtime.getRuntime.maxMemory,
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version")) ++ counters)))
    spark.stop()
  }

  final class LineLog(path: String) {
    private val w = new PrintWriter(path, "UTF-8")
    def +=(line: String): Unit = { w.println(line); w.flush() }
    def close(): Unit = w.close()
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum else f.length
}
