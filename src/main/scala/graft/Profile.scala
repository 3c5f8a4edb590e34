package graft

/** Optimization-round profiler: for each named query, separate the cost
  * of building+planning the DataFrame from executing it (bench-identical
  * `.count()` action), and dump `.explain("formatted")` to a file so plan
  * claims are checkable without running Spark.
  *
  * Usage: runMain graft.Profile <sfDir> <outDir> [q1,q2,...|TOP<n>|ALL]
  *
  * Methodology matches Bench: same session configs, untimed table +
  * memo warm pass first, then per-query timings (each of the three
  * phases is the MIN over 3 tries, independently per phase — the
  * steady-state floor, not a median; splits can come from different
  * tries).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val sel = if (args.length > 2) args(2) else "ALL"
    val spark = GraftSession()
    // profiling an AMPLIFIED/scratch dataset must not write its
    // trainer fingerprints into the committed store (the ScaleLadder
    // discipline) — redirect when asked
    sys.env.get("SPARK_GRAFT_CKPT_ROOT")
      .foreach(r => Checkpoint.rootOverride = Some(r))
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    new java.io.File(outDir).mkdirs()

    val names: Seq[String] =
      if (sel == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else sel.split(',').toSeq

    Tables.all.foreach { t =>
      try Tables(spark, sfDir, t).count() catch { case _: Throwable => () }
    }
    // memo/ckpt warm pass over the SELECTED queries (bench warms all;
    // a selected profile only needs the frames its queries touch)
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[profile] warm $n failed: ${e.getMessage}")
      }
    }

    // Each row prints IMMEDIATELY (a crash loses nothing), and a query
    // that fails — e.g. value-range overflow on an AMPLIFIED scratch
    // dataset outside the oracle contract — is reported and skipped
    // instead of killing the whole profile.
    val rows = names.flatMap { n =>
      val fn = SparkEntry.queries(n)
      spark.sparkContext.setJobDescription(s"profile: $n")
      def once(): (Double, Double, Double) = {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        // force analysis+optimization+physical planning without executing
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.count()
        val t3 = System.nanoTime()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
      }
      val row =
        try {
          val tries = (1 to 3).map(_ => once())
          val build = tries.map(_._1).min
          val plan = tries.map(_._2).min
          val exec = tries.map(_._3).min
          // plan dump (already-optimized physical plan, formatted)
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$outDir/$n.txt"),
              txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          } catch { case _: Throwable => () }
          Some(f"$n%-28s build=$build%7.3f plan=$plan%7.3f exec=$exec%7.3f total=${build + plan + exec}%7.3f")
        } catch {
          case scala.util.control.NonFatal(e) =>
            Some(f"$n%-28s FAILED: ${Option(e.getMessage).filter(_.nonEmpty)
              .map(_.linesIterator.next()).getOrElse(e.getClass.getName)}")
        }
      row.foreach(r => println(s"[profile-row] $r"))
      row
    }
    spark.stop()
    rows.foreach(println)
  }
}
