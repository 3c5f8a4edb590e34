package graft

/** Full-store stale-artifact audit (the CheckpointSpec rebuild-diff
  * extended to EVERY committed key, including the sf0.1 keys only the
  * bench serves): for each dataset directory named by a committed
  * `<ds>-<fingerprint>` store key, rebuild every artifact from scratch
  * into a temp root (same trainers, same fingerprints) and diff the
  * result value-for-value against the committed store — both
  * directions, so a stale committed value, a committed key no rebuild
  * produces, and a rebuilt key missing from the committed store are
  * all named. Writes STORE_AUDIT.json (committed per round).
  *
  * Usage: runMain graft.StoreAudit [testdataRoot] — dataset dirs are
  * resolved as <testdataRoot>/<ds>.
  */
object StoreAudit {
  def main(args: Array[String]): Unit = {
    val tdRoot = if (args.nonEmpty) args(0) else "/root/testdata"
    val committedRoot =
      new java.io.File("models/graft_ckpt", Checkpoint.schemaVersion)
    val spark = GraftSession()

    val dsDirs = Option(committedRoot.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).sorted
    // `<ds>-<fingerprint>` → dataset basename (fingerprint is numeric)
    val datasets = dsDirs.map(_.replaceAll("-\\d+$", "")).distinct

    val tmp = java.nio.file.Files.createTempDirectory("graft-store-audit").toString
    Checkpoint.rootOverride = Some(tmp)
    val report = new StringBuilder
    var bad = 0
    try {
      // a committed key whose dataset is gone cannot be rebuilt: name it
      // and fail the audit rather than abort the loop mid-report
      val (present, orphaned) =
        datasets.partition(ds => new java.io.File(s"$tdRoot/$ds").isDirectory)
      for (ds <- orphaned) {
        bad += 1
        report.append(s"""${if (report.nonEmpty) "," else ""}"$ds":{"missing_dataset_dir":"$tdRoot/$ds"}""")
        println(s"[store-audit] $ds: no dataset dir under $tdRoot")
      }
      for (ds <- present) {
        val dir = s"$tdRoot/$ds"
        val s = spark.newSession()
        // model_store's catalog live-probes every artifact → rebuilds
        // the complete store for this dataset under the temp root
        val t0 = System.nanoTime()
        SparkEntry.queries("model_store")(s, dir).collect()
        val sec = (System.nanoTime() - t0) / 1e9
        val rebuiltRoot = new java.io.File(tmp, Checkpoint.schemaVersion)
        def keys(root: java.io.File): Set[String] =
          (for {
            d <- Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
            if d.isDirectory && d.getName.startsWith(s"$ds-")
            a <- Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
            if a.isDirectory
          } yield s"${d.getName}/${a.getName}").toSet
        val rb = keys(rebuiltRoot)
        val cm = keys(committedRoot)
        val missing = rb -- cm // rebuilt but not committed
        val extra = cm -- rb // committed but no rebuild produces it
        val diffs = (rb & cm).toSeq.sorted.filter { k =>
          val a = spark.read.parquet(new java.io.File(rebuiltRoot, k).getPath)
            .collect().map(_.toString).sorted.toSeq
          val b = spark.read.parquet(new java.io.File(committedRoot, k).getPath)
            .collect().map(_.toString).sorted.toSeq
          a != b
        }
        bad += missing.size + extra.size + diffs.size
        def arr(s: Iterable[String]) =
          s.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
        report.append(
          s"""${if (report.nonEmpty) "," else ""}"$ds":{"checked":${(rb & cm).size},""" +
            s""""rebuild_sec":${"%.1f".formatLocal(java.util.Locale.ROOT, sec)},""" +
            s""""stale":${arr(diffs)},"uncommitted":${arr(missing)},""" +
            s""""unreproduced":${arr(extra)}}""")
        println(s"[store-audit] $ds: ${(rb & cm).size} checked, " +
          s"${diffs.size} stale, ${missing.size} uncommitted, ${extra.size} unreproduced")
      }
    } finally Checkpoint.rootOverride = None
    val json =
      s"""{"version":"${Checkpoint.schemaVersion}","ok":${bad == 0},${report.toString}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("STORE_AUDIT.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    spark.stop()
    println(s"""{"store_audit_ok":${bad == 0},"detail":"STORE_AUDIT.json"}""")
    if (bad > 0) sys.exit(1)
  }
}
