package graft

import java.lang.ref.WeakReference
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import scala.jdk.CollectionConverters._

/** The session read cache shared by [[Tables]] and [[Checkpoint]]: a
  * read whose frame GC has collected is served again without a
  * schema-inference job, and no query bypasses the cache.
  */
class ReadCacheSpec extends SparkSpec {

  /** Spark jobs started while `f` runs; the listener bus is drained on
    * both sides so no event is counted late or early. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    GraftListenerBusDrain.drain(sc, 60000)
    sc.addSparkListener(l)
    try {
      val r = f
      GraftListenerBusDrain.drain(sc, 60000)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Runs `read` once and keeps only a weak ref to the frame and its
    * rows; a separate method, so no local slot of the caller pins it. */
  private def firstRead(read: => DataFrame): (WeakReference[DataFrame], Seq[String]) = {
    val df = read
    (new WeakReference(df), rows(df))
  }

  private def awaitCollected(ref: WeakReference[DataFrame]): Unit = {
    var tries = 0
    while (ref.get != null && tries < 50) { System.gc(); Thread.sleep(50); tries += 1 }
    assert(ref.get == null, "nothing but the cache should hold the first frame")
  }

  private def assertRereadRunsNoJob(read: => DataFrame): Unit = {
    val (ref, before) = firstRead(read)
    awaitCollected(ref)
    val (again, jobs) = jobsDuring(read)
    assert(jobs == 0, s"re-reading a collected frame ran $jobs Spark job(s); expected none")
    assert(rows(again) == before, "the re-read served different rows")
  }

  test("a collected Tables frame is re-read with no Spark job") {
    val s = spark.newSession()
    assertRereadRunsNoJob(Tables(s, sf, "customer"))
  }

  test("a collected Checkpoint artifact is re-read with no Spark job") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-read-cache").toString
    Checkpoint.rootOverride = Some(tmp)
    try {
      val s = spark.newSession()
      assertRereadRunsNoJob(
        Checkpoint(s, sf, "gcprobe")(7L)(s.range(5).toDF("id")))
    } finally {
      Checkpoint.rootOverride = None
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("no query file reads parquet around the Tables/Checkpoint cache") {
    val files = Option(new java.io.File("src/main/scala/graft").listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith("Queries") && f.getName.endsWith(".scala"))
    assert(files.nonEmpty, "found no src/main/scala/graft/Queries*.scala to audit")
    val bareRead = """\bread\s*\.\s*parquet\b""".r
    val offenders = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if bareRead.findFirstIn(line).isDefined
    } yield s"${f.getName}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "queries must read parquet through Tables/Checkpoint, which infer each schema " +
        s"once per session:\n${offenders.mkString("\n")}")
  }
}
