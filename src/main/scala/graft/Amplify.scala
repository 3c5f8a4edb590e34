package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic k× amplifier for the scale ladder (SCALE_LADDER.json):
  * derives a k-times-larger variant of a TESTDATA directory into a
  * scratch root (TESTDATA itself is read-only) by unioning k
  * key-remapped copies of every table. Copy 0 is the original data;
  * copy c offsets every key/identity column by c × [[stride]], so
  * referential integrity and per-copy join topology are preserved
  * exactly while cross-copy keys never collide.
  *
  * Content decorrelation (documented drift caveats):
  *  - `documents.text` is remapped per copy onto a natural-entropy
  *    token space via md5 over each word's trigram context + a
  *    copy-specific salt (the PairGrowthAuditSpec "natural-entropy
  *    variant" construction). This is applied to EVERY copy including
  *    copy 0, so every ladder rung measures the same vocabulary
  *    regime — the ~10k-token distinct-trigram regime of natural text,
  *    which is the regime a 100 TB corpus actually presents. Exact
  *    duplicates within a copy stay exact duplicates; different salts
  *    decorrelate copies, so candidate-pair growth measures BLOCKING
  *    behavior, not artificial cross-copy twinhood.
  *  - `embeddings.embedding` gets a per-copy deterministic coordinate
  *    sign-flip pattern (md5 over (copy, coordinate)): norms and all
  *    intra-copy geometry are preserved bit-exactly, inter-copy
  *    cosines decorrelate. Copy 0 is the identity pattern.
  *  - dimension tables (region, nation) are shared, as at any scale.
  *
  * Usage: runMain graft.Amplify <srcDir> <destDir> <k>
  */
object Amplify {

  /** Key offset stride between copies — far above any sf0.1 key. */
  val stride = 1000000000L

  /** Identity/key columns offset per copy, per table. */
  val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private def remapText(salt: Int) = expr(
    s"""array_join(transform(split(lower(text), ' '), (w, i) ->
       |  concat('w', substring(md5(concat_ws(' ',
       |    ws[int(greatest(i - 2, 0))],
       |    ws[int(greatest(i - 1, 0))], w, 's$salt')), 1, 4))), ' ')""".stripMargin)

  private def signFlip(c: Int) = expr(
    s"""transform(embedding, (x, j) ->
       |  CASE WHEN cast(conv(substring(md5(concat('flip:$c:', j)), 1, 13), 16, 10)
       |            as bigint) % 2 = 0 THEN x ELSE -x END)""".stripMargin)

  def amplify(spark: SparkSession, src: String, dest: String, k: Int): Unit = {
    val done = new java.io.File(dest, "_AMPLIFIED")
    if (done.exists()) return
    new java.io.File(dest).mkdirs()
    for (t <- Tables.all) {
      val base = spark.read.parquet(s"$src/$t.parquet")
      val out =
        if (!keyCols.contains(t)) base // shared dimensions
        else (0 until k).map { c =>
          val offset = keyCols(t).foldLeft(base)((d, kc) =>
            d.withColumn(kc, col(kc) + lit(c * stride)))
          t match {
            case "documents" =>
              offset
                .withColumn("ws", split(lower(col("text")), " "))
                .withColumn("text", remapText(c))
                .drop("ws")
                .withColumn("n_chars", length(col("text")))
            case "embeddings" =>
              if (c == 0) offset
              else offset.withColumn("embedding", signFlip(c))
            case _ => offset
          }
        }.reduce(_.unionAll(_))
      out.write.mode("overwrite").parquet(s"$dest/$t.parquet")
    }
    java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
  }

  def main(args: Array[String]): Unit = {
    val Array(src, dest, kStr) = args.take(3)
    val spark = GraftSession()
    amplify(spark, src, dest, kStr.toInt)
    spark.stop()
  }
}
