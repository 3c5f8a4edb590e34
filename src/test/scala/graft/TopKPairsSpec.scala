package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TopKPairs

/** Seeded property test: the bounded top-k aggregate selects exactly
  * the rows `row_number() OVER (PARTITION BY g ORDER BY key [DESC], id)
  * <= k` selects, in rank order, including on NaN, ±0.0 and ±Infinity
  * keys (Spark's SQL double ordering: NaN greatest and equal to NaN,
  * -0.0 equal to 0.0).
  */
class TopKPairsSpec extends SparkSpec {
  import spark.implicits._

  private val edgeKeys =
    Array(Double.NaN, -0.0, 0.0, Double.PositiveInfinity, Double.NegativeInfinity, 1.0, -1.0)

  /** `groups` groups of 1..12 rows each; half the keys are edge values
    * so ties (on NaN, on ±0.0, on infinities) are frequent. Ids are
    * unique, so the (key, id) order is total. */
  private def cases(seed: Long, groups: Int): Seq[(Long, Double, Long)] = {
    val rnd = new scala.util.Random(seed)
    var id = 0L
    (0 until groups).flatMap { g =>
      Seq.fill(1 + rnd.nextInt(12)) {
        val key =
          if (rnd.nextBoolean()) edgeKeys(rnd.nextInt(edgeKeys.length))
          else rnd.nextInt(5) - 2.0
        id += 1 + rnd.nextInt(3)
        (g.toLong, key, id)
      }
    }
  }

  for (descKey <- Seq(false, true); k <- Seq(1, 3)) {
    test(s"TopKPairs(k=$k, descKey=$descKey) equals the row_number window on NaN/±0.0/±Inf keys") {
      val rows = cases(seed = 17L * k + (if (descKey) 1 else 0), groups = 300)
      // shuffled across partitions so partial buffers merge in varied orders
      val df = new scala.util.Random(k).shuffle(rows).toDF("g", "key", "id").repartition(4)
      val order = if (descKey) col("key").desc else col("key").asc
      val viaWindow = df
        .withColumn("rn", row_number().over(Window.partitionBy(col("g")).orderBy(order, col("id"))))
        .filter(col("rn") <= k)
        .select(col("g"), col("rn").cast("long"), col("id"))
        .as[(Long, Long, Long)].collect().toSet
      val topk = udaf(new TopKPairs(k, descKey))
      val viaAgg = df.groupBy(col("g")).agg(topk(col("key"), col("id")).as("top"))
        .select(col("g"), posexplode(col("top")))
        .select(col("g"), (col("pos") + 1).cast("long"), col("col._2"))
        .as[(Long, Long, Long)].collect().toSet
      val extra = viaAgg diff viaWindow
      val missing = viaWindow diff viaAgg
      assert(extra.isEmpty && missing.isEmpty,
        s"(g, rank, id) only in the aggregate: ${extra.take(5)}; only in the window: ${missing.take(5)}")
    }
  }
}
