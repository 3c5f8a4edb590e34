package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Metrics
import graft.sources.Sources

class SourcesMetricsSpec extends SparkSpec {
  import spark.implicits._

  test("readCsv honors the explicit schema without an inference pass") {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "t.csv")
    Files.writeString(f.toPath, "id,name,score\n1,alpha,1.5\n2,beta,2.5\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val got = Sources.readCsv(spark, f.getPath, schema)
    assert(got.schema == schema)
    assert(got.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "alpha", 1.5), (2L, "beta", 2.5)))
  }

  test("jsonl roundtrip preserves schema and rows") {
    val path = Files.createTempDirectory("graft_jsonl").toString + "/docs"
    val docs = Tables(spark, sf, "documents").limit(20)
    Sources.writeJsonl(docs, path)
    val back = Sources.readJsonl(spark, path, docs.schema)
    assert(back.schema == docs.schema)
    assert(back.count() == 20)
    assert(
      back.select("doc_id", "text").as[(Long, String)].collect().toSet ==
        docs.select("doc_id", "text").as[(Long, String)].collect().toSet)
  }

  test("orc roundtrip preserves schema, rows, and pushes filters down") {
    val path = Files.createTempDirectory("graft_orc").toString + "/li"
    val li = Tables(spark, sf, "lineitem").limit(1000)
    Sources.writeOrc(li, path)
    val back = Sources.readOrc(spark, path)
    assert(back.schema == li.schema)
    assert(back.count() == 1000)
    val plan = back.filter(col("l_quantity") > 30)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_quantity"), plan)
  }

  test("materialized builds once, then reads the parquet cache") {
    val path = Files.createTempDirectory("graft_mat").toString + "/cache"
    var builds = 0
    def build = { builds += 1; Seq((1L, "x"), (2L, "y")).toDF("k", "v") }
    val first = Sources.materialized(spark, path)(build)
    assert(first.count() == 2 && builds == 1)
    val second = Sources.materialized(spark, path)(build)
    assert(second.count() == 2 && builds == 1) // cache hit — no rebuild
  }

  test("writeParquet with partitioning prunes by partition column") {
    val path = Files.createTempDirectory("graft_part").toString + "/t"
    Sources.writeParquet(
      Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("k", "part"), path, Seq("part"))
    val back = Sources.readParquet(spark, path)
    assert(back.filter(col("part") === "a").count() == 2)
    // partition pruning shows up as PartitionFilters in the physical scan
    val plan = back.filter(col("part") === "a")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
  }

  test("bucketed tables join without a shuffle exchange") {
    val base = Files.createTempDirectory("graft_bucket").toString
    val left = (1L to 1000L).map(i => (i, s"o$i")).toDF("custkey", "o")
    val right = (1L to 200L).map(i => (i, s"c$i")).toDF("custkey", "c")
    Sources.writeBucketed(left, "graft_orders_b", s"$base/o", "custkey", 4)
    Sources.writeBucketed(right, "graft_cust_b", s"$base/c", "custkey", 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
      val joined = spark.table("graft_orders_b")
        .join(spark.table("graft_cust_b"), "custkey")
      assert(joined.collect().length == 200) // executes → AQE final plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_orders_b")
      spark.sql("DROP TABLE IF EXISTS graft_cust_b")
    }
  }

  test("quantilesNearest matches pandas nearest-interpolation semantics") {
    val df = (1 to 101).map(_.toDouble).toDF("v")
    val got = Metrics.quantilesNearest(df, "v")
      .as[(Double, Double)].collect().toMap
    assert(got(0.5) == 51.0)
    assert(got(0.9) == 91.0)
    assert(got(0.95) == 96.0)
    assert(got(0.99) == 100.0)
    assert(got(1.0) == 101.0)
  }

  test("qError is symmetric and ≥ 1") {
    // zeros follow calc_q_err (run.py:60-67): the nonzero side, or 1
    val df = Seq((10.0, 100.0), (100.0, 10.0), (5.0, 5.0),
      (0.0, 5.0), (5.0, 0.0), (0.0, 0.0)).toDF("est", "truth")
    val got = df.select(Metrics.qError(col("est"), col("truth")).as("q"))
      .as[Double].collect().toSeq
    assert(got == Seq(10.0, 10.0, 1.0, 5.0, 5.0, 1.0))
  }
}
