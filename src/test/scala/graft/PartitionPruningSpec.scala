package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Partition pruning: hive-style partitioned layout + a partition-key
  * predicate must prune at planning time (`PartitionFilters`), reading
  * only the matching directories — the other half of scan efficiency
  * next to PushedFilters (SourceFormatsSpec).
  */
class PartitionPruningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("year-partitioned writes prune to the selected partition") {
    val dir = Files.createTempDirectory("graft-part").toFile.getAbsolutePath
    val t = Tables(spark, "/root/testdata/sf0.001")
    val withYear = t.orders.withColumn("y", year(col("o_orderdate")))
    withYear.write.partitionBy("y").mode("overwrite").parquet(dir)
    val years = withYear.select("y").distinct()
      .collect().map(_.getInt(0)).sorted
    assert(years.length > 1, "need multiple partitions for the test to mean anything")
    val target = years.head

    val pruned = spark.read.parquet(dir).filter(col("y") === target)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      s"\\(y#\\d+ = $target\\)".r.findFirstIn(plan).isDefined,
      s"partition filter must prune at the scan:\n${plan.take(1500)}")
    val want = withYear.filter(col("y") === target).count()
    assert(pruned.count() == want)
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    // the star-join scan optimization at 100 TB: the fact side is
    // partitioned on the join key; the dimension's selective filter is
    // broadcast as a runtime subquery so only matching fact partitions
    // are ever read — no static predicate on the fact exists to push
    val dir = Files.createTempDirectory("graft-dpp").toFile.getAbsolutePath
    val t = Tables(spark, "/root/testdata/sf0.001")
    val fact = t.orders.withColumn("y", year(col("o_orderdate")))
    fact.write.partitionBy("y").mode("overwrite").parquet(dir)
    val years = fact.select("y").distinct().collect().map(_.getInt(0)).sorted
    import spark.implicits._
    // the dim must be file-backed: a LocalRelation dim gets its filter
    // constant-folded away (ConvertToLocalRelation) and the DPP rule no
    // longer sees a selective predicate to prune with
    val dimDir = Files.createTempDirectory("graft-dpp-dim").toFile.getAbsolutePath
    years.map(y => (y, if (y == years.head) "pick" else "skip"))
      .toSeq.toDF("y", "label").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)

    GraftSession.withConf(spark,
        "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true") {
      val joined = spark.read.parquet(dir)
        .join(dim.filter(col("label") === "pick"), "y")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
        s"fact scan must carry a dynamicpruning subquery:\n${plan.take(1500)}")
      val want = fact.filter(col("y") === years.head).count()
      assert(joined.count() == want)
    }
  }
}
