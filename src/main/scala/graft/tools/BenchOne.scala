package graft.tools

import graft.GraftSession
import graft.queries.Registry
import org.apache.spark.graft.Jobs

/** Repeat-bench for single queries: runs each named query `reps` times
  * in one JVM (after one warmup) and prints min/median — min is the
  * contention-robust statistic on a noisy host, median shows spread —
  * and the Spark jobs one run starts (median over the reps).
  * Run: sbt "runMain graft.tools.BenchOne <sfDir> <reps> <query> [query ...]"
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val names = args.drop(2).toSeq
    require(names.nonEmpty, "usage: BenchOne <sfDir> <reps> <query> [query ...]")
    val spark = GraftSession.build("graft-bench-one")
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val fn = Registry.queries(name)
      def once(): (Int, Double) = {
        // COLD=1 reproduces the Bench main's measurement (cache cleared
        // before each run, so persisted diamond intermediates recompute;
        // RDD-layer checkpoint blocks reaped too, same as Bench)
        if (sys.env.get("SPARK_GRAFT_COLD").contains("1"))
          GraftSession.dropAllBlocks(spark)
        Jobs.counted(spark.sparkContext) {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
      }
      once() // warmup
      val runs = Seq.fill(reps)(once())
      val jobs = runs.map(_._1).sorted
      val times = runs.map(_._2).sorted
      println(f"$name%-28s min=${times.head}%.3f median=${times(times.size / 2)}%.3f " +
        s"jobs=${jobs(jobs.size / 2)} reps=$reps")
    }
    spark.stop()
  }
}
