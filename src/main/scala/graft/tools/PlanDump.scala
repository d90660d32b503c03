package graft.tools

import graft.GraftSession
import graft.queries.{Registry, StreamingQueries}

/** Prints `explain("formatted")` for the named queries, resolving
  * s-queries to their un-executed audit-mode lineage (the batch-planned
  * pre-sink frame(s) from [[StreamingQueries.auditFrames]]) instead of
  * the memory-sink LocalTableScan the registered run returns — the
  * registered streaming run executes the stream and its returned frame
  * says nothing about the computation. Used to produce the committed
  * plan evidence under the plans/ directory. With no query names it
  * prints a default audit set: scan pruning (`ReadSchema`), predicate
  * pushdown (`PushedFilters`), join strategy and whole-stage-codegen
  * coverage across the query families.
  * Run: sbt "runMain graft.tools.PlanDump [--executed] [sfDir] [query ...]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    // --executed: run the query (executeCollect) and print the FINAL
    // adaptive plan instead of the static one — the only view that
    // shows AQE's actual join-strategy/partition decisions (a static
    // explain prints isFinalPlan=false estimates, which round 17
    // caught mis-predicting a probe join's strategy at sf0.1).
    val executed = args.contains("--executed")
    val rest = args.filterNot(_ == "--executed")
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (rest.length > 1) rest.tail.toSeq
      else Seq("q01_pricing_summary", "q02_join_agg", "q03_multi_join",
        "c02_filter", "w01_tumbling_window", "n03_dedup_minhash_lsh",
        "n27_dup_ngram_coverage", "n31_semdedup", "q36_salted_join")
    val spark = GraftSession.build("graft-plandump")
    // audit frames are batch plans over streaming-shaped lineage
    spark.conf.set("spark.sql.streaming.unsupportedOperationCheck", "false")
    lazy val audit = StreamingQueries.auditFrames(spark, sfDir).toMap
    names.foreach { name =>
      println(s"\n=== $name ===")
      if (name.startsWith("s") && audit.contains(name)) {
        val frames = audit(name)
        frames.zipWithIndex.foreach { case (f, i) =>
          if (frames.size > 1) println(s"--- audit frame $i ---")
          f.explain("formatted")
        }
      } else {
        val df = Registry.queries(name)(spark, sfDir)
        if (executed) {
          val qe = df.queryExecution
          qe.executedPlan.executeCollect()
          println(qe.executedPlan.toString)
          graft.GraftSession.dropAllBlocks(spark)
        } else df.explain("formatted")
      }
    }
    spark.stop()
  }
}
