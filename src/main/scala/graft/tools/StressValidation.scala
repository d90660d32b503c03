package graft.tools

import graft.{GraftSession, Scratch}
import org.apache.spark.sql.streaming.Trigger

/** Flow-control stress runner — the analog of the reference's
  * `BackpressureStressValidation` CLI (BackpressureStressHarness.scala:
  * 16-54): drives a rate-limited stream and prints machine-readable
  * key=value lines with the bounded-work invariants.
  *
  * Reference invariants → here:
  *   - `queue_depth_max <= capacity`  →  rows per micro-batch never
  *     exceed the per-trigger file cap × rows-per-file (bounded work per
  *     batch is Structured Streaming's backpressure contract).
  *   - exactly-once terminal signal   →  total rows out == rows in.
  *
  * Run: sbt "runMain graft.tools.StressValidation [numFiles] [rowsPerFile] [filesPerTrigger]"
  */
object StressValidation {
  def main(args: Array[String]): Unit = {
    val numFiles = args.headOption.map(_.toInt).getOrElse(20)
    val rowsPerFile = args.drop(1).headOption.map(_.toInt).getOrElse(500)
    val filesPerTrigger = args.drop(2).headOption.map(_.toInt).getOrElse(2)
    val spark = GraftSession.build("graft-stress")
    import spark.implicits._

    // source files and checkpoint both live under one scratch tree,
    // removed when the run ends or fails
    Scratch.withDir("graft-stress") { base =>
      val src = new java.io.File(base, "src").getAbsolutePath
      val chk = new java.io.File(base, "chk").getAbsolutePath
      (0 until numFiles).foreach { i =>
        (0 until rowsPerFile).map(j => (i.toLong * rowsPerFile + j, i))
          .toDF("id", "file").coalesce(1).write.mode("append").parquet(src)
      }
      val t0 = System.nanoTime()
      val q = spark.readStream
        .schema("id LONG, file INT")
        .option("maxFilesPerTrigger", filesPerTrigger.toString)
        .parquet(src)
        .writeStream.format("memory").queryName("stress")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      val capacity = filesPerTrigger.toLong * rowsPerFile
      val maxBatch = if (batches.isEmpty) 0L else batches.map(_.numInputRows).max
      val totalOut = spark.table("stress").count()

      println(s"element_count=${numFiles.toLong * rowsPerFile}")
      println(s"files_per_trigger=$filesPerTrigger")
      println(s"batches=${batches.length}")
      println(s"batch_rows_max=$maxBatch")
      println(s"batch_capacity=$capacity")
      println(f"elapsed_ms=$elapsedMs%.1f")
      println(s"rows_out=$totalOut")
      println(s"invariant_bounded_batches=${maxBatch <= capacity}")
      println(s"invariant_exactly_once=${totalOut == numFiles.toLong * rowsPerFile}")
      require(maxBatch <= capacity, "bounded-batch invariant violated")
      require(totalOut == numFiles.toLong * rowsPerFile, "row-count invariant violated")
    }
    spark.stop()
  }
}
