package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The r18 hash-bucketed standing-state layout
  * (`Dedup.appendBucketed` / `Dedup.readProbedBuckets`): probing must
  * return every state row whose key equals a probe key (pruning can
  * never drop a matching row), the single-bucket fast path must be
  * layout-compatible with the multi-bucket path, and the probe must
  * physically read only the probed bucket directories.
  */
class BucketedStateSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val root = java.nio.file.Files
    .createTempDirectory("graft_bucket_spec_")

  override def afterAll(): Unit = Scratch.deleteTree(root.toFile)

  private val dirs = new java.util.concurrent.atomic.AtomicInteger()

  /** A fresh, not yet existing state dir (kept short: the probe test
    * reads bucket names out of the plan's abbreviated scan location).
    */
  private def tmp(): String =
    new java.io.File(root.toFile, s"s${dirs.incrementAndGet()}")
      .getAbsolutePath

  private val D = graft.operators.Dedup

  test("multi-bucket probe returns exactly the key-matching rows") {
    val dir = tmp()
    val state = (0L until 200L)
      .map(i => (i, s"key-${i % 50}")).toDF("doc_id", "band_key")
    D.appendBucketed(state, dir, "band_key", buckets = 4)
    // every bucket dir exists and data files exclude the bucket column
    assert((0 until 4).count(b =>
      new java.io.File(dir, s"bucket=$b").isDirectory) >= 2)
    val probe = Seq("key-3", "key-17").toDF("band_key")
    val empty = state.filter(lit(false))
    val got = D.readProbedBuckets(spark, dir, probe, empty, buckets = 4)
    // superset of the matching rows (the prune is by bucket, so other
    // keys in probed buckets ride along — the equi-join drops them)
    val keys = got.select("band_key").distinct()
      .collect().map(_.getString(0)).toSet
    assert(Set("key-3", "key-17").subsetOf(keys))
    // and the join result equals the unpruned join
    val full = spark.read.parquet(
      (0 until 4).map(b => s"$dir/bucket=$b"): _*)
      .join(probe, "band_key").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val pruned = got.join(probe, "band_key").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(pruned == full)
    assert(pruned.size == 8) // 4 docs per key × 2 keys
  }

  test("probe physically reads only the probed bucket dirs") {
    val dir = tmp()
    val state = (0L until 100L)
      .map(i => (i, s"key-$i")).toDF("doc_id", "band_key")
    D.appendBucketed(state, dir, "band_key", buckets = 8)
    val probe = Seq("key-7").toDF("band_key")
    val empty = state.filter(lit(false))
    val got = D.readProbedBuckets(spark, dir, probe, empty, buckets = 8)
    val scannedPaths = got.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.toString.linesIterator.filter(_.contains("Location")))
      .mkString("\n")
    // exactly one bucket dir in the scan location (the probe key's)
    assert("bucket=".r.findAllIn(scannedPaths).size == 1, scannedPaths)
  }

  test("single-bucket fast path is layout-compatible") {
    val dir = tmp()
    val a = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "band_key")
    D.appendBucketed(a, dir, "band_key", buckets = 1)
    D.appendBucketed(Seq((3L, "z")).toDF("doc_id", "band_key"),
      dir, "band_key", buckets = 1)
    val empty = a.filter(lit(false))
    val got = D.readProbedBuckets(spark, dir,
      Seq("x", "z").toDF("band_key"), empty, buckets = 1)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L)) // B=1: everything in bucket 0
  }

  test("missing state dir yields the empty schema frame") {
    val dir = tmp() + "_never_written"
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "band_key")
    val got = graft.operators.Dedup.readProbedBuckets(spark, dir,
      Seq("x").toDF("band_key"), empty, buckets = 4)
    assert(got.columns.toSeq == Seq("doc_id", "band_key"))
    assert(got.count() == 0)
  }

  test("a bucket count other than the recorded one fails loudly") {
    val dir = tmp()
    val state = (0L until 40L)
      .map(i => (i, s"key-$i")).toDF("doc_id", "band_key")
    D.appendBucketed(state, dir, "band_key", buckets = 4)
    val marker = new java.io.File(dir, "_buckets")
    assert(new String(java.nio.file.Files.readAllBytes(marker.toPath)).trim == "4")
    val probe = Seq("key-3").toDF("band_key")
    val empty = state.filter(lit(false))
    val onAppend = intercept[IllegalArgumentException](
      D.appendBucketed(state, dir, "band_key", buckets = 8))
    assert(onAppend.getMessage.contains("written with 4 buckets"))
    val onProbe = intercept[IllegalArgumentException](
      D.readProbedBuckets(spark, dir, probe, empty, buckets = 1))
    assert(onProbe.getMessage.contains("this run uses 1"))
    // the matching count still appends and probes, and the state root
    // reads as data only (the record is not a data file)
    D.appendBucketed(state, dir, "band_key", buckets = 4)
    assert(D.readProbedBuckets(spark, dir, probe, empty, buckets = 4)
      .filter(col("band_key") === "key-3").count() == 2)
    assert(spark.read.parquet(dir).count() == 80)
    // buckets with no record cannot be checked, so they are refused
    marker.delete()
    intercept[IllegalArgumentException](
      D.readProbedBuckets(spark, dir, probe, empty, buckets = 4))
  }
}
