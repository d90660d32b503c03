package graft

import java.io.{File, FileNotFoundException}
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import graft.streaming.EventTimeWindows
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext,
  Path}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalCheckpointFs]], the engine's `file:` FileContext binding:
  * streaming checkpoints written through it start no `chmod` or
  * `readlink` process, it answers like stock `LocalFs` (kept here as
  * the reference), and a checkpoint resumes across the two bindings in
  * either direction.
  */
class LocalCheckpointFsSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val implKey = "fs.AbstractFileSystem.file.impl"
  private val stock = classOf[LocalFs].getName
  private val root = Files.createTempDirectory("graft_ckfs_spec_").toFile

  override def afterAll(): Unit = Scratch.deleteTree(root)

  private def dir(name: String): File = {
    val d = new File(root, name); d.mkdirs(); d
  }

  /** The commands of every process the JVM starts while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile(root.toPath, "forks", ".jfr")
    rec.dump(dump)
    rec.close()
    jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
      .map(_.getString("command"))
  }

  /** Three batches of a checkpointed sliding-window aggregation with a
    * watermark: offsets, commits and state deltas on every batch. */
  private def threeBatches(ckpt: File): Unit = {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Long)]
    val q = EventTimeWindows.slidingAgg(input.toDF().toDF("ts", "k", "v"),
        "ts", "k", "v", "10 seconds", "5 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName(s"ckfs_${ckpt.getParentFile.getName}")
      .option("checkpointLocation", ckpt.getAbsolutePath).start()
    try {
      Seq(0L, 20L, 40L).foreach { t =>
        input.addData((new Timestamp(t * 1000), "a", t), (new Timestamp(t * 1000), "b", 1L))
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(new File(ckpt, "commits/2").isFile, s"no third commit under $ckpt")
  }

  private def isFork(cmd: String): Boolean =
    cmd.startsWith("chmod") || cmd.startsWith("readlink")

  test("a checkpointed watermark aggregation starts no chmod or readlink process") {
    val forks = processStarts(threeBatches(new File(dir("engine"), "ckpt")))
      .filter(isFork)
    assert(forks.isEmpty, s"${forks.size} forks, e.g. ${forks.take(3)}")
    // the recorder does see them on the stock binding
    val stockForks = GraftSession.withConf(spark, implKey -> stock) {
      processStarts(threeBatches(new File(dir("stock"), "ckpt")))
    }.filter(isFork)
    assert(stockForks.size >= 3, s"stock LocalFs: ${stockForks.size} forks")
  }

  test("the binding reaches newHadoopConf on an existing SparkContext") {
    val engine = classOf[LocalCheckpointFs].getName
    val shared = TestSpark.spark
    assert(shared.sessionState.newHadoopConf().get(implKey) == engine)
    org.apache.spark.graft.TestContextConf.without(shared.sparkContext, implKey) {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      try {
        val built = GraftSession.build("graft-ckfs-spec")
        assert(built ne shared)
        assert(built.sessionState.newHadoopConf().get(implKey) == engine)
      } finally {
        SparkSession.setDefaultSession(shared)
        SparkSession.setActiveSession(shared)
      }
    }
  }

  private def hadoopConf(impl: String): Configuration = {
    val conf = new Configuration()
    conf.set(implKey, impl)
    conf
  }

  private def mode(f: File): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))

  /** What `fc` answers for `p`: the fields a checkpoint reader looks at
    * (FileStatus.equals compares the path only), or the exception. */
  private def linkStatus(fc: FileContext, p: Path): Either[Class[_], Any] =
    try {
      val s = fc.getFileLinkStatus(p)
      Right((s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
        s.getModificationTime, s.getPermission,
        if (s.isSymlink) Some(s.getSymlink) else None))
    } catch { case e: java.io.IOException => Left(e.getClass) }

  test("creates, renames and link status answer like stock LocalFs") {
    val engine = classOf[LocalCheckpointFs].getName
    val fcs = Seq(stock, engine).map(i => FileContext.getFileContext(hadoopConf(i)))
    assert(fcs(0).getDefaultFileSystem.isInstanceOf[LocalFs])
    assert(fcs(1).getDefaultFileSystem.isInstanceOf[LocalCheckpointFs])
    val trees = Seq(stock, engine).zip(fcs).map { case (impl, fc) =>
      val d = dir(s"equivalence/${impl.split('.').last}")
      fc.mkdir(new Path(new File(d, "a/b").toURI), FsPermission.getDirDefault, true)
      val out = fc.create(new Path(new File(d, "a/b/data").toURI),
        EnumSet.of(CreateFlag.CREATE), CreateOpts.createParent())
      out.write(Array[Byte](1, 2, 3)); out.close()
      assert(new File(d, "a/b/.data.crc").isFile, s"$impl: no .crc sidecar")
      // Spark's checkpoint writer: a temp file, then a rename
      val mgr = CheckpointFileManager.create(new Path(d.toURI), hadoopConf(impl))
      val log = new File(d, "a/b/log")
      def atomic(text: String, overwrite: Boolean): Unit = {
        val s = mgr.createAtomic(new Path(log.toURI), overwrite)
        s.write(text.getBytes); s.close()
      }
      atomic("first", overwrite = false)
      intercept[FileAlreadyExistsException](atomic("second", overwrite = false))
      assert(Files.readString(log.toPath) == "first", impl)
      atomic("third", overwrite = true)
      assert(Files.readString(log.toPath) == "third", impl)
      assert(new File(d, "a/b/.log.crc").isFile, s"$impl: no .crc for the log")
      d -> Seq("a", "a/b", "a/b/data", "a/b/log").map(f => mode(new File(d, f)))
    }
    assert(trees(0)._2 == trees(1)._2)
    assert(trees(1)._2 == Seq("rwxr-xr-x", "rwxr-xr-x", "rw-r--r--", "rw-r--r--"))

    val d = trees(1)._1
    val link = new File(d, "link")
    Files.createSymbolicLink(link.toPath, new File(d, "a/b/data").toPath)
    // a file, a dir, a missing path, a symlink qualified (the form
    // Spark passes) and plain
    val paths = Seq(new File(d, "a/b/data"), new File(d, "a"),
      new File(d, "missing"), link).map(f => new Path(f.toURI)) :+
      new Path(link.getAbsolutePath)
    val answers = paths.map(p => fcs.map(linkStatus(_, p)))
    answers.zip(paths).foreach { case (Seq(s, e), p) => assert(s == e, p) }
    assert(answers(2).head == Left(classOf[FileNotFoundException]))
    assert(answers.patch(2, Nil, 1).forall(_.head.isRight))
  }

  /** The s17 pattern: phase 1 consumes half the staged files and stops,
    * phase 2 restarts from the same checkpoint with those files gone
    * and the rest added. The complete-mode answer equals the batch
    * aggregate only if the state and offsets written under the first
    * binding were read back under the second. */
  private def resumeAcross(first: String, second: String): Unit = {
    val base = dir(s"resume_${first.split('.').last}")
    val (stage, in, ckpt) = (new File(base, "stage"), dir(base.getName + "/in"),
      new File(base, "ckpt"))
    spark.range(0, 2000).selectExpr("cast(id % 7 as string) as k", "id as v")
      .repartition(4).write.parquet(stage.getAbsolutePath)
    val parts = stage.listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    def run(impl: String): DataFrame = GraftSession.withConf(spark, implKey -> impl) {
      queries.StreamingQueries.runToTable(
        spark.readStream.schema("k STRING, v LONG").parquet(in.getAbsolutePath)
          .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s")),
        "complete", Some(ckpt.getAbsolutePath))
    }
    def rows(df: DataFrame): Seq[Row] = df.orderBy("k").collect().toSeq
    val (phase1, phase2) = parts.splitAt(2)
    phase1.foreach(f => Files.copy(f.toPath, new File(in, f.getName).toPath))
    run(first)
    phase1.foreach(f => new File(in, f.getName).delete())
    phase2.foreach(f => Files.copy(f.toPath, new File(in, f.getName).toPath))
    val got = rows(run(second))
    val want = rows(spark.read.parquet(stage.getAbsolutePath)
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s")))
    assert(want.size == 7 && got == want)
  }

  test("a checkpoint written under stock LocalFs resumes under the engine binding") {
    resumeAcross(stock, classOf[LocalCheckpointFs].getName)
  }

  test("a checkpoint written under the engine binding resumes under stock LocalFs") {
    resumeAcross(classOf[LocalCheckpointFs].getName, stock)
  }
}
