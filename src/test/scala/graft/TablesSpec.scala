package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The per-session relation cache behind `Tables`: a repeated read
  * resolves nothing, a rewritten file is never served stale, every read
  * gets fresh attribute ids, and entries never cross sessions or
  * outlive their application.
  */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val spark = TestSpark.spark
  private val src = "/root/testdata/sf0.001"

  /** Every file this suite writes lives under here. */
  private val root = Files.createTempDirectory("graft_tables_spec_")

  override def afterAll(): Unit = Scratch.deleteTree(root.toFile)

  /** A private copy of some tables, so no other suite has cached them. */
  private def copyOf(tables: String*): String = {
    val d = Files.createTempDirectory(root, "copy_").toFile
    tables.foreach { t =>
      val f = new File(d, s"$t.parquet")
      Files.copy(new File(s"$src/$t.parquet").toPath, f.toPath)
      f.setWritable(true)
    }
    d.getAbsolutePath
  }

  /** Spark jobs started by `body` on this thread. */
  private def jobsIn[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${System.nanoTime()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "TablesSpec")
      val out = try body finally sc.clearJobGroup()
      org.apache.spark.graft.TestBus.drain(sc)
      (n.get(), out)
    } finally sc.removeSparkListener(l)
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq.sortBy(_.toString)

  test("a second read of a table runs no Spark job and returns the same rows") {
    val dir = copyOf("orders")
    val (first, a) = jobsIn(Tables(spark, dir).orders)
    assert(first >= 1, "the first read infers the schema with a job")
    val (second, b) = jobsIn(Tables(spark, dir).orders)
    assert(second == 0, s"a cached read ran $second jobs")
    assert(a.schema == b.schema)
    assert(rows(a) == rows(b))
    assert(rows(b) == rows(spark.read.parquet(s"$dir/orders.parquet")))
  }

  test("a table rewritten at the same path is resolved again") {
    val dir = copyOf("nation")
    val path = new File(s"$dir/nation.parquet")
    assert(Tables(spark, dir).nation.count() == 25)
    // a larger file with another schema, written elsewhere and moved
    // over the table: new length and a later mtime. A stale relation
    // would read it under the old schema and the old file length.
    val tmp = Files.createTempDirectory(root, "new_").toFile
    spark.range(0, 5000)
      .select(col("id").as("n_nationkey"), lit("x").as("n_name"))
      .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
    val oldLen = path.length()
    val oldMtime = path.lastModified()
    Files.move(part.toPath, path.toPath, StandardCopyOption.REPLACE_EXISTING)
    path.setLastModified(oldMtime + 5000L)
    assert(path.length() > oldLen)
    val after = Tables(spark, dir).nation
    assert(after.columns.toSeq == Seq("n_nationkey", "n_name"))
    assert(after.count() == 5000)
    assert(after.agg(sum("n_nationkey")).head.getLong(0) == 4999L * 5000L / 2)
    // and the fresh resolution is cached in turn
    assert(jobsIn(Tables(spark, dir).nation)._1 == 0)
  }

  test("two reads of one table in a self-join match the uncached answer") {
    val dir = copyOf("nation")
    def pairs(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame) =
      rows(a.as("a").join(b.as("b"),
        col("a.n_regionkey") === col("b.n_regionkey") &&
          col("a.n_nationkey") < col("b.n_nationkey"))
        .select(col("a.n_name"), col("b.n_name")))
    val t = Tables(spark, dir)
    val n1 = t.nation
    val n2 = t.nation
    // every read is its own LogicalRelation with its own attribute ids
    assert(n1.queryExecution.analyzed.output.map(_.exprId)
      .intersect(n2.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    val got = pairs(n1, n2)
    val want = pairs(spark.read.parquet(s"$dir/nation.parquet"),
      spark.read.parquet(s"$dir/nation.parquet"))
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("spark.newSession() does not reuse the first session's relation") {
    val dir = copyOf("region")
    val path = s"$dir/region.parquet"
    val r1 = Tables.relation(spark, path)
    assert(Tables.relation(spark, path) eq r1)
    val other = spark.newSession()
    assert(Tables.cachedPaths(other).isEmpty)
    val (jobs, r2) = jobsIn(Tables.relation(other, path))
    assert(jobs >= 1, "the new session resolves the table itself")
    assert(!(r2 eq r1))
    assert(r2.asInstanceOf[HadoopFsRelation].sparkSession eq other)
    assert(r1.asInstanceOf[HadoopFsRelation].sparkSession eq spark)
    assert(Tables.cachedPaths(other).exists(_.endsWith("region.parquet")))
  }

  test("a stopped session's entries are released and a rebuilt session starts empty") {
    // needs its own SparkContext, so it runs in a child JVM
    val dir = copyOf("nation")
    val mx = java.lang.management.ManagementFactory.getRuntimeMXBean
    import scala.jdk.CollectionConverters._
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++
      mx.getInputArguments.asScala.filterNot(_.startsWith("-Xmx")) ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.TablesLifetimeMain", dir)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    val code = p.waitFor()
    assert(code == 0 && out.contains(TablesLifetimeMain.Ok), out.takeRight(4000))
  }
}

/** The child-JVM half of the lifetime test: a session reads a table,
  * stops, and must leave nothing cached; a session rebuilt after it
  * resolves the table itself. Exits non-zero on any failed check.
  */
object TablesLifetimeMain {
  val Ok = "TABLES-LIFETIME-OK"

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    def build() = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]").appName("tables-lifetime")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "1")
      .getOrCreate()
    def check(ok: Boolean, what: String): Unit =
      if (!ok) { System.err.println(s"FAILED: $what"); sys.exit(1) }
    val first = build()
    first.sparkContext.setLogLevel("ERROR")
    val n = Tables(first, dir).nation.count()
    check(Tables.cachedPaths(first).size == 1, "the read is cached")
    first.stop()
    check(Tables.cachedPaths(first).isEmpty,
      "the stopped session's entries are released")
    val second = build()
    second.sparkContext.setLogLevel("ERROR")
    check(!(second eq first), "a new session was built")
    check(Tables.cachedPaths(second).isEmpty, "the new session starts empty")
    val rel = Tables.relation(second, s"$dir/nation.parquet")
    check(rel.asInstanceOf[HadoopFsRelation].sparkSession eq second,
      "the new session's relation is its own")
    check(Tables(second, dir).nation.count() == n, "same rows")
    second.stop()
    println(Ok)
  }
}
