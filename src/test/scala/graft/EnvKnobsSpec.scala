package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Guards against knob creep: every `SPARK_GRAFT_*` environment name
  * the engine's sources mention must be on the list below, so a new
  * env knob is added here on purpose, with its reason, or not at all.
  * Codegen settings that once had env overrides are session constants;
  * the last test pins their values on a session `GraftSession.build`
  * makes.
  */
class EnvKnobsSpec extends AnyFunSuite {

  private val allowed = Set(
    "CPUS", // local[n] core count and batch shuffle partitions
    "MASTER", // Spark master URL (cluster runs)
    "SF_DIR", // data dir of the bench harnesses
    "COLD" // BenchOne: cold caches before every rep
  ).map("SPARK_GRAFT_" + _)

  test("src/main reads exactly the listed SPARK_GRAFT_* env knobs") {
    val root = new java.io.File("src/main")
    assert(root.isDirectory, s"run from the repo root (no ${root.getAbsolutePath})")
    val name = "SPARK_GRAFT_[A-Z0-9_]+".r
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else Seq(f).filter(_.getName.endsWith(".scala"))
    val found = files(root).flatMap(f => name.findAllIn(
      java.nio.file.Files.readString(f.toPath))).toSet
    assert(found == allowed,
      s"unlisted: ${(found -- allowed).toSeq.sorted}; " +
        s"no longer read: ${(allowed -- found).toSeq.sorted}")
  }

  test("GraftSession.build fixes the codegen cache size and class naming") {
    // a fresh session on the shared context (static SQL settings such
    // as the codegen cache size only reach a NEW session); the shared
    // test session is reinstated afterwards
    val shared = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val built = GraftSession.build("graft-env-knobs-spec")
      assert(built ne shared)
      assert(built.conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
      assert(built.conf.get("spark.sql.codegen.useIdInClassName") == "false")
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
