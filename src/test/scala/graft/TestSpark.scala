package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (spark_guide: one session per
  * JVM; suites must not stop it).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // the engine's fixed settings (checkpoint I/O binding and codegen
      // constants included), so suites run the production path
      .config(GraftSession.fixedSettings.toMap)
      // the engine's optimizer rules, as GraftSession.build installs them
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
