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
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the engine's checkpoint I/O binding, so suites run the
      // production path
      .config(GraftSession.checkpointFs._1, GraftSession.checkpointFs._2)
      // the engine's optimizer rules, as GraftSession.build installs them
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
