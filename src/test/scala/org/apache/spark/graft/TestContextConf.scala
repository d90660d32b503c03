package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Runs `body` as if the shared SparkContext had been created without
  * `key`: it is removed from the context's SparkConf and Hadoop conf,
  * and put back afterwards. */
object TestContextConf {
  def without[T](sc: SparkContext, key: String)(body: => T): T = {
    val spark = sc.conf.getOption(key)
    val hadoop = Option(sc.hadoopConfiguration.get(key))
    sc.conf.remove(key)
    sc.hadoopConfiguration.unset(key)
    try body
    finally {
      spark.foreach(sc.conf.set(key, _))
      hadoop.foreach(sc.hadoopConfiguration.set(key, _))
    }
  }
}
