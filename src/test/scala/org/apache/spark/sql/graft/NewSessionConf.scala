package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to the SparkContext-level conf that every session created
  * by `newSession()` starts from (a runtime `spark.conf.set` reaches only
  * the session it is set on). */
object NewSessionConf {

  /** Runs `body` with `key = value` in the context conf, then restores
    * the previous value. Sessions created meanwhile keep the value. */
  def withValue[T](spark: SparkSession, key: String, value: String)(
      body: => T): T = {
    val conf = spark.sparkContext.conf
    val prev = conf.getOption(key)
    conf.set(key, value)
    try body
    finally prev.fold(conf.remove(key))(conf.set(key, _))
  }
}
