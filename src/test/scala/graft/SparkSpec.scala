package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for specs (one JVM-wide session — Spark
  * session startup is ~5s, so specs must not each build their own). */
object SparkSpec {
  lazy val spark: SparkSession = Sessions.local(4)
}
