package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for all specs (one JVM per sbt test fork). */
trait SparkSpec extends BeforeAndAfterAll { this: Suite =>
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = "/root/testdata/sf0.001"

  /** Runs `body` under `spark.sql.autoBroadcastJoinThreshold = bytes`:
    * -1 sends every operator that holds small inputs on the driver
    * ([[graft.core.Held]]) down its distributed path. */
  def withThreshold[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try body finally spark.conf.set(key, old)
  }
}

object SparkSpec {
  lazy val session: SparkSession = graft.core.Session("graft-test", Some(4))
}
