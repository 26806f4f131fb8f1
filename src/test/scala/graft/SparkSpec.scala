package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for all specs (one JVM per sbt test fork). */
trait SparkSpec extends BeforeAndAfterAll { this: Suite =>
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = graft.core.Session("graft-test", Some(4))
}
