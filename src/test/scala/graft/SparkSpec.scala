package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for ScalaTest suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = ()
}

object SparkSpec {
  /** The production session config (`Sessions.builder`) at 4 cores. */
  lazy val session: SparkSession =
    Sessions.builder("4").appName("graft-test").getOrCreate()
}
