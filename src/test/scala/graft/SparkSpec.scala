package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for Spark-backed specs (one per JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object SparkSpec {
  /** The production factory at a fixed 4 cores: the specs run the same
    * config that Verify and Bench run.
    */
  lazy val session: SparkSession = GraftSession.session(4)
}
