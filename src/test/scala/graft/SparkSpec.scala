package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — ScalaTest
  * may run suites concurrently and SparkSession is session-scoped). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Unit tests run on the smallest fixture. */
  val sf = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** Four cores whatever `SPARK_GRAFT_CPUS` says, so test partitioning
    * does not depend on the machine. */
  lazy val session: SparkSession = GraftSession.local("test", cpus = 4)
}
