package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (JVM-singleton — Spark
  * sessions are expensive; suites must not stop() it), on the
  * [[GraftSession]] plane the mains run on. A spec that changes a plane key
  * restores its prior value. */
object TestSpark {
  /** Fixed at 4 cores whatever `SPARK_GRAFT_CPUS` says, so the suite's
    * partitioning does not depend on the host. */
  val Cores = 4
  lazy val spark: SparkSession = {
    val s = GraftSession(Cores)
    graft.functions.ArrayExprs.register(s)
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sf0001
}
