package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The session plane cannot drift apart again: in the program only
  * [[GraftSession]] builds a session, and the suite's session carries its
  * value for every plane key. */
class GraftSessionSpec extends SparkSpec {

  test("src/main builds a SparkSession only in GraftSession") {
    val main = Paths.get("src/main")
    val builders = Files.walk(main).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        Files.readString(p).contains("SparkSession.builder()"))
      .map(main.relativize(_).toString).toSeq
    // planted positive: the scan finds GraftSession's own builder
    assert(builders == Seq("scala/graft/GraftSession.scala"),
      s"session builders outside GraftSession: $builders")
  }

  test("TestSpark.spark reads GraftSession's value for every plane key") {
    val plane = GraftSession.plane(TestSpark.Cores)
    assert(plane.nonEmpty)
    plane.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }
}
