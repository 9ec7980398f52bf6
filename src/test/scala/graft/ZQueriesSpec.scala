package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.ZQueries

/** The z-store queries memoize their stores per dataset dir, and
  * [[ZQueries.clearCaches]] drops every one of them. */
class ZQueriesSpec extends SparkSpec {

  private def tempDirs(prefix: String): Set[String] = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    Files.list(tmp).iterator.asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(prefix) && n.drop(prefix.length)
        .forall(_.isDigit))
      .toSet
  }

  test("after clearCaches a query builds a fresh store (q123, q146, q163)") {
    Seq(("graft-zorder", ZQueries.q123ZOrderRead),
        ("graft-zrestore", ZQueries.q146ZOrderRestore),
        ("graft-zocc-dml", ZQueries.q163ZOrderOccDml)).foreach {
      case (prefix, q) =>
        q.fn(spark, sfDir).collect()
        val warm = tempDirs(prefix)
        q.fn(spark, sfDir).collect()
        assert(tempDirs(prefix) == warm, s"${q.name} rebuilt a memoized store")
        ZQueries.clearCaches()
        q.fn(spark, sfDir).collect()
        assert((tempDirs(prefix) -- warm).size == 1,
          s"${q.name} reused its store across clearCaches")
    }
  }
}
