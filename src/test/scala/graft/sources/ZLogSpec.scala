package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The z-store's commit seam cannot erode: among the `Z*.scala` sources
  * only [[ZLog]] creates, renames, deletes or mkdirs, apart from a short
  * allow-list of pre-commit staging cleanup and catalog namespace dirs. */
class ZLogSpec extends AnyFunSuite {

  private val Mutating =
    """\.create\(|\.rename\(|\.delete\(|\.mkdirs\(|createExclusive""".r

  /** (file name, trimmed source line) → why it may mutate outside ZLog. */
  private val Allowed: Map[(String, String), String] = Map(
    ("ZBatch.scala", "StoreMaint.fsFor(s, d).delete(d, true)") ->
      "a streaming write's staged epoch dir, removed after its commit or abort",
    ("ZRowLevel.scala", "if (fs.exists(p)) { fs.delete(p, true); () }") ->
      "a row-level write's staging dir, removed on abort or after commit",
    ("ZRowLevel.scala", "fs.delete(file, false)") ->
      "an aborted row-level task's own staged file",
    ("ZCatalog.scala", "StoreMaint.fsFor(s, p).mkdirs(p)") ->
      "CREATE NAMESPACE makes a catalog directory, not a store",
    ("ZCatalog.scala", "fs.delete(p, true)") ->
      "DROP NAMESPACE removes a catalog directory, not a store")

  /** Every mutating call in the given `Z*.scala` files as
    * (file name, line number, trimmed line). */
  private def mutatingCalls(dir: Path): Seq[(String, Int, String)] =
    Files.list(dir).iterator.asScala.toSeq
      .filter(p => p.getFileName.toString.matches("Z.*\\.scala"))
      .sortBy(_.toString)
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if Mutating.findFirstIn(l).nonEmpty =>
            (p.getFileName.toString, i + 1, l.trim)
        }
      }

  private def offenders(dir: Path): Seq[(String, Int, String)] =
    mutatingCalls(dir).filter { case (f, _, l) =>
      f != "ZLog.scala" && !Allowed.contains((f, l))
    }

  private val Sources = Paths.get("src/main/scala/graft/sources")

  test("only ZLog mutates a z-store among the Z*.scala sources") {
    val calls = mutatingCalls(Sources)
    // planted positive: the scan finds ZLog's own calls, every kind
    val own = calls.filter(_._1 == "ZLog.scala").map(_._3).mkString("\n")
    Seq(".create(", ".rename(", ".delete(", ".mkdirs(", "createExclusive")
      .foreach(t => assert(own.contains(t), s"scan misses ZLog's $t"))
    assert(offenders(Sources).isEmpty,
      s"mutating calls outside ZLog: ${offenders(Sources).mkString("; ")}")
    // every allow-list entry still names a live line
    Allowed.keys.foreach { case (f, l) =>
      assert(calls.exists(c => c._1 == f && c._3 == l),
        s"stale allow-list entry: $f: $l")
    }
  }

  test("a mutating call planted in ZOrder is caught") {
    val dir = Files.createTempDirectory("graft-zlogspec")
    Files.list(Sources).iterator.asScala
      .filter(_.getFileName.toString.startsWith("Z"))
      .foreach(p => Files.copy(p, dir.resolve(p.getFileName)))
    val z = dir.resolve("ZOrder.scala")
    Files.writeString(z, Files.readString(z) +
      "\n// val out = fs.create(p, true)\n")
    assert(offenders(dir).map(_._1) == Seq("ZOrder.scala"))
  }
}
