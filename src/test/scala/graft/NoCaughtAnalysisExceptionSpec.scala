package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Tripwire: no `catch` in `src/main/scala` handles an AnalysisException.
  * A store or table that may be absent is read behind an existence check
  * with its declared schema ([[graft.sources.Compact.scanStore]]), never
  * by catching the analyzer's error — a caught AnalysisException also
  * hides a real mistake in the plan built on the read. */
class NoCaughtAnalysisExceptionSpec extends AnyFunSuite {

  /** (line, text) of each `catch` whose handler block names
    * AnalysisException among its cases. The block is taken to its
    * matching brace, so a handler several cases down is found too. */
  def catchSites(src: String): Seq[(Int, String)] = {
    val at = "\\bcatch\\b".r.findAllMatchIn(src).map(_.start).toSeq
    at.flatMap { i =>
      var j = i + "catch".length
      while (j < src.length && src(j).isWhitespace) j += 1
      val block =
        if (j < src.length && src(j) == '{') {
          var depth = 0; var k = j; var done = false
          while (k < src.length && !done) {
            if (src(k) == '{') depth += 1
            else if (src(k) == '}') { depth -= 1; if (depth == 0) done = true }
            k += 1
          }
          src.substring(j, k)
        } else src.substring(j, math.min(src.length, src.indexOf('\n', j) match {
          case -1 => src.length
          case e => e
        }))
      val cases = "case\\s[^=]*?=>".r.findAllIn(block)
      if (cases.exists(_.contains("AnalysisException"))) {
        val line = src.substring(0, i).count(_ == '\n') + 1
        Some(line -> src.linesIterator.drop(line - 1).next().trim)
      } else None
    }
  }

  test("the scanner finds a catch of AnalysisException, one case down too") {
    val src =
      """object X {
        |  def a = try read() catch { case _: org.apache.spark.sql.AnalysisException => empty }
        |  def b = try read() catch {
        |    case _: java.io.IOException => empty
        |    case e: AnalysisException => throw e
        |  }
        |  def c = try read() catch { case _: java.io.IOException => empty }
        |}""".stripMargin
    assert(catchSites(src).map(_._1) === Seq(2, 3))
  }

  test("no catch in src/main/scala handles AnalysisException") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"source root not found from ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"only ${files.size} sources found")
    val sites = files.flatMap { f: Path =>
      catchSites(new String(Files.readAllBytes(f), "UTF-8"))
        .map { case (line, text) => s"$f:$line: $text" }
    }
    assert(sites.isEmpty, s"catch of AnalysisException:\n${sites.mkString("\n")}")
  }
}
