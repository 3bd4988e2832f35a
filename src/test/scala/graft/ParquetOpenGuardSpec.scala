package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the one parquet-open path: a fresh Hadoop
  * `Configuration` parses its XML resources again, and the one-argument
  * `ParquetFileReader.open(InputFile)` builds such a configuration
  * internally, so either in a per-file path turns every open into a
  * configuration parse. Only `ParquetLog` may build the JVM's loaded
  * configuration, and only its `openReader` may open a reader — with
  * explicit read options.
  */
class ParquetOpenGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val helper = "ParquetLog.scala"

  private def sources: Seq[(Path, String)] = {
    assert(Files.isDirectory(root), s"sources not found from ${Paths.get("").toAbsolutePath}")
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), UTF_8))
    finally s.close()
  }

  /** Top-level argument count of the call whose `(` sits at `open`. */
  private def argCount(text: String, open: Int): Int = {
    var depth = 0
    var commas = 0
    var i = open
    var nonBlank = false
    var done = false
    while (!done && i < text.length) {
      text(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' =>
          depth -= 1
          if (depth == 0) done = true
        case ',' if depth == 1 => commas += 1
        case c if depth >= 1 && !c.isWhitespace => nonBlank = true
        case _ =>
      }
      i += 1
    }
    if (nonBlank) commas + 1 else 0
  }

  test("no per-open Configuration parse and no one-argument ParquetFileReader.open") {
    val src = sources
    assert(src.exists(_._1.getFileName.toString == helper))
    val freshConf = "new\\s+(?:org\\.apache\\.hadoop\\.conf\\.)?Configuration\\b(?!\\s*\\(\\s*[^)\\s])".r
    val opens = "ParquetFileReader\\s*\\.\\s*open\\s*\\(".r
    val offenders = src.flatMap { case (p, text) =>
      val name = p.getFileName.toString
      val confs = freshConf.findAllMatchIn(text).toList
      val readers = opens.findAllMatchIn(text).toList
      val badConf =
        if (name == helper && confs.size <= 1) Nil
        else confs.map(m => s"$p: `${m.matched}`")
      val badOpen = readers.flatMap { m =>
        val n = argCount(text, m.end - 1)
        if (name == helper && readers.size == 1 && n == 2) None
        else Some(s"$p: ParquetFileReader.open with $n argument(s)")
      }
      badConf ++ badOpen
    }
    assert(offenders.isEmpty,
      s"open parquet files through ParquetLog.openReader: ${offenders.mkString("; ")}")
  }
}
