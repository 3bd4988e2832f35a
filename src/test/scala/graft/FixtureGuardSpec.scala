package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the one fixture layer: the harness (the top-level
  * `graft` sources and the gate families under `graft/gates/`) builds
  * memos, scratch directories, exit hooks, wire servers and watermark
  * reads only through `Fixtures.scala`, which defines each once.
  */
class FixtureGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")
  private val fixtures = "Fixtures.scala"

  /** The harness sources: the files directly under `graft/` and `graft/gates/`. */
  private def harness: Seq[(Path, String)] = {
    assert(Files.isDirectory(root), s"sources not found from ${Paths.get("").toAbsolutePath}")
    Seq(root, root.resolve("gates")).flatMap { d =>
      val s = Files.list(d)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
        .map(p => p -> new String(Files.readAllBytes(p), UTF_8))
      finally s.close()
    }
  }

  private val owned = Seq("TrieMap", "createTempDirectory", "addShutdownHook",
    "inserted.txt")

  test("harness sources outside Fixtures.scala build no memo, temp dir, exit hook or watermark read") {
    val offenders = for {
      (p, text) <- harness if p.getFileName.toString != fixtures
      token <- owned if text.contains(token)
    } yield s"$p: $token"
    assert(offenders.isEmpty,
      s"go through the Fixtures layer: ${offenders.mkString("; ")}")
  }

  test("Fixtures.scala defines the memo, temp dir, exit hook, servers, watermark read and churn once") {
    val text = harness.collectFirst {
      case (p, t) if p.getFileName.toString == fixtures => t
    }.getOrElse(fail(s"$fixtures not found"))
    def count(s: String): Int = s.r.findAllMatchIn(text).size
    val once = Seq(
      "TrieMap\\.empty", "createTempDirectory\\(", "addShutdownHook\\(",
      "inserted\\.txt", "new CollectionGrpcServer\\(",
      "new CollectionHttpServer\\(", "col\\(\"vec_id\"\\) < 5",
      "=== UpdateSource")
    val wrong = once.map(p => p -> count(p)).filter(_._2 != 1)
    assert(wrong.isEmpty, s"expected exactly one of each: $wrong")
  }
}
