package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Only `operators/Checkpoints.scala` may checkpoint, persist, cache or
  * name a storage level in `src/main`: every other site declares a kind
  * through a `Checkpoints` scope. `Bench.scala` is exempt — its timed
  * protocol clears caches itself and must stay byte-identical. */
class MaterializationLintSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val exempt = Set("graft/operators/Checkpoints.scala", "graft/Bench.scala")
  private val forbidden = Seq("localCheckpoint(", ".persist(", ".cache()", "StorageLevel")

  /** Source text with comments removed, so documentation may still name
    * what the code must not call. */
  private def code(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  test("no materialization call or StorageLevel outside Checkpoints") {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under $root")
    val hits = for {
      f <- files
      rel = root.relativize(f).toString.replace('\\', '/')
      if !exempt(rel)
      (line, i) <- code(f).split("\n").zipWithIndex
      tok <- forbidden if line.contains(tok)
    } yield s"$rel:${i + 1}: $tok"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
