package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source lint: every engine top-k goes through `TopK.ranked`. The heap's
  * Aggregator (`TopK.topK(`) and its buffer type (`TopK.Scored(`) may be
  * named in `src/main` only inside `graft/ml/TopK.scala`, so no other file
  * knows the buffer layout or that array position is the rank. A hit here
  * means a hand-written `groupByKey → agg(topK)` pipeline came back: route
  * it through `TopK.ranked` instead of pinning it.
  */
class TopKLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val home = root.resolve("graft/ml/TopK.scala")

  test("only TopK.scala names the heap Aggregator or its buffer type") {
    assert(Files.isRegularFile(home), s"run from the repo root: $home not found")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != home).toList
    val offenders = files.flatMap { (p: Path) =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("TopK.topK(") || line.contains("TopK.Scored(") =>
          s"$p:${i + 1}"
      }
    }
    assert(offenders.isEmpty, s"top-k heap used outside TopK.ranked: $offenders")
  }
}
