package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source lints over `src/main`, one test per single-mechanism rule.
  *
  * Top-k: every engine top-k goes through `TopK.ranked`. The heap's
  * Aggregator and buffer (`TopK.Heap`) may be named in `src/main` only
  * inside `graft/ml/TopK.scala`, so no other file knows the buffer layout
  * or that array position is the rank. A hit here means a hand-written
  * `groupBy → agg(heap)` pipeline came back: route it through `TopK.ranked`
  * instead of pinning it.
  *
  * Exact top-k: the similarity files (`Knn.scala`, `Similarity.scala`,
  * `Pq.scala`) rank through the heap, never a `row_number()` window. The
  * one allowed window is `Knn.vote`'s (`over(byVotes)`): it ranks string
  * labels by vote count, not LONG ids.
  *
  * Array folds: every pairwise array fold goes through the codegen
  * `ArrayFold` kernel (`Exprs.dot` / `dotLong` / `sqdist`). No code line may
  * spell an interpreted `aggregate(zip_with(` fold, and the per-kernel
  * classes it replaced (`DotProduct(`, `DotProductLong(`, `SqDist(`) may not
  * be named outside `graft/functions/ArrayFold.scala`.
  *
  * Graphs: every graph cache goes through `Caching`, so `Graphs.scala`
  * holds no raw `.persist(` (a raw unpersist drops a plan-identical entry
  * another query still reads). Every exact mass sum goes through the one
  * scaled-long helper `Graphs.scaledSum`, so `floor(` appears in
  * `Graphs.scala` only there. The graph catalog builds its undirected edge
  * set with `Graphs.undirected`, so `queries/Graph.scala` never spells the
  * canonical pair `least(col("src"), col("dst"))`.
  */
class TopKLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (file, 1-based line number, line) for every engine source line. */
  private def sourceLines(home: Path): List[(Path, Int, String)] = {
    assert(Files.isRegularFile(home), s"run from the repo root: $home not found")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.map { case (line, i) => (p, i + 1, line) }
      }
  }

  test("only TopK.scala names the heap Aggregator or its buffer type") {
    val home = root.resolve("graft/ml/TopK.scala")
    val offenders = sourceLines(home).collect {
      case (p, n, line) if p != home && (line.contains("TopK.Heap") || line.contains("new Heap(")) =>
        s"$p:$n"
    }
    assert(offenders.isEmpty, s"top-k heap used outside TopK.ranked: $offenders")
  }

  test("the similarity files rank through the heap, not a row_number window") {
    val files = Seq("graft/ml/Knn.scala", "graft/operators/Similarity.scala", "graft/ml/Pq.scala")
      .map(root.resolve)
    val offenders = sourceLines(files.head).collect {
      case (p, n, line) if files.contains(p) && line.contains("row_number()") &&
          !(p == files.head && line.contains("over(byVotes)")) => s"$p:$n"
    }
    assert(offenders.isEmpty, s"row_number window in a similarity file: $offenders")
  }

  test("pairwise array folds go through the ArrayFold kernel") {
    val home = root.resolve("graft/functions/ArrayFold.scala")
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")
    }
    val oldKernels = Seq("DotProduct(", "DotProductLong(", "SqDist(")
    val offenders = sourceLines(home).collect {
      case (p, n, line) if !isComment(line) && (line.contains("aggregate(zip_with(") ||
          (p != home && oldKernels.exists(line.contains))) => s"$p:$n"
    }
    assert(offenders.isEmpty, s"array fold outside the ArrayFold kernel: $offenders")
  }

  test("Graphs.scala caches only through Caching") {
    val home = root.resolve("graft/graph/Graphs.scala")
    val offenders = sourceLines(home).collect {
      case (p, n, line) if p == home && line.contains(".persist(") => s"$p:$n"
    }
    assert(offenders.isEmpty, s"raw persist in Graphs.scala: $offenders")
  }

  test("Graphs.scala spells floor( only inside the scaled-long sum helper") {
    val home = root.resolve("graft/graph/Graphs.scala")
    val lines = sourceLines(home).filter(_._1 == home)
    val helper = lines.collectFirst { case (_, n, line) if line.contains("def scaledSum(") => n }
    assert(helper.isDefined, s"no scaledSum helper in $home")
    // the helper is a one-expression def: its body is the line after it
    val offenders = lines.collect {
      case (p, n, line) if line.contains("floor(") && !helper.contains(n - 1) => s"$p:$n"
    }
    assert(offenders.isEmpty, s"floor( outside Graphs.scaledSum: $offenders")
  }

  test("the graph catalog builds undirected edges with Graphs.undirected") {
    val home = root.resolve("graft/queries/Graph.scala")
    val offenders = sourceLines(home).collect {
      case (p, n, line) if p == home && line.contains("""least(col("src"), col("dst"))""") =>
        s"$p:$n"
    }
    assert(offenders.isEmpty, s"inline canonical edge pair in the graph catalog: $offenders")
  }
}
