package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Library code reads no environment: deployment settings enter through
  * [[GraftSession]] and the mains, and tuning values are constants. A
  * `sys.env` or `System.getenv` in library code would be a knob that
  * nothing tests. The one allowed read is `SparkEntry.entry`'s
  * `SPARK_GRAFT_SF_DIR`, the data dir of the driver-contract flagship.
  * Library code does not print either: it logs through slf4j, and only
  * mains write to the console. */
class LibraryEnvGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")
  private val libraryDirs =
    Seq("pipeline", "relational", "functions", "sources", "multimodal", "streaming")
      .map(root.resolve)

  private def scalaFiles(dir: Path, maxDepth: Int): List[Path] = {
    val files = Files.walk(dir, maxDepth)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally files.close()
  }

  private def lines(f: Path): List[String] = Files.readAllLines(f).asScala.toList

  private def isMain(f: Path): Boolean = lines(f).exists(_.contains("def main("))

  private def linesWith(needles: String*)(f: Path): List[String] =
    lines(f).zipWithIndex.collect {
      case (line, i) if needles.exists(line.contains) => s"$f:${i + 1}: ${line.trim}"
    }

  private def envReads(f: Path): List[String] = linesWith("sys.env", "System.getenv")(f)

  test("no environment reads under the library packages") {
    val missing = libraryDirs.filterNot(Files.isDirectory(_))
    assert(missing.isEmpty, s"library dirs not found (run from the repo root): $missing")
    val hits = libraryDirs.flatMap(scalaFiles(_, Int.MaxValue)).flatMap(envReads)
    if (hits.nonEmpty) fail(hits.mkString("environment reads in library code:\n", "\n", ""))
  }

  test("no environment reads in top-level library objects (mains and GraftSession excepted)") {
    val topLevel = scalaFiles(root, 1).filterNot { f =>
      f.getFileName.toString == "GraftSession.scala" || isMain(f)
    }
    assert(topLevel.exists(_.getFileName.toString == "Tables.scala"),
      s"top-level library files not found (run from the repo root): $topLevel")
    val hits = topLevel.flatMap(envReads).filterNot { h =>
      h.contains("SparkEntry.scala:") && h.contains("""sys.env.getOrElse("SPARK_GRAFT_SF_DIR"""")
    }
    if (hits.nonEmpty) fail(hits.mkString("environment reads in library code:\n", "\n", ""))
  }

  test("no console prints in library code (mains excepted)") {
    val library = (libraryDirs.flatMap(scalaFiles(_, Int.MaxValue)) ++ scalaFiles(root, 1))
      .filterNot(isMain)
    assert(library.exists(_.getFileName.toString == "Pipeline.scala"),
      s"library files not found (run from the repo root): $library")
    val hits = library.flatMap(linesWith("println", "System.out", "System.err"))
    if (hits.nonEmpty) fail(hits.mkString("console prints in library code:\n", "\n", ""))
  }
}
