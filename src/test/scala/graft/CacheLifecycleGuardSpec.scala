package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One cache lifecycle: every persist in the program goes through
  * [[CacheScope.persist]], so the scope (or, outside every scope, the
  * drain) that releases it is the only release there is. A raw
  * `.persist(` or `.cache()` would be a frame no scope knows about — and
  * with none, a `spark.catalog.clearCache()` sweep has nothing left to
  * find. */
class CacheLifecycleGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")

  private def hits(pattern: scala.util.matching.Regex, except: Set[String]): List[String] = {
    assert(Files.isDirectory(root), s"$root not found (run from the repo root)")
    val files = Files.walk(root)
    try files.iterator.asScala.toList
      .filter(f => f.toString.endsWith(".scala") && !except(f.getFileName.toString))
      .flatMap { f: Path =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if pattern.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
        }
      }
    finally files.close()
  }

  test("no raw .persist( or .cache() outside CacheScope") {
    val raw = hits("""(?<!CacheScope)\.persist\(|\.cache\(\)""".r, Set("CacheScope.scala"))
    if (raw.nonEmpty) fail(raw.mkString("raw persists outside CacheScope:\n", "\n", ""))
  }

  test("no drain() caller and no clearCache() in the program") {
    val barriers = hits("""CacheScope\.drain\(|clearCache\(""".r, Set("CacheScope.scala"))
    if (barriers.nonEmpty) fail(barriers.mkString("global cache barriers:\n", "\n", ""))
  }

  test("the only unpersist calls outside CacheScope are the rep-graph build's mid-build releases") {
    val releases = hits("""\.unpersist\(""".r, Set("CacheScope.scala"))
    assert(releases.size == 2 && releases.forall(_.contains("MinHash.scala:")),
      releases.mkString("unpersist calls outside CacheScope:\n", "\n", ""))
  }
}
