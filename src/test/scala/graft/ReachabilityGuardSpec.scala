package graft

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One entry point per operator: every definition in src/main is reached
  * from a main, a registered query or oracle (`queries`/`oracles`), or a
  * name the perfbench harness uses. A definition only specs call is a
  * second spelling production never runs; the spec should test the
  * registered path instead.
  *
  * The scan reads names, not types. Each member of an object (at any
  * depth of nested objects) and each class or trait outside one is a
  * node; a node's text is its definition, comments blanked and imports
  * dropped. Starting from the roots it marks every node whose name a
  * marked node's text mentions, until nothing changes: `X.m` marks `m`
  * of object `X`; a bare `m` marks the `m` of the nearest enclosing
  * object that has one, else the `m`s of objects the file imports, else
  * a top-level `m`; `e.m` on any other expression marks only a top-level
  * `m`. A node's mention of its own name (recursion, overloads, a
  * companion) does not count. `override` and `implicit` members, members
  * of objects that extend something, and class bodies are reached
  * through types the scan cannot see, so they count as reached with
  * their owner; `apply` and `unapply` count as reached with their
  * object. What is left unmarked fails the spec unless
  * [[ReachabilityGuardSpec.AllowList]] names it, with its reason. */
class ReachabilityGuardSpec extends AnyFunSuite {
  import ReachabilityGuardSpec._

  private def unreached(allow: Set[String]): Seq[String] = {
    val main = Paths.get("src/main/scala")
    val bench = Paths.get("perfbench")
    assert(Files.isDirectory(main) && Files.isDirectory(bench),
      "src/main/scala or perfbench not found (run from the repo root)")
    scan(main, bench, allow)
  }

  test("every src/main definition is reached from a main, a registry or perfbench") {
    val dead = unreached(AllowList.keySet)
    if (dead.nonEmpty) fail(dead.mkString(
      "reached only from specs (delete, or point the spec at the registered path):\n", "\n", ""))
  }

  test("every allow-list entry is a definition the scan would otherwise list") {
    val dead = unreached(Set.empty).toSet
    val stale = AllowList.keySet.filterNot(dead)
    assert(stale.isEmpty, s"allow-list entries no longer needed: $stale")
    assert(AllowList.values.forall(_.trim.nonEmpty))
  }
}

object ReachabilityGuardSpec {

  /** Definitions kept without a caller in the program, each with why. */
  val AllowList: Map[String, String] = Map(
    "def SparkEntry.entry" ->
      "the driver-contract flagship: the external driver calls it by name",
    "class GraftExtensions" ->
      "Spark instantiates it by class name from `spark.sql.extensions`",
    "def Bpe.save" -> "reference operator T3 (tokenizer JSON save/load, SURVEY §2.6)",
    "def Bpe.load" -> "reference operator T3 (tokenizer JSON save/load, SURVEY §2.6)",
    "def WordPiece.save" -> "T3's save/load for the WordPiece model, same JSON shape as Bpe's",
    "def WordPiece.load" -> "T3's save/load for the WordPiece model, same JSON shape as Bpe's")

  private final class Node(val kind: String, val names: Seq[String], val owner: Option[Node],
      val file: String, val mods: String) {
    var text: Seq[String] = Nil
    def isObject: Boolean = kind == "object"
    def path: String = (owner.map(_.path + ".").getOrElse("") + names.mkString(","))
    override def toString: String = s"$kind $path"
  }

  /** `src` with comments blanked to spaces (newlines kept); string and
    * char literals are kept as they are. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder(src.length)
    val n = src.length
    var i = 0
    def blank(to: Int): Unit = { out ++= src.substring(i, to).map(c => if (c == '\n') c else ' '); i = to }
    def keep(to: Int): Unit = { out ++= src.substring(i, to); i = to }
    val charLit = """'(?:\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'""".r
    while (i < n) {
      if (src.startsWith("//", i)) {
        val e = src.indexOf('\n', i)
        blank(if (e < 0) n else e)
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        blank(j)
      } else if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3) + 3
        while (j < n && src.charAt(j) == '"') j += 1
        keep(j)
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"') j += (if (src.charAt(j) == '\\') 2 else 1)
        keep(j + 1)
      } else charLit.findPrefixMatchOf(src.substring(i, math.min(n, i + 8))) match {
        case Some(m) => keep(i + m.end)
        case None => keep(i + 1)
      }
    }
    out.result()
  }

  private val Def = ("""^(\s*)((?:@\w+(?:\([^)]*\))?\s+|(?:private|protected)(?:\[\w+\])?\s+|""" +
    """(?:final|override|implicit|lazy|sealed|abstract|case)\s+)*)""" +
    """(def|val|var|object|class|trait|type)\s+(`[^`]+`|[\w$]+|\([^)]*\)|[^\s\w(\[:]+)""").r
  private val Ident = """[A-Za-z_][A-Za-z0-9_]*""".r
  private val QualifiedBy = """([A-Za-z_][A-Za-z0-9_]*)\s*\.\s*$""".r
  private val SelectedOn = """\.\s*$""".r
  private val Import = """^\s*import\s+([\w.]+)\.(\{[^}]*\}|\w+)\s*$""".r

  /** Called through their object's name, never their own. */
  private val Extractors = Set("apply", "unapply")

  private def indent(l: String): Int = l.length - l.stripLeading().length
  private def isImport(l: String): Boolean = l.stripLeading().startsWith("import ")

  /** Per file: imported member name -> owner object names, and the
    * objects imported with `._`. */
  private final case class Imports(named: Map[String, Set[String]], wild: Set[String])

  private def importsOf(lines: Seq[String]): Imports = {
    val pairs = lines.flatMap {
      case Import(prefix, sel) =>
        val owner = prefix.split('.').last
        val items = if (sel.startsWith("{")) sel.stripPrefix("{").stripSuffix("}").split(',').toSeq
          else Seq(sel)
        items.map(it => it.split("=>").head.trim -> owner)
      case _ => Nil
    }
    Imports(pairs.filter(_._1 != "_").groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap,
      pairs.collect { case ("_", o) => o }.toSet)
  }

  /** The members at `ind` of lines `[from, to)`, appended to `nodes`;
    * returns the lines that belong to no member (the owner's own text). */
  private def parseBlock(lines: IndexedSeq[String], from: Int, to: Int, ind: Int,
      owner: Option[Node], file: String, nodes: mutable.Buffer[Node]): Seq[String] = {
    val own = Seq.newBuilder[String]
    var i = from
    while (i < to) {
      val l = lines(i)
      Def.findPrefixMatchOf(l).filter(_ => indent(l) == ind && l.trim.nonEmpty) match {
        case Some(m) if !isImport(l) =>
          var j = i + 1
          while (j < to && !(lines(j).trim.nonEmpty && indent(lines(j)) <= ind &&
              !"})].".contains(lines(j).trim.head))) j += 1
          val (mods, kind, name) = (m.group(2), m.group(3), m.group(4))
          val names = if (name.startsWith("(")) Ident.findAllIn(name).toSeq
            else Seq(name.stripPrefix("`").stripSuffix("`"))
          val node = new Node(kind, names, owner, file, mods)
          nodes += node
          node.text =
            if (kind == "object" && !l.contains(" extends "))
              parseBlock(lines, i + 1, j, ind + 2, Some(node), file, nodes) :+ l
            else lines.slice(i, j)
          i = j
        case _ =>
          own += l
          i += 1
      }
    }
    own.result()
  }

  private def scalaFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    finally s.close()
  }

  /** Every `(qualifier, name)` mention in `text`: the qualifier is the
    * identifier before a `.`, "" for a selection on any other
    * expression, or None for a bare name. */
  private def mentions(text: String): Set[(Option[String], String)] =
    Ident.findAllMatchIn(text).map { m =>
      val before = text.substring(math.max(0, m.start - 80), m.start)
      val q = QualifiedBy.findFirstMatchIn(before).map(_.group(1))
        .orElse(SelectedOn.findFirstMatchIn(before).map(_ => ""))
      (q, m.matched)
    }.toSet

  /** The unreached definitions under `main`, as "kind Owner.name",
    * with `allow` and `perfbench`'s Scala sources as extra roots. */
  def scan(main: Path, perfbench: Path, allow: Set[String]): Seq[String] = {
    val nodes = mutable.Buffer.empty[Node]
    val imports = mutable.Map.empty[String, Imports]
    def addFile(name: String, src: String, parse: Boolean): Unit = {
      val lines = stripComments(src).split("\n", -1).toIndexedSeq
      imports(name) = importsOf(lines)
      val file = new Node("file", Seq(s"<$name>"), None, name, "")
      file.text = if (parse) parseBlock(lines, 0, lines.size, 0, None, name, nodes) else lines
      nodes += file
    }
    scalaFiles(main).foreach(f => addFile(main.relativize(f).toString, Files.readString(f), parse = true))
    addFile("perfbench", scalaFiles(perfbench).map(Files.readString(_)).mkString("\n"), parse = false)
    nodes.foreach(n => n.text = n.text.filterNot(isImport))

    val byName = nodes.toSeq.flatMap(n => n.names.map(_ -> n)).groupMap(_._1)(_._2)
    val objectNames = nodes.filter(_.isObject).flatMap(_.names).toSet
    val reached = mutable.Set.empty[Node]
    val work = mutable.Stack.empty[Node]
    def reach(n: Node): Unit = if (reached.add(n)) {
      work.push(n)
      n.owner.foreach(reach)
      if (n.isObject) nodes.filter(c => c.owner.contains(n) && c.names.exists(Extractors)).foreach(reach)
    }
    nodes.filter { n =>
      n.kind == "file" || n.mods.contains("override") || n.mods.contains("implicit") ||
        n.names.exists(Set("main", "queries", "oracles")) || allow(n.toString)
    }.foreach(reach)

    while (work.nonEmpty) {
      val n = work.pop()
      for ((q, name) <- mentions(n.text.mkString("\n"))) {
        val all = byName.getOrElse(name, Nil)
        val targets = q match {
          case Some(o) if objectNames(o) => all.filter(_.owner.exists(_.names.contains(o)))
          case Some(_) => all.filter(_.owner.isEmpty)
          case None if Extractors(name) => Nil
          case None =>
            val scopes = Iterator.iterate(Option(n))(_.flatMap(_.owner)).takeWhile(_.nonEmpty).flatten
            scopes.map(s => all.filter(_.owner.contains(s))).find(_.nonEmpty).getOrElse {
              val imp = imports(n.file)
              val owners = imp.named.getOrElse(name, Set.empty) ++ imp.wild
              all.filter(t => t.owner.forall(o => o.isObject && o.names.exists(owners)))
            }
        }
        targets.filterNot(t => t.owner == n.owner && t.names.intersect(n.names).nonEmpty)
          .foreach(reach)
      }
    }
    nodes.filterNot(reached).map(_.toString).toSeq.sorted
  }
}
