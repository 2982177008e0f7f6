package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Dead public API stays deleted: every top-level `object`, `class` or
  * `trait` in the program, and every public `def` of a top-level
  * object, must be named somewhere in `src/main` or `pipebench/src`
  * besides its own definition. A spec is not a caller. Comments are
  * stripped before counting; string literals are kept, so a class named
  * in a configuration string counts as called.
  *
  * The true entry points (mains, classes Spark instantiates by name,
  * the paper's own stages) and the few table operations no SQL or DSv2
  * path covers are listed with a one-line reason each in
  * `src/test/resources/callers_allow.txt`. The scan is lexical. Its
  * first pass counts a name anywhere, so it misses an uncalled def that
  * shares its name with another identifier; the per-object pass then
  * counts a def only where it can be reached: qualified as
  * `Object.name`, unqualified in its own file, or unqualified in a file
  * that imports it. `-Wunused` in build.sbt covers the private half. */
class CallersSpec extends AnyFunSuite {
  import CallersSpec._

  private lazy val sources: Seq[(Path, String)] =
    Seq("src/main", "pipebench/src").map(Paths.get(_)).filter(Files.isDirectory(_))
      .flatMap(d => Files.walk(d).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq)
      .sortBy(_.toString)
      .map(p => p -> stripComments(Files.readString(p)))

  private lazy val allow: Map[String, String] =
    Files.readAllLines(Paths.get("src/test/resources/callers_allow.txt")).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val (name, reason) = l.span(!_.isWhitespace)
        name -> reason.trim
      }.toMap

  private lazy val defs: Seq[Definition] = sources.flatMap { case (p, text) => definitions(p, text) }

  test("the scan sees the program: both source roots, known objects and defs") {
    assert(sources.exists(_._1.startsWith("pipebench")), "pipebench/src not scanned")
    val keys = defs.map(_.key).toSet
    Seq("TxnTable", "TxnTable.mergeInto", "Weather.latestPerCity", "Main")
      .foreach(k => assert(keys.contains(k), s"scan missed $k"))
  }

  test("every allow-list entry has a reason and names a scanned definition") {
    assert(allow.nonEmpty)
    allow.foreach { case (name, reason) =>
      assert(reason.nonEmpty, s"callers_allow.txt: '$name' has no reason")
    }
    val stale = allow.keySet -- defs.map(_.key)
    assert(stale.isEmpty, s"callers_allow.txt names no definition: ${stale.toSeq.sorted}")
  }

  test("no public member of the program lacks a caller outside its definition") {
    val uses = sources.flatMap(s => Identifier.findAllIn(s._2)).groupMapReduce(identity)(_ => 1)(_ + _)
    val uncalled = defs.filter(d => !allow.contains(d.key) && uses.getOrElse(d.name, 0) <= 1)
    assert(uncalled.isEmpty,
      "no caller in src/main or pipebench/src (delete it, or list it in " +
        "callers_allow.txt with a reason):\n" + uncalled.map(_.toString).mkString("\n"))
  }

  test("every public def of an object is reached through its object, its own file or an import") {
    // the `main` of an allow-listed object is that entry point itself
    def entry(d: Definition) = d.name == "main" && allow.contains(d.key.stripSuffix(".main"))
    val uncalled = defs.filter(d => d.kind == "def" && !allow.contains(d.key) && !entry(d) &&
      !sources.exists { case (p, text) => reaches(text, p == d.path, d) })
    assert(uncalled.isEmpty,
      "no qualified, same-file or imported use in src/main or pipebench/src " +
        "(delete it, or list it in callers_allow.txt with a reason):\n" +
        uncalled.map(_.toString).mkString("\n"))
  }
}

object CallersSpec {
  /** A scanned definition: `key` is the type name, or `Object.def`. */
  final case class Definition(path: Path, line: Int, kind: String, name: String, key: String) {
    override def toString: String = s"$path:$line: $kind $key"
  }

  private val TopLevel =
    """^(?:(?:final|case|abstract|sealed|private(?:\[\w+\])?)\s+)*(object|class|trait)\s+(\w+).*""".r
  private val MemberDef =
    """^  (?:(?:final|@inline|implicit|override|private(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*def\s+([A-Za-z_]\w*).*""".r
  private val Hidden = """\b(?:private|protected|override|implicit)\b""".r
  /** Identifiers as the scan counts them (`$x` interpolations count as `x`). */
  private val Identifier = """[A-Za-z_][A-Za-z0-9_]*""".r

  /** Top-level types, and the public defs of top-level objects: a def
    * at two-space indentation belongs to the last column-0 type above. */
  def definitions(p: Path, text: String): Seq[Definition] = {
    var owner: Option[(String, String)] = None
    text.split("\n", -1).toSeq.zipWithIndex.flatMap { case (line, i) =>
      line match {
        case TopLevel(kind, name) =>
          owner = Some((kind, name))
          Some(Definition(p, i + 1, kind, name, name))
        case MemberDef(name) => owner.collect {
          case ("object", obj) if Hidden.findFirstIn(line.take(line.indexOf("def "))).isEmpty =>
            Definition(p, i + 1, "def", name, s"$obj.$name")
        }
        case _ => None
      }
    }
  }

  /** Does `text` (one source file, comments stripped) use def `d`:
    * `Object.name` anywhere, or a bare `name` in the def's own file
    * (besides the definition) or in a file importing `Object._`,
    * `Object.name` or `Object.{..., name, ...}`? Import lines are not
    * uses. */
  def reaches(text: String, ownFile: Boolean, d: Definition): Boolean = {
    val obj = d.key.stripSuffix("." + d.name)
    val name = java.util.regex.Pattern.quote(d.name)
    def bare(t: String) = s"\\b$name\\b".r.findAllIn(t).size
    val imported = s"""\\bimport\\s+(?:[\\w.]+\\.)?$obj\\.(_|$name\\b|\\{[^}]*\\b(?:_|$name)\\b[^}]*\\})""".r
    val body = text.split("\n").filterNot(_.trim.startsWith("import ")).mkString("\n")
    s"\\b$obj\\s*\\.\\s*$name\\b".r.findFirstIn(text).nonEmpty ||
      (ownFile && bare(body) > 1) ||
      (!ownFile && imported.findFirstIn(text).nonEmpty && bare(body) > 0)
  }

  /** Source text with `//` and (nested) `/* */` comments removed, string
    * and character literals kept, and line breaks kept in place. */
  def stripComments(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < n) {
      if (at("\"\"\"")) {
        var j = src.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && src.charAt(j) == '"') j += 1
        out ++= src.substring(i, j); i = j
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out ++= src.substring(i, j); i = j
      } else if (src.charAt(i) == '\'' && i + 2 < n &&
          (src.charAt(i + 2) == '\'' || (src.charAt(i + 1) == '\\' && i + 3 < n && src.charAt(i + 3) == '\''))) {
        val j = if (src.charAt(i + 1) == '\\') i + 4 else i + 3
        out ++= src.substring(i, j); i = j
      } else if (at("//")) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (at("/*")) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { if (src.charAt(i) == '\n') out.append('\n'); i += 1 }
        }
      } else { out.append(src.charAt(i)); i += 1 }
    }
    out.toString
  }
}
