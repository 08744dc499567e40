package graft

import java.io.File

import scala.collection.mutable
import org.scalatest.funsuite.AnyFunSuite

/** Everything public in `src/main` is there because the engine reaches
  * it: a gate, an entry point or the perfbench harness calls it. A
  * member only a spec calls belongs in `src/test`, next to the spec.
  *
  * The scan is by name, not by symbol: it strips comments (scaladoc
  * `[[links]]` included) and the text of string literals, then looks
  * for each public member's name among the identifiers of
  * `src/main/scala` and `perfbench/harness` ([[ReachabilitySpec.Scan]]
  * says where a use counts). It reads `perfbench/` and never writes
  * it. Members that outside code reaches by name (SQL, conf strings,
  * the JVM launcher) sit on [[ReachabilitySpec.allowed]] with the
  * reason; that list only shrinks.
  */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  private def scalaFiles(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil

  private def read(f: File): String = {
    val src = scala.io.Source.fromFile(f)(scala.io.Codec.UTF8)
    try src.mkString finally src.close()
  }

  test("every public src/main member has a caller in src/main or perfbench/harness") {
    val main = new File("src/main/scala")
    val harness = new File("perfbench/harness")
    assert(main.isDirectory, s"${main.getAbsolutePath} not found")
    assert(harness.isDirectory, s"${harness.getAbsolutePath} not found")
    val sources = scalaFiles(main).map(read)
    val callers = scalaFiles(harness).map(read)
    val scan = Scan(sources, callers, allowed.keySet)
    assert(scan.members.size > 500, "the scan found too few members")
    assert(scan.unreached.isEmpty, scan.unreached.map(_.key)
      .mkString("public members no src/main or harness code calls: ", ", ", ""))
    // an entry whose member is gone, or is called now, leaves the list
    val bare = Scan(sources, callers, Set.empty)
    val declared = bare.members.map(_.key).toSet
    val stale = allowed.keys.filter(k => !declared(k) || bare.live(k)).toSeq.sorted
    assert(stale.isEmpty, stale.mkString("allow-list entries to delete: ", ", ", ""))
  }

  test("dev/ holds no uncompiled .scala probe") {
    val dev = new File("dev")
    assert(dev.isDirectory, s"${dev.getAbsolutePath} not found")
    assert(scalaFiles(dev).map(_.getName) === Nil)
  }

  test("the scan skips comments, string text, imports and private members") {
    val lib =
      """package graft
        |import graft.Other._
        |/** See [[Lib.onlyInDoc]]. */
        |object Lib {
        |  def called(x: Int): Int = helper(x) // onlyInComment
        |  private def helper(x: Int): Int = x
        |  def onlyInDoc: Int = 1
        |  def onlyInString: String = "onlyInString"
        |  def spliced: Int = 2
        |  val msg = s"${spliced} $viaImport"
        |  override def toString: String = "Lib"
        |  case class Row(named: Int)
        |  def local(): Int = { def inner = 1; val tmp = inner; tmp }
        |}
        |class Holder { def uncalled(named: Int = 0): Int = Lib.called(named = 1) }
        |""".stripMargin
    val other = "object Other { def viaImport: Int = 3 }"
    // a bare name in a file that neither declares nor imports it is a local
    val caller = "object Caller { val r = Lib.Row(1); val h = new Holder; def g(uncalled: Int) = uncalled }"
    val scan = Scan(Seq(lib, other, caller), Nil, Set.empty)
    assert(scan.members.map(_.key).toSet === Set("Lib", "Lib.called", "Lib.onlyInDoc",
      "Lib.onlyInString", "Lib.spliced", "Lib.msg", "Lib.Row", "Lib.local", "Other",
      "Other.viaImport", "Holder", "Holder.uncalled", "Caller", "Caller.r", "Caller.h",
      "Caller.g"))
    val dead = Set("Lib.onlyInDoc", "Lib.onlyInString", "Lib.msg", "Lib.local",
      "Holder.uncalled", "Caller", "Caller.r", "Caller.h", "Caller.g")
    assert(scan.unreached.map(_.key).toSet === dead)
    // a root keeps itself and the object around it
    assert(Scan(Seq(lib, other, caller), Nil, Set("Caller.r")).unreached.map(_.key).toSet ===
      dead -- Set("Caller", "Caller.r"))
    // a caller file adds uses, not members
    assert(Scan(Seq(lib, other), Seq(caller), Set.empty).members.map(_.owner).toSet ===
      Set("", "Lib", "Other", "Holder"))
  }
}

object ReachabilitySpec {

  private val launcher = "a JVM entry point: run as graft.<Object>"
  private val sqlSurface = "Column form of a registered SQL function; no gate uses the Column form"

  /** Public members that code outside src/main and the harness reaches
    * by name: member key ("Owner.name") -> why it stays.
    */
  val allowed: Map[String, String] = Map(
    "SparkEntry.entry" -> "the driver contract: the driver smoke-checks its rows",
    "GraftExtensions" -> "named in spark.sql.extensions by users who build their own session",
    "Bench.main" -> launcher,
    "Verify.main" -> launcher,
    "Quickstart.main" -> launcher,
    "CodecExpressions.size_decode" -> sqlSurface,
    "CodecExpressions.size_encode" -> sqlSurface,
    "CodecExpressions.key_extract" -> sqlSurface,
    "LandedCatalog.expire" -> "only specs reach it: catalog retention no gate runs yet (ROADMAP)",
  )

  /** One public member of source file number `file`: `owner` is the
    * dotted path of its enclosing objects, classes and traits, empty
    * at package level.
    */
  final case class Member(owner: String, name: String, file: Int) {
    def key: String = if (owner.isEmpty) name else s"$owner.$name"
  }

  /** The members `sources` declare and which of them are live. A
    * member is live when it is one of `roots`, when a member inside it
    * is live, or when code uses its name where it can mean the member:
    * after a `.`, anywhere in its own file, or bare in a file that
    * imports the name or opens its object (`import Obj._`). A bare
    * name elsewhere is a local or a parameter. Package-level members
    * are visible bare everywhere. `callers` add uses only.
    */
  final case class Scan(sources: Seq[String], callers: Seq[String], roots: Set[String]) {
    private val parsed = sources.zipWithIndex.map { case (s, i) => parseFile(s, i) } ++
      callers.map(s => parseFile(s, -1).copy(members = Nil))
    val members: Seq[Member] = parsed.flatMap(_.members)
    private val dotted = parsed.flatMap(_.dotted).toSet
    private val byKey = members.groupBy(_.key)
    private val byOwner = members.groupBy(_.owner)
    private def used(m: Member): Boolean = dotted(m.name) || parsed.exists { p =>
      p.bare(m.name) && (m.owner.isEmpty || p.file == m.file || p.imported(m.name) ||
        p.opened(m.owner.split('.').last))
    }
    private def live(m: Member): Boolean =
      roots(m.key) || used(m) || byOwner.getOrElse(m.key, Nil).exists(live)
    def live(key: String): Boolean = byKey.getOrElse(key, Nil).exists(live)
    def unreached: Seq[Member] = members.filterNot(live)
  }

  /** One source file: its members, the names it uses after a `.` and
    * bare, the names its imports mention and the objects they open.
    */
  private final case class Parsed(file: Int, members: Seq[Member], dotted: Set[String],
      bare: Set[String], imported: Set[String], opened: Set[String])

  private val importClause = """(?m)^\s*import\s[^\n{]*(\{[^}]*\})?""".r
  private val wildcard = """(\w+)\s*\.\s*_(?!\w)""".r

  private def parseFile(src: String, file: Int): Parsed = {
    val code = codeOf(src)
    val imports = importClause.findAllIn(code).toSeq
    parse(importClause.replaceAllIn(code, " "), file).copy(
      imported = imports.flatMap(token.findAllIn).toSet,
      opened = imports.flatMap(wildcard.findAllMatchIn(_).map(_.group(1))).toSet)
  }

  private def isIdent(c: Char) = c.isLetterOrDigit || c == '_' || c == '$'

  /** `src` with comments removed and string-literal text blanked. An
    * interpolated string keeps its `$name` and `${...}` splices, which
    * are code.
    */
  private def codeOf(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def at(k: Int): Char = if (k < n) src(k) else '\u0000'
    def blockComment(): Unit = {
      var depth = 0
      while (i < n && (depth > 0 || src.startsWith("/*", i))) {
        if (src.startsWith("/*", i)) { depth += 1; i += 2 }
        else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
        else { if (src(i) == '\n') out += '\n'; i += 1 }
      }
      out += ' '
    }
    def string(): Unit = {
      val interpolated = i > 0 && isIdent(src(i - 1))
      val triple = src.startsWith("\"\"\"", i)
      def closes = if (triple) src.startsWith("\"\"\"", i) else src(i) == '"'
      i += (if (triple) 3 else 1)
      out += ' '
      while (i < n && !closes) {
        if (!triple && src(i) == '\\') i += 2
        else if (interpolated && src(i) == '$' && at(i + 1) == '{') {
          i += 2; out += ' '; code(inSplice = true); out += ' '
        } else if (interpolated && src(i) == '$' && isIdent(at(i + 1)) && at(i + 1) != '$') {
          val start = i + 1
          i += 1
          while (i < n && isIdent(src(i)) && src(i) != '$') i += 1
          out ++= " " ++= src.substring(start, i) += ' '
        } else i += (if (interpolated && src(i) == '$') 2 else 1)
      }
      i += (if (triple) 3 else 1)
      while (triple && at(i) == '"') i += 1
    }
    // code up to the end of `src`, or inside a `${...}` splice up to its `}`
    def code(inSplice: Boolean): Unit = {
      var depth = 0
      var done = false
      while (i < n && !done) {
        val ch = src(i)
        if (src.startsWith("//", i)) while (i < n && src(i) != '\n') i += 1
        else if (src.startsWith("/*", i)) blockComment()
        else if (ch == '"') string()
        else if (ch == '\'' && at(i + 1) == '\\') {
          i += 3
          while (i < n && src(i) != '\'') i += 1
          i += 1; out += ' '
        } else if (ch == '\'' && at(i + 2) == '\'') { i += 3; out += ' ' }
        else if (inSplice && ch == '}' && depth == 0) { i += 1; done = true }
        else {
          if (inSplice && ch == '{') depth += 1
          if (inSplice && ch == '}') depth -= 1
          out += ch; i += 1
        }
      }
    }
    code(inSplice = false)
    out.toString
  }

  private val token =
    ("""`[^`\n]+`|0[xX][0-9a-fA-F_]+[lL]?|[0-9][0-9_]*(\.[0-9]+)?([eE][+-]?[0-9]+)?[lLfFdD]?""" +
      """|[A-Za-z_$][A-Za-z0-9_$]*|[{}()\[\],;.@]|[!#%&*+\-/:<=>?^|~\\]+|\S""").r

  private val modifiers = Set("private", "protected", "override", "final", "implicit",
    "lazy", "sealed", "abstract", "case")
  private val terms = Set("def", "val", "var", "type")
  private val templates = Set("class", "object", "trait")
  private val keywords = modifiers ++ terms ++ templates ++ Set("package", "extends",
    "with", "new", "this", "super", "if", "else", "match", "for", "yield", "while", "do",
    "try", "catch", "finally", "throw", "return", "true", "false", "null")

  private sealed trait Frame
  private final case class Template(path: String) extends Frame
  private case object Block extends Frame
  private case object Group extends Frame

  /** The public members `code` declares and the identifiers it uses.
    * A member is a `def`/`val`/`var`/`type`/`class`/`object`/`trait`
    * directly inside a template body or at package level. A declared
    * name, a binder (`x: T`) and a named argument (`f(x = 1)`) are not
    * uses.
    */
  private def parse(code: String, file: Int): Parsed = {
    val toks = token.findAllIn(code).filterNot(t => t.head.isDigit).toVector
    def tok(k: Int): String = if (k < toks.size) toks(k) else ""
    val members = mutable.ArrayBuffer.empty[Member]
    val dotted = mutable.Set.empty[String]
    val bare = mutable.Set.empty[String]
    var stack = List.empty[Frame]
    var pending: Option[(String, Int)] = None // a template header awaiting `{`
    var hidden = false // a private, protected or override modifier is pending
    def owner = stack.collectFirst { case Template(p) => p }.getOrElse("")
    def inTemplate = stack.headOption.forall(_.isInstanceOf[Template])
    def declare(name: String): Unit = {
      if (inTemplate && name != "this" && !hidden)
        members += Member(owner, name.stripPrefix("`").stripSuffix("`"), file)
      hidden = false
    }
    var k = 0
    while (k < toks.size) {
      val t = toks(k)
      if (t == "package") {
        k += 1
        while (tok(k + 1) == ".") k += 2
      } else if (t == "@" && tok(k + 1).headOption.exists(_.isLetter)) {
        k += 1 // an annotation, not a pattern binder `x @ (...)`
        while (tok(k + 1) == ".") k += 2
      } else if (t == "private" || t == "protected") {
        hidden = true
        if (tok(k + 1) == "[") k += 3
      } else if (t == "override") hidden = true
      else if (modifiers(t)) ()
      else if (terms(t)) {
        pending = pending.filter(_._2 != stack.size)
        if (tok(k + 1) != "(") { declare(tok(k + 1)); k += 1 }
        hidden = false
      } else if (templates(t)) {
        pending = pending.filter(_._2 != stack.size)
        val name = tok(k + 1)
        declare(name)
        val path = if (owner.isEmpty) name else s"$owner.$name"
        pending = Some((path, stack.size))
        k += 1
      } else if (t == "{") {
        stack = (pending match {
          case Some((path, depth)) if depth == stack.size => pending = None; Template(path)
          case _ => Block
        }) :: stack
        hidden = false
      } else if (t == "(" || t == "[") stack = Group :: stack
      else if (t == "}" || t == ")" || t == "]") {
        stack = stack.drop(1)
        pending = pending.filter(_._2 <= stack.size)
      } else {
        hidden = false
        val binder = tok(k + 1) == ":" && tok(k + 2) != "_"
        val namedArg = tok(k + 1) == "=" && stack.headOption.contains(Group)
        val refs = if (k > 0 && toks(k - 1) == ".") dotted else bare
        if (isIdent(t.head) && !keywords(t) && !binder && !namedArg) refs += t
        else if (t.head == '`') refs += t.stripPrefix("`").stripSuffix("`")
      }
      k += 1
    }
    Parsed(file, members.toSeq, dotted.toSet, bare.toSet, Set.empty, Set.empty)
  }
}
