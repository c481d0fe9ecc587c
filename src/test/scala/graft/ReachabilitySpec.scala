package graft

import graft.SourceTree.{files, read}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Every public definition in the curation layer has a root. A public
  * `def`/`val`/`var`/`object`/`class`/`trait` declared in `graft.ops`,
  * `graft.functions`, `graft.streaming` or `graft.sources` must be
  * named (comments and string text stripped) by main code outside its
  * own declaration, by `perfbench/src`, `scripts/` or `.claude/skills/`,
  * or by [[ReachabilitySpec.Roots]]. Specs do not count: code that only
  * a spec calls is deleted, or moved into `src/test` when a spec uses
  * it as an oracle.
  *
  * The check is by name, so it is one-sided: a definition that shares
  * its name with a reached one passes. Definitions reached only through
  * other unreached ones surface one layer per deletion.
  */
class ReachabilitySpec extends AnyFunSuite with Matchers {
  import ReachabilitySpec._

  private val Checked = Seq("ops", "functions", "streaming", "sources")
    .map(p => s"src/main/scala/graft/$p/")

  private lazy val main: Seq[(String, String)] =
    files("src/main/scala", ".scala").map(p => p.toString -> stripped(read(p)))

  private lazy val declared: Seq[(String, Decl)] =
    main.flatMap { case (path, text) => decls(text).map(path -> _) }

  test("every public definition in ops/functions/streaming/sources is reached by a root") {
    val outside = (files("perfbench/src", "") ++ files("scripts", "") ++
      files(".claude/skills", "")).map { p =>
        if (p.toString.endsWith(".scala")) stripped(read(p)) else read(p)
      }
    val spansByName = declared.groupBy(_._2.name)
    def rooted(path: String, d: Decl): Boolean =
      declared.exists { case (q, r) =>
        q == path && Roots.contains(r.name) && r.start <= d.start && d.start < r.end
      }
    def named(name: String): Boolean = {
      val word = s"\\b${java.util.regex.Pattern.quote(name)}\\b".r
      outside.exists(word.findFirstIn(_).isDefined) ||
        main.exists { case (path, text) =>
          val own = spansByName(name).collect { case (`path`, r) => (r.start, r.end) }
          word.findAllMatchIn(text).exists(m => !own.exists { case (a, b) => a <= m.start && m.start < b })
        }
    }
    val unreached = declared.collect {
      case (path, d) if d.public && Checked.exists(path.startsWith) &&
          !rooted(path, d) && !named(d.name) =>
        s"$path:${main.toMap.apply(path).take(d.start).count(_ == '\n') + 1} ${d.name}"
    }
    withClue("public definitions no root names (delete them, move a spec oracle into " +
        "src/test, or add a root with its reason): ") {
      unreached shouldBe empty
    }
  }

  test("every root names a definition that still exists") {
    Roots.keySet.filterNot(r => declared.exists(_._2.name == r)) shouldBe empty
  }
}

object ReachabilitySpec {

  /** Definitions that no main code names but that stay, each with its
    * reason. A root covers everything declared inside it.
    */
  val Roots: Map[String, String] = Map(
    "StreamingWriter" ->
      "the reference's streaming sink API (trigger, checkpoint, query status and stop)",
    "WrappedDataFrameStreamWriter" ->
      "the reference's chained stream-writer builder",
    "StreamingDqMetricsListener" ->
      "the reference's streaming DQ stats listener (per-batch counts, notifier, stats table)",
    "GraftExtensions" ->
      "loaded by class name through spark.sql.extensions; registers the SQL functions",
    "releasePairCaches" ->
      ("releases Dedup's pair-tier caches; it gets a caller once timed benchmark runs " +
        "stop reusing the warm-up's caches (ROADMAP direction 3)"))

  /** A member declaration: its name, where it starts, where its text
    * ends (the next declaration at the same depth or the enclosing
    * brace), and whether it is public (no `private`/`protected`, not an
    * `override` or `implicit`).
    */
  final case class Decl(name: String, start: Int, end: Int, public: Boolean)

  /** `src` with comments and string/char literal text blanked; offsets
    * and newlines are kept, and so is the code inside `$name` and
    * `${...}` interpolations.
    */
  def stripped(src: String): String = {
    val out = src.toCharArray
    val n = src.length
    def isIdent(c: Char) = c.isLetterOrDigit || c == '_'
    def blank(from: Int, until: Int, interpolated: Boolean): Unit = {
      var k = from
      while (k < until) {
        if (interpolated && src(k) == '$' && k + 1 < until && src(k + 1) == '{') {
          var depth = 0
          var j = k + 1
          while (j < until && !(src(j) == '}' && depth == 1)) {
            if (src(j) == '{') depth += 1 else if (src(j) == '}') depth -= 1
            j += 1
          }
          out(k) = ' '; out(k + 1) = ' '
          if (j < until) out(j) = ' '
          k = j + 1
        } else if (interpolated && src(k) == '$' && k + 1 < until &&
            (src(k + 1).isLetter || src(k + 1) == '_')) {
          out(k) = ' '
          k += 1
          while (k < until && isIdent(src(k))) k += 1
        } else {
          if (out(k) != '\n') out(k) = ' '
          k += 1
        }
      }
    }
    var i = 0
    while (i < n) {
      val interpolated = i > 0 && isIdent(src(i - 1))
      if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i) match { case -1 => n; case e => e }
        blank(i, j, interpolated = false); i = j
      } else if (src.startsWith("/*", i)) {
        val j = src.indexOf("*/", i + 2) match { case -1 => n; case e => e + 2 }
        blank(i, j, interpolated = false); i = j
      } else if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3) match { case -1 => n; case e => e + 3 }
        while (j < n && src(j) == '"') j += 1
        blank(i + 3, j - 3, interpolated); i = j
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        blank(i + 1, math.min(j, n), interpolated); i = j + 1
      } else if (src(i) == '\'' && i + 2 < n && src(i + 1) != '\\' && src(i + 2) == '\'') {
        blank(i + 1, i + 2, interpolated = false); i += 3
      } else if (src(i) == '\'' && i + 3 < n && src(i + 1) == '\\' && src(i + 3) == '\'') {
        blank(i + 1, i + 3, interpolated = false); i += 4
      } else i += 1
    }
    new String(out)
  }

  private val Token = """[A-Za-z_][A-Za-z0-9_]*|==|=>|<=|>=|!=|<-|[{}()\[\]=;\n]|\S""".r
  private val Keywords = Set("def", "val", "var", "object", "class", "trait")
  private val Hidden = Set("private", "protected", "override", "implicit")

  /** Member declarations of stripped source `text`: those whose every
    * enclosing brace is a template body (`object`/`class`/`trait`), so
    * locals inside a method body are not members.
    */
  def decls(text: String): Seq[Decl] = {
    val toks = Token.findAllMatchIn(text).map(m => (m.matched, m.start)).toIndexedSeq
    val stack = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    var paren = 0
    var template = false
    val found = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int, Boolean)]
    toks.indices.foreach { i =>
      val t = toks(i)._1
      if (t == "(" || t == "[") paren += 1
      else if (t == ")" || t == "]") paren -= 1
      else if (paren == 0) t match {
        case "{" => stack += template; template = false
        case "}" => if (stack.nonEmpty) stack.remove(stack.length - 1)
        case "object" | "class" | "trait" => template = true
        case "=" | "def" | "val" | "var" => template = false
        case _ =>
      }
      if (paren == 0 && Keywords(t) && stack.forall(identity) && i + 1 < toks.length &&
          toks(i + 1)._1.head.isLetter) {
        val mods = toks.take(i).reverseIterator.map(_._1)
          .takeWhile(m => !Set("\n", ";", "{", "}")(m)).toSet
        found += ((toks(i + 1)._1, toks(i)._2, stack.length, (mods & Hidden).isEmpty))
      }
    }
    found.indices.map { i =>
      val (name, start, depth, public) = found(i)
      val next = found.iterator.drop(i + 1).find(_._3 <= depth).map(_._2).getOrElse(text.length)
      var balance = 0
      var end = next
      var k = start
      while (k < next && end == next) {
        if (text(k) == '{') balance += 1
        else if (text(k) == '}') { balance -= 1; if (balance < 0) end = k }
        k += 1
      }
      Decl(name, start, end, public)
    }.toSeq
  }
}
