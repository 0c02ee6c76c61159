package graft.operators

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The scanner behind the tier-1 source guards: every match of a regex
  * in `src/main/scala`, as (file name, enclosing class/object/trait),
  * one entry per match in file order. */
object SourceSites {
  private val typeDecl = java.util.regex.Pattern.compile("""\b(?:class|object|trait)\s+(\w+)""")

  def apply(pattern: String): Vector[(String, String)] =
    Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toVector.sorted
      .flatMap(f => in(f.getFileName.toString, Files.readString(f), pattern))

  /** Every match of `pattern` in `text` as (`file`, the innermost type
    * whose body braces enclose it, else "?"). Braces count only outside
    * comments and string and char literals, so a match after a nested
    * type's closing brace belongs to the type around it. */
  def in(file: String, text: String, pattern: String): Vector[(String, String)] = {
    val starts = pattern.r.findAllMatchIn(text).map(_.start).toVector
    val found = Array.fill(starts.size)("?")
    var next = 0
    // one entry per open brace: the type whose body it opens, if any
    var stack = List.empty[Option[String]]
    // a type header seen but its body brace not yet, and its ( [ depth
    var pending: Option[String] = None
    var parens = 0
    val decl = typeDecl.matcher(text).useTransparentBounds(true)
    var i = 0
    def at(s: String): Boolean = text.startsWith(s, i)
    def skipPast(end: String): Unit = {
      val j = text.indexOf(end, i)
      i = if (j < 0) text.length else j + end.length
    }
    def record(upTo: Int): Unit =
      while (next < starts.size && starts(next) <= upTo) {
        found(next) = stack.collectFirst { case Some(n) => n }.getOrElse("?")
        next += 1
      }
    while (i < text.length) {
      record(i)
      val c = text.charAt(i)
      if (at("//")) {
        val j = text.indexOf('\n', i)
        i = if (j < 0) text.length else j
      } else if (at("/*")) {
        var depth = 0
        do {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        } while (depth > 0 && i < text.length)
      } else if (at("\"\"\"")) {
        i += 3
        skipPast("\"\"\"")
        while (i < text.length && text.charAt(i) == '"') i += 1
      } else if (c == '"') {
        i += 1
        while (i < text.length && text.charAt(i) != '"')
          i += (if (text.charAt(i) == '\\') 2 else 1)
        i += 1
      } else if (c == '\'' && at("'\\")) {
        i += 3
        skipPast("'")
      } else if (c == '\'' && i + 2 < text.length && text.charAt(i + 2) == '\'') {
        i += 3
      } else if (decl.region(i, text.length).lookingAt()) {
        pending = Some(decl.group(1))
        parens = 0
        i = decl.end
      } else {
        c match {
          case '(' | '[' => parens += 1
          case ')' | ']' => parens -= 1
          case '{' =>
            stack = (if (parens == 0) pending else None) :: stack
            pending = None
          case '}' => stack = stack.drop(1)
          case '\n' if pending.isDefined && parens == 0 =>
            // a header continues on the next line only with extends,
            // with or its body brace
            val j = text.indexWhere(!_.isWhitespace, i)
            if (j < 0 || !Seq("extends", "with", "{").exists(text.startsWith(_, j)))
              pending = None
          case _ => ()
        }
        i += 1
      }
    }
    record(text.length)
    starts.indices.map(k => file -> found(k)).toVector
  }
}
