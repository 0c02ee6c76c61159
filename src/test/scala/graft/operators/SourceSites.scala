package graft.operators

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The scanner behind the tier-1 source guards: every match of a regex
  * in `src/main/scala`, as (file name, enclosing class/object/trait),
  * one entry per match in file order. */
object SourceSites {
  private val typeName =
    """^\s*(?:(?:private|final|sealed|abstract|case)(?:\[\w+\])?\s+)*(?:class|object|trait)\s+(\w+)""".r.unanchored

  def apply(pattern: String): Vector[(String, String)] =
    Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toVector.sorted
      .flatMap { f =>
        val text = Files.readString(f)
        val lines = text.split("\n", -1).toVector
        pattern.r.findAllMatchIn(text).map { m =>
          val line = text.substring(0, m.start).count(_ == '\n')
          f.getFileName.toString ->
            (line to 0 by -1).map(lines).collectFirst { case typeName(n) => n }.getOrElse("?")
        }
      }
}
