package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The guards' scanner names a match's enclosing type by brace depth,
  * not by the nearest type header above it. */
class SourceSitesSpec extends AnyFunSuite {

  private def sites(text: String) = SourceSites.in("F.scala", text, """hit\(""").map(_._2)

  test("a match after a nested type closes belongs to the enclosing type") {
    val text =
      """object Outer {
        |  final class Inner private (a: Int,
        |                             b: Int) {
        |    def x = hit(1)
        |  }
        |  def y = hit(2)
        |}
        |""".stripMargin
    assert(sites(text) == Vector("Inner", "Outer"))
  }

  test("bodiless types, extends lines, and braces in comments and literals") {
    val text =
      """package p
        |
        |object Outer {
        |  final case class P(a: Int) // no body
        |  def f(x: Int): Int = {
        |    hit(x)
        |  }
        |  class Q(a: Int)
        |    extends Runnable {
        |    def run(): Unit = hit(0) // a stray } here
        |    /* { nested /* } */ { */
        |    val s = "}" + s"${'}'}" + '{' + '\'' + '"'
        |    val t = TRIPLE}TRIPLE
        |  }
        |  val z = hit(3)
        |}
        |object Other { val w = hit(4) }
        |""".stripMargin.replace("TRIPLE", "\"" * 3)
    assert(sites(text) == Vector("Outer", "Q", "Outer", "Other"))
  }

  test("a match outside every type is '?'") {
    assert(sites("package p\nimport q.hit(\n") == Vector("?"))
  }
}
