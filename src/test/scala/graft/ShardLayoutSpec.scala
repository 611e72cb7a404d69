package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The `batch=<id>` shard layout lives behind one module,
  * `graft.operators.ShardStore`: it is the only writer of a shard and
  * the only reader of the layout. Any other `src/main` string literal
  * that spells `batch=` would be a second copy of the layout.
  */
class ShardLayoutSpec extends AnyFunSuite {

  private val Owner = Paths.get("src/main/scala/graft/operators/ShardStore.scala")

  /** The string literals of one Scala source: plain, interpolated and
    * triple-quoted, with comments skipped (a comment may name the
    * layout; only code builds paths).
    */
  private def literals(src: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (at("//")) i = src.indexOf('\n', i) match { case -1 => src.length; case j => j }
      else if (at("/*")) {
        var depth = 0
        do {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        } while (depth > 0 && i < src.length)
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3) match { case -1 => src.length; case j => j }
        out += src.substring(i + 3, end)
        i = end + 3
      } else if (at("\"")) {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        out += src.substring(i + 1, math.min(j, src.length))
        i = j + 1
      } else if (at("'\"'")) i += 3 // the char literal '"'
      else i += 1
    }
    out.result()
  }

  private def mainSources: Seq[Path] =
    Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  test("the scanner finds ShardStore's own batch= literal and skips comments") {
    assert(literals(Files.readString(Owner)).exists(_.contains("batch=")))
    val src = "// \"batch=1\"\n/* s\"batch=2\" /* nested */ */ val p = s\"$r/x\"; val q = '\"'\n" +
      "val t = \"\"\"a \"batch=3\" b\"\"\""
    assert(literals(src) == Seq("$r/x", "a \"batch=3\" b"))
  }

  test("no src/main string literal outside ShardStore spells a batch= path") {
    val offenders = for {
      p <- mainSources if p.normalize != Owner.normalize
      lit <- literals(Files.readString(p)) if lit.contains("batch=")
    } yield s"$p: \"$lit\""
    assert(offenders.isEmpty,
      s"batch= paths built outside ShardStore:\n${offenders.mkString("\n")}")
  }
}
