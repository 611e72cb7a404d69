package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The program's command-line entry points are a fixed set: the
  * registry bench and oracle dump (`Bench`, `Verify`), the plan
  * recorder (`DumpPlans`) and the data makers
  * (`MakeScale`, `ScaleSmoke`).
  * Measurements go through those and the pipeline benchmark
  * (`pipebench --trace 1`), not through one-off `main` objects: a
  * question answered once is recorded in SCALE.md, and the main that
  * answered it is recovered from history if it is ever needed again.
  */
class EntryPointsSpec extends AnyFunSuite {

  private val Kept = Set("Bench", "Verify", "DumpPlans", "MakeScale", "ScaleSmoke")

  private val ObjectDecl = """\bobject\s+(\w+)""".r
  private val MainDecl = """\bdef\s+main\s*\(""".r

  /** `object` name enclosing each `def main(` of one source file: the
    * last object declared before it.
    */
  private def mains(src: String): Seq[String] =
    MainDecl.findAllMatchIn(src).map { m =>
      ObjectDecl.findAllMatchIn(src.substring(0, m.start)).map(_.group(1)).toSeq.lastOption
        .getOrElse("<no enclosing object>")
    }.toSeq

  test("src/main declares exactly the kept entry points") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java")).toSeq
    val found = files.flatMap(p => mains(Files.readString(p)).map(_ -> p))
    val names = found.map(_._1)
    assert(names.distinct.size == names.size, s"duplicate entry points: $found")
    assert(names.toSet == Kept,
      s"unexpected: ${found.filterNot(f => Kept(f._1)).mkString(", ")}; " +
        s"missing: ${(Kept -- names).mkString(", ")}")
  }
}
