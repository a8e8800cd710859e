package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One implementation per native kernel: graft's physical operators run
  * as iterator operators, and every generated-code path of a graft
  * expression calls the expression's own Scala kernel through a
  * reference object instead of re-implementing it as Java text. */
class CodegenDesignSuite extends AnyFunSuite {

  private def sources(dir: String): Seq[(String, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"sources not found at $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))
    finally walk.close()
  }

  test("no class under src/main/scala/graft mixes in CodegenSupport") {
    val mixin = """\b(extends|with)\s+[\w.]*(CodegenSupport|OperatorWithCodegen)\b""".r
    val hits = sources("src/main/scala/graft")
      .flatMap { case (f, src) => mixin.findAllIn(src).map(m => s"$f: $m") }
    assert(hits.isEmpty, s"hand-written operator codegen: ${hits.mkString("; ")}")
  }

  test("every doGenCode under graft/functions reaches its kernel through addReferenceObj") {
    def indent(l: String): Int = l.takeWhile(_ == ' ').length
    val bodies = for {
      (f, src) <- sources("src/main/scala/graft/functions")
      lines = src.linesIterator.toVector
      (l, i) <- lines.zipWithIndex if l.contains("def doGenCode(")
    } yield f -> lines.drop(i + 1)
      .takeWhile(b => b.trim.isEmpty || indent(b) > indent(l)).mkString("\n")
    assert(bodies.map(_._1).toSet.contains("VectorExpressions.scala"),
      s"doGenCode not found: ${bodies.map(_._1)}")
    val inline = bodies.filterNot(_._2.contains("addReferenceObj(")).map(_._1)
    assert(inline.isEmpty, s"doGenCode without a kernel reference in: ${inline.mkString(", ")}")
  }
}
