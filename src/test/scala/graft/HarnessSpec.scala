package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every harness session comes from `Harness.session()`, so a profile or a
  * correctness dump runs with the confs the bench times. */
class HarnessSpec extends AnyFunSuite {
  test("no main source but Harness.scala calls SparkSession.builder()") {
    val root = Paths.get("src/main/scala")
    val call = """SparkSession\s*\.\s*builder\s*\(""".r
    val sources = {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(sources.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    // code lines only: a doc comment may show a builder call
    def calls(p: Path): Boolean = Files.readAllLines(p).asScala.exists { l =>
      val t = l.trim
      !t.startsWith("*") && !t.startsWith("//") && call.findFirstIn(t).nonEmpty
    }
    val builders = sources.filter(calls).map(root.relativize(_).toString)
    assert(builders == List("graft/Harness.scala"), builders.mkString(", "))
  }
}
