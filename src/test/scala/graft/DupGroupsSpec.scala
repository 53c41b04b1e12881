package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The near-dup pair generators share one duplicate collapse: the regime
  * gate and the member expansion live in `DupGroups` alone. */
class DupGroupsSpec extends AnyFunSuite {
  test("under graft/ops only DupGroups.scala names the gate and expansion columns") {
    val dir = Paths.get("src/main/scala/graft/ops")
    // the gate's hash-count column and the expansion's member-id columns
    val owned = """\b_(hc|ia|ib)\b""".r
    val sources = {
      val s = Files.list(dir)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(sources.exists(_.getFileName.toString == "DupGroups.scala"),
      s"no DupGroups.scala under ${dir.toAbsolutePath}")
    val naming = sources.filter(p => owned.findFirstIn(Files.readString(p)).nonEmpty)
      .map(_.getFileName.toString)
    assert(naming == List("DupGroups.scala"), naming.mkString(", "))
  }
}
