package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** The banded near-dup paths share one candidate join: the canonical
  * (least, greatest) pair packing of the batch probe and the hot-band cap
  * live in `Dedup.bandCandidates` alone, and the cap is a constant, not a
  * session conf. */
class BandCandidatesSpec extends AnyFunSuite {
  test("one band-candidate join packs pairs canonically; no cap conf key") {
    val dir = Paths.get("src/main/scala/graft/ops")
    val sources = {
      val s = Files.list(dir)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(sources.exists(_.getFileName.toString == "Dedup.scala"),
      s"no Dedup.scala under ${dir.toAbsolutePath}")
    val text = sources.map(p => p.getFileName.toString -> Files.readString(p))
    val pack = Regex.quote("PackedPair.pack(least(").r
    val packSites = text.flatMap { case (f, t) => pack.findAllMatchIn(t).map(_ => f) }
    assert(packSites == List("Dedup.scala"), packSites.mkString(", "))
    val conf = text.collect { case (f, t) if t.contains("graft.lsh.hotBandCap") => f }
    assert(conf.isEmpty, conf.mkString(", "))
  }
}
