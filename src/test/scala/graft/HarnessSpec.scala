package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.ScratchCache

/** Every harness session comes from `Harness.session()`, so a profile or a
  * correctness dump runs with the confs the bench times; the harness JVM
  * keeps the generated code of a repeated query resident, and
  * `Harness.release` frees only its own session's cached frames. */
class HarnessSpec extends AnyFunSuite with SparkSpecBase {
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

  test("a second round of q27, q51 and q162 compiles no class: their generated code stays resident") {
    spark.catalog.clearCache() // isolate from earlier suites' own caches
    ScratchCache.releaseAll()
    val names = Seq("q27_ngram_jaccard", "q51_dedup_groups", "q162_streamed_sink")
    def round(): Long = {
      val c0 = Harness.compiledClasses()
      names.foreach { n => SparkEntry.queries(n)(spark, sfSmoke).count(); Harness.release(spark) }
      Harness.compiledClasses() - c0
    }
    round()
    val again = round()
    // a 100-entry cache (Spark's default) evicts q51's classes while q51
    // itself runs, so the second round would recompile them
    assert(again == 0, s"second round compiled $again classes: is the test JVM " +
      "missing build.sbt's spark.sql.codegen.* options?")
    assert(spark.sharedState.cacheManager.isEmpty, "a dedup query left a frame cached")
    // the count is live: code never seen before compiles
    val c0 = Harness.compiledClasses()
    spark.range(3).selectExpr(s"id * ${System.nanoTime()}L AS x").collect()
    assert(Harness.compiledClasses() > c0)
  }

  test("Harness.release frees its own session's registered frames and no other session's") {
    ScratchCache.releaseAll() // isolate from earlier suites
    val other = spark.newSession()
    val mine = ScratchCache.register(spark.range(10).toDF("x").persist())
    val theirs = ScratchCache.register(other.range(20).toDF("y").persist())
    mine.count(); theirs.count()
    Harness.release(spark)
    assert(mine.storageLevel == StorageLevel.NONE)
    assert(theirs.storageLevel != StorageLevel.NONE)
    assert(ScratchCache.registered == 1)
    Harness.release(other)
    assert(theirs.storageLevel == StorageLevel.NONE)
    assert(ScratchCache.registered == 0)
  }

  test("Harness.release deletes the scratch directories q52 and q162 created") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratch(): Set[String] = tmp.listFiles().map(_.getName)
      .filter(n => n.startsWith("graft-band-index") || n.startsWith("graft-streamsink-")).toSet
    val before = scratch()
    for (q <- Seq("q52_incremental_dedup", "q162_streamed_sink")) {
      assert(SparkEntry.queries(q)(spark, sfSmoke).collect().nonEmpty, q)
    }
    assert((scratch() -- before).size == 2, "each query should have made its directory")
    Harness.release(spark)
    assert((scratch() -- before).isEmpty, (scratch() -- before).mkString(", "))
  }

  test("Harness.release deletes the scratch directories of the versioned-store queries") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val queries = Seq("q89_time_travel", "q90_merge_upsert", "q91_change_feed",
      "q96_schema_evolution", "q101_incremental_agg")
    // each directory is named after its query id: graft-q89..., graft-q101...
    val prefixes = queries.map(q => "graft-" + q.takeWhile(_ != '_'))
    def scratch(): Set[String] = tmp.listFiles().map(_.getName)
      .filter(n => prefixes.exists(n.startsWith)).toSet
    val before = scratch()
    for (q <- queries) {
      assert(SparkEntry.queries(q)(spark, sfSmoke).collect().nonEmpty, q)
    }
    assert((scratch() -- before).size == queries.size, "each query should have made its directory")
    Harness.release(spark)
    assert((scratch() -- before).isEmpty, (scratch() -- before).mkString(", "))
  }
}
