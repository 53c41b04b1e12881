package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.load` infers a single-file table's schema once per session, and
  * again once the file is rewritten; a directory table is inferred on
  * every load. */
class TablesSpec extends AnyFunSuite with SparkSpecBase {
  import spark.implicits._

  /** The one part file `df` writes, with no checksum file beside it. */
  private def partFile(df: DataFrame, scratch: Path): Path = {
    val out = scratch.resolve("out-" + System.nanoTime())
    df.coalesce(1).write.parquet(out.toString)
    val s = Files.list(out)
    try s.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
    finally s.close()
  }

  private def withDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("tables-spec")
    try body(dir) finally FileUtils.deleteDirectory(dir.toFile)
  }

  test("a table loaded again runs no schema-inference job") {
    Tables.documents(spark, sfSmoke)
    assert(jobsOf(Tables.documents(spark, sfSmoke)) == 0)
  }

  test("a rewritten single-file table is inferred again") {
    withDir { dir =>
      val table = dir.resolve("t.parquet")
      Files.move(partFile(Seq((1L, "a")).toDF("x", "y"), dir), table)
      assert(Tables.load(spark, dir.toString, "t").columns.toSeq == Seq("x", "y"))
      Files.move(partFile(Seq((1L, 2.0, "b")).toDF("x", "z", "y"), dir), table,
        StandardCopyOption.REPLACE_EXISTING)
      val again = Tables.load(spark, dir.toString, "t")
      assert(again.columns.toSeq == Seq("x", "z", "y"))
      assert(again.as[(Long, Double, String)].collect().toSeq == Seq((1L, 2.0, "b")))
    }
  }

  test("a directory table whose part file is rewritten in place is inferred again") {
    withDir { dir =>
      val table = dir.resolve("t.parquet")
      Seq((1L, "a")).toDF("x", "y").coalesce(1).write.parquet(table.toString)
      // the checksum files would reject the rewritten bytes
      FileUtils.listFiles(table.toFile, Array("crc"), false).forEach(f => Files.delete(f.toPath))
      val part = {
        val s = Files.list(table)
        try s.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
        finally s.close()
      }
      assert(Tables.load(spark, dir.toString, "t").columns.toSeq == Seq("x", "y"))
      // same file name, new bytes: the directory's own entries do not change
      Files.write(part, Files.readAllBytes(partFile(Seq((1L, 2.0, "b")).toDF("x", "z", "y"), dir)))
      val again = Tables.load(spark, dir.toString, "t")
      assert(again.columns.toSeq == Seq("x", "z", "y"))
      assert(again.as[(Long, Double, String)].collect().toSeq == Seq((1L, 2.0, "b")))
    }
  }
}
