package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-13 staging fix: a DIRECTORY-shaped fixture is sized by
  * the sum of its part files, not the ~4 KiB directory entry — so a big
  * single-part directory table stages into a wide multi-file layout (its
  * scan parallelizes), while a directory that already carries enough part
  * files is read in place, and a genuinely small one is left alone.
  */
class TablesStagingSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private def freshDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_stagingspec_$tag")
    d.toString
  }

  // documents is a cpu-heavy table: its staging threshold is 192 KiB, so a
  // modest synthetic corpus exercises the directory-sizing path cheaply
  private def writeDocs(dir: String, parts: Int): Unit = {
    val s = spark
    import s.implicits._
    // ~1 KiB of doc-dependent hex per row: repeated literal text snappy-
    // compresses below the staging threshold and defeats the size test
    (0L until 2000L).map(i => (i, "src")).toSeq
      .toDF("doc_id", "source")
      .withColumn("text", expr(
        "concat_ws('', transform(sequence(0, 31), k -> md5(cast(doc_id * 37 + k AS string))))"))
      .repartition(parts)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("big single-part directory fixture stages into a wide layout") {
    val dir = freshDir("wide")
    writeDocs(dir, parts = 1)
    val src = Paths.get(s"$dir/documents.parquet")
    assert(Files.isDirectory(src), "fixture must be directory-shaped")
    // the bug this pins: Files.size(directory) is ~4 KiB, far under the
    // 192 KiB cpu-heavy threshold, so the old code read it in place
    assert(Files.size(src) < (192L << 10),
      "precondition: the DIRENT size must sit under the staging threshold " +
        "or this spec stops testing the directory-sizing path")
    val df = Tables(spark, dir).documents
    val files = df.inputFiles
    assert(files.length > 1,
      s"a >192 KiB single-part directory table must stage wide, got ${files.length} file(s)")
    assert(files.head.contains("graft_tbl_"),
      s"staged reads come from the published graft_tbl_ layout, got ${files.head}")
    assert(df.count() == 2000L)
  }

  test("already-wide directory fixture is read in place; small dir untouched") {
    val dir = freshDir("inplace")
    writeDocs(dir, parts = 16) // >= stageFileCount cap, already wide
    val wide = Tables(spark, dir).documents
    assert(wide.inputFiles.forall(_.contains(s"documents.parquet")),
      s"an already-wide layout must be read zero-copy, got ${wide.inputFiles.head}")
    assert(wide.inputFiles.length >= 16)

    val small = freshDir("small")
    val s = spark
    import s.implicits._
    Seq((1L, "tiny", "src")).toDF("doc_id", "text", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$small/region.parquet")
    // region is not cpu-heavy: threshold 2 MiB, one tiny part — in place
    val r = Tables(spark, small).region
    assert(r.inputFiles.forall(_.contains("region.parquet")),
      s"a small directory fixture must not stage, got ${r.inputFiles.head}")
  }

  test("table reads are kept per session: reused within one, never shared") {
    val s1 = spark
    val s2 = s1.newSession()
    val a = Tables(s1, TestSpark.Sf0001).table("orders")
    assert(Tables(s1, TestSpark.Sf0001).table("orders") eq a)
    val b = Tables(s2, TestSpark.Sf0001).table("orders")
    assert(!(b eq a))
    assert(a.sparkSession eq s1)
    assert(b.sparkSession eq s2)
    assert(Tables(s2, TestSpark.Sf0001).table("orders") eq b)
  }
}
