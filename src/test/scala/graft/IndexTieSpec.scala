package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Dedup

/** A change batch whose id holds two changes at its latest `seq` is
  * refused before anything is written: the merge keeps every tied
  * change, so applying it would leave the id in the index once per
  * tied row. The layout's bytes must be the same after the refusal. */
class IndexTieSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  /** Every file under `dir`, by relative path, with its md5. */
  private def md5s(dir: String): Map[String, String] = {
    val root = java.nio.file.Paths.get(dir)
    val files = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map { p =>
          val digest = java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(p))
          root.relativize(p).toString -> digest.map("%02x".format(_)).mkString
        }.toMap
    } finally files.close()
  }

  test("a hash batch with two upserts of one id at one seq raises, layout untouched") {
    val idir = tmp("tie_hash")
    Dedup.writeHashIndex((0L until 20L).map(i => (i, i * 7919L)).toDF("doc_id", "dhash"),
      "doc_id", "dhash", idir, nPrefix = 8)
    val before = md5s(idir)
    val tied = Seq((2L, 99L, 1L, "u"), (2L, 12345L, 1L, "u"), (5L, 7L, 1L, "u"))
      .toDF("doc_id", "dhash", "seq", "op")
    val e = intercept[IllegalArgumentException](
      Dedup.updateHashIndex(idir, tied, "doc_id", "dhash"))
    assert(e.getMessage.contains("1 id(s)") && e.getMessage.endsWith(": 2"),
      e.getMessage)
    assert(md5s(idir) == before)
    // the same batch with the tie ordered applies, and rewrites dirs
    val ordered = Seq((2L, 99L, 1L, "u"), (2L, 12345L, 2L, "u"))
      .toDF("doc_id", "dhash", "seq", "op")
    assert(Dedup.updateHashIndex(idir, ordered, "doc_id", "dhash").nonEmpty)
    assert(md5s(idir) != before)
  }

  test("a band change delivered twice at one seq raises, layout untouched") {
    val idir = tmp("tie_band")
    val docs = (0L until 20L).map(i => (i, s"doc $i says w$i and w${i + 1} then w${i + 2}"))
      .toDF("doc_id", "text")
    Dedup.writeBandIndex(docs, "text", "doc_id", idir)
    val before = md5s(idir)
    val change = (3L, "a replaced text for document three", 4L, "u")
    val twice = Seq(change, change).toDF("doc_id", "text", "seq", "op")
    val e = intercept[IllegalArgumentException](
      Dedup.updateBandIndex(idir, twice, "text", "doc_id"))
    assert(e.getMessage.startsWith("requirement failed: updateBandIndex: ") &&
      e.getMessage.endsWith(": 3"), e.getMessage)
    assert(md5s(idir) == before)
  }
}
