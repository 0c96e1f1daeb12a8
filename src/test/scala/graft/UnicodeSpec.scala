package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, TextStats, UnicodeFixture}

/** Spark-side unicode semantics pins. The q_unicode_* oracle family
  * proves cross-engine agreement; this spec pins the ENGINE-ONLY
  * contracts — codepoint (not UTF-16-unit) counting, script ID,
  * case-mapping behavior the oracles deliberately avoid, NFC/NFD
  * byte distinction, and byte-exact parquet/JSON round trips. */
class UnicodeSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  lazy val zoo = UnicodeFixture.df(spark)

  test("fixture pin: every planted doc carries non-ASCII; NFC/NFD byte-distinct") {
    // the compile-time require in UnicodeFixture plus this runtime pin
    // make an ASCII-decayed fixture fail in two places
    val na = zoo.select(col("doc_id"),
      TextStats.nonAsciiCount(col("text")).as("na")).collect()
    assert(na.forall(_.getAs[Any]("na").toString.toLong > 0),
      na.filter(_.getAs[Any]("na").toString.toLong == 0).mkString(","))
    val Seq(nfc, nfd) = UnicodeFixture.docs
      .filter(d => d._1 == 700014L || d._1 == 700015L).map(_._3)
    assert(nfc != nfd, "NFC and NFD rows must be byte-distinct")
    assert(java.text.Normalizer.normalize(nfd, java.text.Normalizer.Form.NFC)
      == nfc, "NFD row must normalize to the NFC row")
  }

  test("length counts codepoints, octet_length counts UTF-8 bytes") {
    val r = Seq(("🚀", 1), ("👩‍👩‍👧‍👦", 7), ("中文", 2), ("café", 4))
      .toDF("s", "expected_cp")
      .select(length(col("s")).as("cp"), octet_length(col("s")).as("b"),
        col("expected_cp"))
      .collect()
    r.foreach(row => assert(row.getInt(0) == row.getInt(2),
      s"codepoint count: $row"))
    // 🚀 = U+1F680: 1 codepoint (NOT 2 UTF-16 units), 4 UTF-8 bytes
    val rocket = r(0)
    assert(rocket.getInt(0) == 1 && rocket.getInt(1) == 4)
    // ZWJ family: 4 emoji + 3 ZWJ = 7 codepoints, 4*4+3*3 = 25 bytes
    assert(r(1).getInt(1) == 25)
  }

  test("whitespace tokenizer is ASCII-centric: ideographic space does NOT split") {
    val got = Seq("ＦＵＬＬ　ｗｉｄｔｈ", "a b", "中文 テスト")
      .toDF("text")
      .select(size(graft.ml.Featurize.tokensCol(col("text"))))
      .collect().map(_.getInt(0)).toSeq
    // U+3000 is not \s in Java regex (nor RE2) — one token; ASCII
    // space splits; CJK with an ASCII space splits into 2
    assert(got == Seq(1, 2, 2), got.toString)
  }

  test("withScriptId picks the dominant script per planted doc") {
    val got = TextStats.withScriptId(zoo, "text", "script")
      .select("doc_id", "lang", "script").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val byId = got.map(t => t._1 -> t._3).toMap
    val expect = Map(
      700001L -> "han", 700002L -> "han",        // zh
      700004L -> "katakana",                     // katakana-heavy ja
      700005L -> "hangul", 700006L -> "arabic",
      700007L -> "hebrew", 700008L -> "cyrillic",
      700009L -> "greek", 700010L -> "devanagari",
      700011L -> "thai",
      700014L -> "latin", 700015L -> "latin",    // accented latin
      700017L -> "und")                          // fullwidth forms: no range
    expect.foreach { case (id, s) =>
      assert(byId(id) == s, s"doc $id: got ${byId(id)} expected $s")
    }
    // hiragana beats han in the mixed ja doc (more kana than kanji)
    assert(byId(700003L) == "hiragana", byId(700003L))
    // ASCII corpus rows → latin
    val ascii = TextStats.withScriptId(
      Seq((1L, "the quick brown fox")).toDF("doc_id", "text"),
      "text", "script").select("script").head().getString(0)
    assert(ascii == "latin")
  }

  test("case mapping: safe mappings hold; hazards documented") {
    val r = Seq(("STRASSE", "ÄÖÜ", "ΑΒΓΔ", "straße"))
      .toDF("a", "b", "c", "d")
      .select(lower(col("a")), lower(col("b")), lower(col("c")),
        upper(col("d")))
      .head()
    assert(r.getString(0) == "strasse")
    assert(r.getString(1) == "äöü")
    assert(r.getString(2) == "αβγδ")
    // JVM 1:1 mapping keeps ß through upper as SS (full case mapping)
    // or ß (simple) — pin whichever the engine does so a Spark upgrade
    // that silently changes case tables fails here first
    assert(r.getString(3) == "STRASSE" || r.getString(3) == "STRAßE",
      r.getString(3))
  }

  test("NFC and NFD spellings survive exact dedup as distinct docs") {
    val two = zoo.where(col("doc_id").isin(700014L, 700015L))
      .select("doc_id", "text")
    val kept = Dedup.exactDedup(two, "text", "doc_id")
    assert(kept.count() == 2, "no engine may silently normalize")
  }

  test("parquet and JSON round-trip planted unicode byte-exactly") {
    val dir = java.nio.file.Files.createTempDirectory("uni_rt").toString
    zoo.write.mode("overwrite").parquet(s"$dir/p")
    zoo.write.mode("overwrite").json(s"$dir/j")
    val expected = UnicodeFixture.docs.map(d => (d._1, d._3)).toSet
    val fromParquet = spark.read.parquet(s"$dir/p")
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    val fromJson = spark.read.schema(zoo.schema).json(s"$dir/j")
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(fromParquet == expected)
    assert(fromJson == expected)
  }

  test("nfc_normalize composes NFD to NFC, idempotent, unifies dedup keys") {
    val n = (c: org.apache.spark.sql.Column) =>
      TextStats.nfcNormalized(spark, c)
    // the planted NFD row normalizes to EXACTLY the NFC row's bytes
    val two = zoo.where(col("doc_id").isin(700014L, 700015L))
      .select(col("doc_id"), n(col("text")).as("nt"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(two(700014L) == two(700015L))
    assert(two(700014L) == UnicodeFixture.docs
      .find(_._1 == 700014L).get._3) // NFC side unchanged
    // dedup AFTER normalization collapses the pair (before: distinct)
    val normed = zoo.select(col("doc_id"), n(col("text")).as("text"))
    val kept = Dedup.exactDedup(normed, "text", "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(700014L) && !kept.contains(700015L), kept.toString)
    // idempotence + null contract + ASCII passthrough
    val r = Seq(("abc", "é"), (null, "x"))
      .toDF("a", "b")
      .select(n(col("a")).as("na"), n(n(col("b"))).as("nb2"),
        n(col("b")).as("nb"))
      .collect()
    assert(r(0).getString(0) == "abc")
    assert(r(0).getString(1) == r(0).getString(2) &&
      r(0).getString(2) == "é")
    assert(r(1).isNullAt(0))
    // the expression must run INSIDE whole-stage codegen (no fence) —
    // checked over a parquet scan (a local relation short-circuits to
    // LocalTableScan with no codegen stage at all)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = docs.select(n(col("text")))
      .queryExecution.executedPlan.toString
    // "*(n)" marks operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [nfc_normalize"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
  }

  test("grapheme_count: UAX #29 extended clusters (modern GB9c semantics)") {
    val g = (c: org.apache.spark.sql.Column) =>
      TextStats.graphemeCount(spark, c)
    val rows = Seq(
      ("👩‍👩‍👧‍👦", 1),  // ZWJ family: 7 codepoints, ONE grapheme
      ("🇯🇵", 1),           // regional-indicator flag pair
      ("👋🏽", 1),           // skin-tone modifier sequence
      ("café", 4),          // NFC
      ("café", 4),         // NFD: combining acute joins its base
      ("a\r\nb", 3),        // GB3: CRLF is one cluster
      ("中文abc", 5),
      ("नमस्ते", 3),         // Unicode 15.1 GB9c Indic conjuncts (ICU 77;
                            // utf8proc-era counting gives 4 — version skew
                            // documented at q_unicode_graphemes)
      ("", 0))
      .toDF("s", "expected")
      .select(g(col("s")).as("got"), col("expected"), col("s"))
      .collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"'${r.getString(2)}': got ${r.getInt(0)} want ${r.getInt(1)}"))
    // null contract + codegen placement over a parquet scan
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = docs.select(g(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [grapheme_count"), plan)
    assert(Seq((null: String, 1)).toDF("s", "x")
      .select(g(col("s"))).head().isNullAt(0))
  }

  test("splitSentences: terminal clusters, trailing fragment, CJK fullwidth") {
    // ASCII default set: "!?"-cluster attaches to its sentence; the
    // unterminated tail survives as a final fragment sentence
    val ascii = TextStats.splitSentences(
      Seq((1L, "did we read it!? yes. trailing tail with no end"))
        .toDF("doc_id", "text"), "text", "doc_id")
      .orderBy("sent_idx").collect()
      .map(r => (r.getInt(1), r.getString(2), r.getInt(3)))
    assert(ascii.toSeq == Seq(
      (0, "did we read it!?", 4), (1, "yes.", 1),
      (2, "trailing tail with no end", 5)), ascii.mkString("|"))
    // CJK: 。！？ in the terminal set segments whitespace-free text;
    // n_words documents the whitespace-token count (1 per sentence)
    val cjk = TextStats.splitSentences(
      Seq((2L, "这是第一句。第二句！最后一句？")).toDF("doc_id", "text"),
      "text", "doc_id", sentenceChars = ".!?。！？")
      .orderBy("sent_idx").collect()
      .map(r => (r.getString(2), r.getInt(3)))
    assert(cjk.toSeq == Seq(("这是第一句。", 1), ("第二句！", 1),
      ("最后一句？", 1)), cjk.mkString("|"))
    // pure whitespace between sentences never yields an empty sentence
    val ws = TextStats.splitSentences(
      Seq((3L, "one.   two.   ")).toDF("doc_id", "text"), "text", "doc_id")
      .collect()
    assert(ws.length == 2 && ws.forall(_.getString(2).nonEmpty))
    // \n / \t whitespace fragments are dropped too (trailing newline
    // after the last terminal used to survive as an n_words=0 row)
    val nl = TextStats.splitSentences(
      Seq((4L, "one. two.\n"), (5L, "a.\t\n \tb.\t")).toDF("doc_id", "text"),
      "text", "doc_id")
      .orderBy("doc_id", "sent_idx").collect()
      .map(r => (r.getLong(0), r.getString(2)))
    assert(nl.toSeq == Seq((4L, "one."), (4L, "two."),
      (5L, "a."), (5L, "b.")), nl.mkString("|"))
    // terminal sets carrying character-class syntax are rejected, not
    // silently miscompiled (the set is spliced into a [...] class)
    for (badSet <- Seq("", ".!]", "a-z", ".\\", "^.", ".&&!"))
      intercept[IllegalArgumentException] {
        TextStats.sentencesCol(lit("x"), badSet)
      }
  }

  test("md5 hashes UTF-8 bytes (reference value)") {
    // md5('中文') over UTF-8 bytes — fixed reference value, so a
    // charset regression (e.g. platform-default encoding) fails loudly
    val got = Seq("中文").toDF("s").select(md5(col("s"))).head().getString(0)
    val ref = java.security.MessageDigest.getInstance("MD5")
      .digest("中文".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    assert(got == ref && got == "a7bac2239fcdcb3a067903d8077c4a07", got)
  }
}
