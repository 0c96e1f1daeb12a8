package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.ext.{TextStats, Tokenizer}

/** The incremental (batched-speculative) BPE trainer must adopt the
  * EXACT sequence the rescan trainer adopts — same pairs, same order,
  * same pre-merge frequencies — because certification never accepts a
  * step it cannot prove against exact delta-adjusted counts. The
  * verdict-prescribed depth is 512 merges; the synthetic corpus is
  * sized so that run crosses from the high-count head deep into the
  * tie-heavy count-1 tail (the regime that stresses the window-floor
  * and freshness reasoning hardest). */
class BpeIncrementalSpec extends AnyFunSuite {

  implicit lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val synth = {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val vocab = Vector("pay", "card", "txn", "shop", "food", "tax", "fee",
      "sub", "net", "vat", "tip", "ref", "pos", "atm", "usd", "eur")
    val df = (0 until 400).map { i =>
      (i.toLong, Seq.fill(40)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }.toDF("id", "text")
    df.persist().count()
    df
  }

  test("adopted-merge sequence equals the rescan path for 512 merges") {
    val inc = TextStats.bpeTrainIncremental(synth, "text", 512)
    val res = TextStats.bpeTrain(synth, "text", 512)
    assert(inc.size == 512 && res.size == 512)
    val firstDiff = inc.zip(res).indexWhere { case (a, b) => a != b }
    assert(inc == res,
      s"diverged at merge $firstDiff: inc=${inc.lift(firstDiff)} " +
        s"rescan=${res.lift(firstDiff)}")
  }

  test("sequence equality holds on the fixture sample (128 merges)") {
    val fx = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text")
    val inc = TextStats.bpeTrainIncremental(fx, "text", 128)
    val res = TextStats.bpeTrain(fx, "text", 128)
    assert(inc == res, s"fixture divergence: ${inc.zip(res).indexWhere(t => t._1 != t._2)}")
  }

  test("byte and byte-pretok seeding equal their batch trainers") {
    // the unicode zoo ∪ a fixture slice: multi-byte UTF-8, emoji,
    // RTL — the regime where byte seeding earns its keep
    val fx = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .where(org.apache.spark.sql.functions.col("doc_id") < 100)
      .select("doc_id", "text")
      .unionByName(graft.ext.UnicodeFixture.df(spark)
        .select("doc_id", "text"))
    val incB = TextStats.bpeTrainIncremental(fx, "text", 128,
      mode = Tokenizer.ModeBytes)
    val resB = TextStats.bpeTrain(fx, "text", 128, mode = Tokenizer.ModeBytes)
    assert(incB == resB,
      s"bytes divergence at ${incB.zip(resB).indexWhere(t => t._1 != t._2)}")
    val incP = TextStats.bpeTrainIncremental(fx, "text", 96,
      mode = Tokenizer.ModeBytesPretok)
    val resP = TextStats.bpeTrain(fx, "text", 96,
      mode = Tokenizer.ModeBytesPretok)
    assert(incP == resP,
      s"pretok divergence at ${incP.zip(resP).indexWhere(t => t._1 != t._2)}")
    intercept[IllegalArgumentException](
      TextStats.bpeTrainIncremental(fx, "text", 1, mode = "hexish"))
  }

  test("degenerate inputs: zero merges, exhausted corpus, empty corpus") {
    import spark.implicits._
    assert(TextStats.bpeTrainIncremental(synth, "text", 0) == Seq.empty)
    // a two-token corpus exhausts after one merge
    val tiny = Seq((1L, "a b")).toDF("id", "text")
    val t = TextStats.bpeTrainIncremental(tiny, "text", 10)
    assert(t == Seq(("a", "b", 1L)), t.toString)
    val empty = Seq.empty[(Long, String)].toDF("id", "text")
    assert(TextStats.bpeTrainIncremental(empty, "text", 5) == Seq.empty)
  }

  test("every execution mode adopts the identical sequence (knob matrix)") {
    // small corpora engage the driver table + local endgame almost
    // immediately, so the distributed deep branches would otherwise
    // lose direct coverage; force each mode with the override knobs
    // and pin all of them to the rescan truth
    val res = TextStats.bpeTrain(synth, "text", 192)
    // (a) fully distributed: no driver table, no endgame — the
    // takeOrdered window + window-floor certification path
    val dist = TextStats.bpeTrainIncremental(synth, "text", 192,
      driverTableMaxPairs = 0, driverCorpusMaxSymbols = 0L)
    assert(dist == res,
      s"distributed diverged at ${dist.zip(res).indexWhere(t => t._1 != t._2)}")
    // (b) driver table but NO endgame — complete-knowledge
    // certification grinding through the tie storm batch by batch
    val noEnd = TextStats.bpeTrainIncremental(synth, "text", 192,
      driverCorpusMaxSymbols = 0L)
    assert(noEnd == res,
      s"no-endgame diverged at ${noEnd.zip(res).indexWhere(t => t._1 != t._2)}")
    // (c) default: driver table + local endgame (covered again for
    // completeness of the matrix)
    val full = TextStats.bpeTrainIncremental(synth, "text", 192)
    assert(full == res,
      s"default diverged at ${full.zip(res).indexWhere(t => t._1 != t._2)}")
  }

  test("joiner-bearing raw corpus still trains correctly (freshness guard)") {
    import spark.implicits._
    // raw tokens already containing the joiner glyph disable the
    // freshness shortcut; adoption must still match the rescan path
    val j = TextStats.BpeJoiner
    val docs = (0 until 60).map { i =>
      (i.toLong, s"x${j}y a b a b c${i % 5} x${j}y a")
    }.toDF("id", "text")
    val inc = TextStats.bpeTrainIncremental(docs, "text", 24)
    val res = TextStats.bpeTrain(docs, "text", 24)
    assert(inc == res,
      s"diverged at ${inc.zip(res).indexWhere(t => t._1 != t._2)}")
  }
}
