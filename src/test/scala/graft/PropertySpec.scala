package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ext.{Dedup, Multimodal, TextStats, Tokenizer}

/** Algebraic invariants over generated inputs — each property runs as
  * ONE Spark job over a generated batch (never a job per sample), with
  * fixed scalacheck seeds so failures reproduce. */
class PropertySpec extends AnyFunSuite with SparkTestSession {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val word = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  private val messyText = Gen.listOf(Gen.frequency(
    6 -> word,
    1 -> Gen.const("Café"),
    1 -> Gen.const("NAÏVE"),
    1 -> Gen.const("  "),
    1 -> Gen.const("\t"))).map(_.mkString(" "))

  test("normalizeText is idempotent and emits no uppercase/accents") {
    import spark.implicits._
    val texts = sample(Gen.listOfN(300, messyText), 1L)
    val out = texts.toDF("t")
      .select(TextStats.normalizeText(col("t")).as("n1"))
      .select(col("n1"), TextStats.normalizeText(col("n1")).as("n2"))
      .collect()
    out.foreach { r =>
      val (n1, n2) = (r.getString(0), r.getString(1))
      assert(n1 == n2, s"not idempotent: '$n1' -> '$n2'")
      assert(!n1.exists(c => c.isUpper || TextStats.accentFrom.contains(c)), n1)
      assert(!n1.contains("  "), s"uncollapsed whitespace: '$n1'")
    }
  }

  test("C4 flags match an independent Scala reference on randomized pages") {
    import spark.implicits._
    // lines mixing indentation (spaces AND tabs — the phantom-token
    // trap), word counts straddling the floor, terminal/non-terminal
    // ends, javascript mentions, braces, lorem ipsum
    val line = for {
      indent <- Gen.oneOf("", " ", "\t", "  \t")
      n <- Gen.choose(0, 8)
      ws <- Gen.listOfN(n, Gen.oneOf("alpha", "beta", "Gamma", "x1",
        "JavaScript", "lorem", "ipsum", "{code}", "plain"))
      end <- Gen.oneOf(".", "!", "?", "\"", "'", "", " ", ";")
    } yield indent + ws.mkString(" ") + end
    // CRLF coverage: pages may use \r\n separators and may end in a
    // bare \r — Java-regex `$` matches before a final \r while RE2's
    // does not, the divergence withC4Flags' split-time \r strip closes
    val page = for {
      k <- Gen.choose(0, 6)
      ls <- Gen.listOfN(k, line)
      sep <- Gen.oneOf("\n", "\r\n")
      tail <- Gen.oneOf("", "\r")
    } yield ls.mkString(sep) + tail
    val pages = sample(Gen.listOfN(400, page), 11L)
    val df = pages.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = TextStats.withC4Flags(df, "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_kept"), r.getAs[Int]("n_sentences"),
          r.getAs[Boolean]("pass_c4"), r.getAs[String]("text_c4"))).toMap
    // independent reference: plain Scala, written against the DOC'd
    // rules (not the Column code) — catches Spark-function semantics
    // drift like trim/split edge cases
    def ref(text: String) = {
      val kept = text.split("\r?\n", -1).map(_.replaceAll("\r+$", "")).filter { l =>
        val t = l.trim
        t.nonEmpty && "[.!?\"']$".r.findFirstIn(t).isDefined &&
          t.split("\\s+").count(_.nonEmpty) >= 5 &&
          !l.toLowerCase.contains("javascript")
      }
      val clean = kept.mkString("\n")
      val sentences = clean.count(c => c == '.' || c == '!' || c == '?')
      val pass = !text.toLowerCase.contains("lorem ipsum") &&
        !text.contains("{") && !text.contains("}") &&
        sentences >= 3 && kept.nonEmpty
      (kept.length, sentences, pass, clean)
    }
    pages.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == ref(t),
        s"doc $i ${t.replace("\n", "\\n")}: got=${got(i.toLong)} ref=${ref(t)}")
    }
  }

  test("sorted_count_in equals the linear-scan count on randomized arrays") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // random needles (duplicates likely: small alphabet) against a
    // random haystack, incl. empty sides — one job over 400 cases; the
    // binary search must agree with the naive scan on every row
    val tinyWord = Gen.listOfN(2, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
    val cases = sample(Gen.listOfN(400, for {
      needles <- Gen.listOf(tinyWord)
      hay <- Gen.listOf(tinyWord)
    } yield (needles, hay.distinct)), 7L)
    val rows = cases.toDF("needles", "hay")
      .withColumn("hay", sort_array(col("hay")))
      .select(
        call_function("sorted_count_in", col("needles"), col("hay")).as("fast"),
        size(filter(col("needles"),
          h => array_contains(col("hay"), h))).as("naive"),
        size(col("needles")).as("n"))
      .collect()
    rows.foreach { r =>
      assert(r.getInt(0) == math.max(r.getInt(1), 0), r.toString)
      assert(r.getInt(0) >= 0 && r.getInt(0) <= r.getInt(2), r.toString)
    }
    assert(rows.exists(_.getInt(0) > 0), "vacuous: no case ever matched")
  }

  test("jaccard is bounded, symmetric, and 1 on self") {
    import spark.implicits._
    val tokenList = Gen.listOfN(8, Gen.oneOf("a", "b", "c", "d", "e", "f"))
    val pairs = sample(Gen.listOfN(200, Gen.zip(tokenList, tokenList)), 2L)
    val out = pairs.toDF("x", "y")
      .select(Dedup.jaccard(col("x"), col("y")).as("jxy"),
        Dedup.jaccard(col("y"), col("x")).as("jyx"),
        Dedup.jaccard(col("x"), col("x")).as("jxx"))
      .collect()
    out.foreach { r =>
      val (jxy, jyx, jxx) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      assert(jxy >= 0.0 && jxy <= 1.0, jxy.toString)
      assert(jxy == jyx, s"asymmetric: $jxy != $jyx")
      assert(jxx == 1.0, s"self-jaccard $jxx != 1")
    }
  }

  test("minhash signature is invariant to shingle order") {
    import spark.implicits._
    val shingleList = Gen.nonEmptyListOf(word).map(_.take(12))
    val lists = sample(Gen.listOfN(150, shingleList), 3L)
    val withShuffled = lists.zipWithIndex.map { case (l, i) =>
      (i.toLong, l, new scala.util.Random(i).shuffle(l))
    }
    val out = withShuffled.toDF("id", "a", "b")
      .select(Dedup.minhashSignature(col("a"), 4).as("sa"),
        Dedup.minhashSignature(col("b"), 4).as("sb"))
      .collect()
    out.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        "signature changed under permutation")
    }
  }

  test("hamming distance is zero on self and symmetric") {
    import spark.implicits._
    val vals = sample(Gen.listOfN(200,
      Gen.zip(Gen.chooseNum(0L, 65535L), Gen.chooseNum(0L, 65535L))), 4L)
    val out = vals.toDF("a", "b")
      .select(Dedup.hamming16(col("a"), col("a")).cast("long").as("self"),
        Dedup.hamming16(col("a"), col("b")).cast("long").as("ab"),
        Dedup.hamming16(col("b"), col("a")).cast("long").as("ba"))
      .collect()
    out.foreach { r =>
      assert(r.getLong(0) == 0L)
      assert(r.getLong(1) == r.getLong(2))
    }
  }

  test("connected components are idempotent (a second pass is a fixpoint)") {
    import spark.implicits._
    val edgeGen = Gen.listOfN(40,
      Gen.zip(Gen.chooseNum(0L, 25L), Gen.chooseNum(0L, 25L)))
      .map(_.filter { case (a, b) => a != b })
    for (seed <- 1L to 3L) {
      val edges = sample(edgeGen, seed)
      val labels = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // every label is itself a member mapping to itself (canonical),
      // and re-running CC over (id -> component) edges changes nothing
      labels.values.foreach(c => assert(labels(c) == c,
        s"non-canonical component $c (seed $seed)"))
      val again = Dedup.connectedComponents(
        labels.toSeq.filter { case (id, c) => id != c }.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      labels.foreach { case (id, c) =>
        if (id != c) assert(again(id) == c, s"label moved for $id (seed $seed)")
      }
    }
  }

  test("PNG header round-trips arbitrary dimensions") {
    val dims = sample(Gen.listOfN(100,
      Gen.zip(Gen.chooseNum(0, Int.MaxValue), Gen.chooseNum(0, Int.MaxValue))), 6L)
    dims.foreach { case (w, h) =>
      assert(Multimodal.PngHeader.dims(Multimodal.PngHeader.prefix(w, h))
        .contains((w, h)))
    }
  }

  test("operators tolerate empty inputs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.exactDedup(empty, "text", "doc_id").count() == 0)
    assert(Dedup.nearDupPairs(empty, "text", "doc_id").count() == 0)
    assert(Dedup.simhashSignatures(empty, "text", "doc_id").count() == 0)
    assert(graft.etl.Ids.assignContiguous(empty,
      md5(col("doc_id").cast("string")), 4).count() == 0)
    val emptyLabeled = Seq.empty[(Long, String)].toDF("doc_id", "lang")
    assert(graft.etl.Sampling.sampleTemperature(emptyLabeled,
      "lang", "doc_id", target = 100).count() == 0)
  }

  // --- pixel-budget boundary (decompression-bomb guard) ---

  /** Deterministically-filled real PNG of the given dimensions. */
  private def realPng(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, (x * 31 + y * 17) & 0xFFFFFF); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Valid tiny PNG whose IHDR is patched to declare (w, h), CRC
    * recomputed — the decompression-bomb shape. */
  private def patchedBomb(w: Int, h: Int): Array[Byte] = {
    val png = realPng(2, 2)
    val bb = java.nio.ByteBuffer.wrap(png)
    bb.putInt(16, w).putInt(20, h)
    val crc = new java.util.zip.CRC32()
    crc.update(png, 12, 4 + 13) // IHDR type + 13 data bytes
    bb.putInt(29, crc.getValue.toInt)
    png
  }

  test("pixel-budget boundary: exactly-at-budget decodes, one-under falls back") {
    // every PNG payload starts 0x89..., so the byte-derived fallback's
    // feats(0) = payload(0)/128 = -0.9296875 < 0, while genuine pixel
    // features are means in [0, 1] — a deterministic path discriminator.
    val dims = sample(Gen.listOfN(24,
      Gen.zip(Gen.choose(1, 48), Gen.choose(1, 48))), 11L)
    (dims :+ ((1, 1))).foreach { case (w, h) =>
      val p = realPng(w, h)
      val px = w.toLong * h
      // budget == w*h: in budget (guard is strictly >) → pixel decode
      val (dw, dh, feats) = Multimodal.Codec.decode(p, 4, maxPixels = px)
      assert((dw, dh) == ((w, h)))
      assert(feats(0) >= 0f, s"expected pixel features at budget==w*h for ($w,$h)")
      // budget == w*h - 1: over budget → true header dims, byte fallback
      val (fw, fh, ffeats) = Multimodal.Codec.decode(p, 4, maxPixels = px - 1)
      assert((fw, fh) == ((w, h)))
      assert(ffeats(0) == p(0).toFloat / 128f && ffeats(0) < 0f,
        s"expected byte-derived fallback just over budget for ($w,$h)")
    }
  }

  test("bomb guard survives declared dims whose product overflows Int") {
    // if the budget check multiplied in Int, each of these would wrap
    // (2^32 → 0, 46341² → negative, …), "pass" the budget, and the
    // subsequent pixel decode would attempt a >2³¹-element allocation —
    // killing the JVM with an uncatchable OutOfMemoryError. The Long
    // multiply must classify them all as over-budget: true header dims
    // reported, byte-derived fallback features, no pixel allocation.
    val overflowShapes = Seq(
      (65536, 65536),             // 2^32: wraps to exactly 0 in Int
      (1 << 30, 8),               // 2^33: wraps to 0
      (Int.MaxValue, 2),          // wraps to -2
      (46341, 46341))             // just past 2^31: wraps negative
    overflowShapes.foreach { case (w, h) =>
      val bomb = patchedBomb(w, h)
      val (dw, dh, feats) = Multimodal.Codec.decode(bomb, 4)
      assert((dw, dh) == ((w, h)), s"($dw,$dh) for declared ($w,$h)")
      assert(feats(0) < 0f, s"expected byte fallback for ($w,$h)")
    }
  }

  test("scrubPii leaves no email addresses behind") {
    import spark.implicits._
    val email = for {
      u <- word; d <- word
    } yield s"$u@$d.com"
    val withPii = sample(Gen.listOfN(150, Gen.zip(messyText, email)), 7L)
      .map { case (t, e) => s"$t contact $e now" }
    val out = withPii.toDF("t")
      .select(TextStats.scrubPii(col("t")).as("s")).collect()
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}".r
    out.foreach { r =>
      assert(emailRe.findFirstIn(r.getString(0)).isEmpty, r.getString(0))
    }
  }

  test("packSequences: offsets dense per partition, seq assignment is floor(offset/budget)") {
    import spark.implicits._
    val docs = sample(Gen.listOfN(400,
      Gen.chooseNum(0, 40).map(n => List.fill(n)("tk").mkString(" "))), 11L)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    for ((budget, parts) <- Seq((16, 3), (64, 1), (7, 8))) {
      val rows = TextStats.packSequences(docs.toDF("doc_id", "text"),
        "text", "doc_id", budget, parts).collect()
      assert(rows.length == docs.size, s"budget=$budget parts=$parts")
      rows.groupBy(_.getAs[Long]("part")).foreach { case (part, rs) =>
        var run = 0L
        rs.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
          assert(r.getAs[Long]("offset") == run, s"budget=$budget $r")
          assert(r.getAs[Long]("seq_id") == part * (1L << 40) + run / budget,
            s"budget=$budget $r")
          run += r.getAs[Long]("n_tokens")
        }
      }
    }
  }

  test("chunkDocs: chunks reconstruct the token stream exactly at stride == chunk") {
    import spark.implicits._
    val docs = sample(Gen.listOfN(200,
      Gen.chooseNum(0, 50).map(n => (1 to n).map(i => s"w$i").mkString(" "))), 13L)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    // non-overlapping chunks concatenated in chunk order == original tokens
    val rebuilt = TextStats.chunkDocs(df, "text", "doc_id", chunk = 9, stride = 9)
      .groupBy("doc_id")
      .agg(concat_ws(" ", array_sort(collect_list(
        struct(col("chunk_id"), col("chunk_text"))))
        .getField("chunk_text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.foreach { case (id, t) =>
      val toks = t.split("\\s+").filter(_.nonEmpty).mkString(" ")
      if (toks.nonEmpty)
        assert(rebuilt(id) == toks, s"doc $id")
      else assert(!rebuilt.contains(id))
    }
  }

  test("rrfFuse: ranks contiguous, scores are exact contribution sums, dominance holds") {
    import spark.implicits._
    // random rank lists over 3 queries x up to 12 docs
    val pairGen = Gen.listOf(for {
      q <- Gen.choose(0L, 2L); d <- Gen.choose(0L, 11L)
    } yield (q, d)).map(_.distinct)
    (1 to 5).foreach { seed =>
      def ranked(pairs: Seq[(Long, Long)]) = pairs.groupBy(_._1).toSeq
        .flatMap { case (q, ds) =>
          ds.map(_._2).distinct.sorted.zipWithIndex
            .map { case (d, i) => (q, d, i + 1) }
        }
      val sparse = ranked(sample(pairGen, seed.toLong))
      val dense = ranked(sample(pairGen, seed + 100L))
      val fused = graft.ext.Retrieval.rrfFuse(
        sparse.toDF("query_id", "doc_id", "rank"),
        dense.toDF("query_id", "doc_id", "rank"), k = 100)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3)))
      val sMap = sparse.map(t => (t._1, t._2) -> t._3).toMap
      val dMap = dense.map(t => (t._1, t._2) -> t._3).toMap
      fused.groupBy(_._1).foreach { case (q, rows) =>
        // ranks are exactly 1..n per query
        assert(rows.map(_._4).sorted.toSeq == (1 to rows.length),
          s"seed $seed q $q")
        rows.foreach { case (_, d, rrf, _) =>
          val expect = BigDecimal(
            sMap.get((q, d)).map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
              dMap.get((q, d)).map(r => 1.0 / (60.0 + r)).getOrElse(0.0))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          assert(rrf == expect, s"seed $seed ($q,$d): $rrf != $expect")
        }
        // dominance: strictly better in both lists never ranks worse
        for ((_, a, _, ra) <- rows; (_, b, _, rb) <- rows
             if sMap.contains((q, a)) && dMap.contains((q, a)) &&
               sMap.contains((q, b)) && dMap.contains((q, b)) &&
               sMap((q, a)) < sMap((q, b)) && dMap((q, a)) < dMap((q, b)))
          assert(ra < rb, s"seed $seed: $a dominates $b but ranks worse")
      }
      // every input pair appears exactly once
      val keys = fused.map(t => (t._1, t._2)).toSet
      assert(keys == (sMap.keySet ++ dMap.keySet), s"seed $seed")
    }
  }

  // codepoints across the planes a real corpus hits: ASCII, latin-1+
  // BMP letters, CJK, supplementary-plane emoji, zero-width/combining
  // marks, whitespace — every generated string is valid UTF-16 (chars
  // built from codepoints, never raw surrogates)
  private val uniCodepoint: org.scalacheck.Gen[Int] = Gen.frequency(
    4 -> Gen.choose(0x20, 0x7E),
    2 -> Gen.choose(0xA1, 0x2FFF),
    2 -> Gen.choose(0x4E00, 0x9FFF),
    1 -> Gen.choose(0x1F300, 0x1FAFF),
    1 -> Gen.oneOf(0x200B, 0x200D, 0xFEFF, 0x0301, 0x0E01),
    1 -> Gen.oneOf(0x0A, 0x09, 0x20))
  private val uniString: org.scalacheck.Gen[String] =
    Gen.listOf(uniCodepoint)
      .map(_.flatMap(Character.toChars(_).toSeq).mkString)

  test("byte-BPE decode ∘ apply is the identity on arbitrary UTF-8") {
    import spark.implicits._
    val texts = sample(Gen.listOfN(300, uniString), 7L).distinct
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    // merges trained on the same distribution, so some products fire
    val merges = TextStats.bpeTrain(df, "text", merges = 12,
        mode = Tokenizer.ModeBytes)
      .map(m => (m._1, m._2))
    assert(merges.nonEmpty)
    val out = BpeChain(df, "text", merges, Tokenizer.ModeBytes)
      .select(col("id"), col("text"),
        TextStats.bpeDecodeBytes(col("bpe_symbols")).as("rt"),
        col("bpe_symbols"))
      .collect()
    // the apply kernel is bit-identical to the regexp-chain reference
    // on every generated string
    val viaLarge = TextStats.bpeApply(df, "text", merges, Tokenizer.ModeBytes)
      .select(col("id"), col("bpe_symbols")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    out.foreach { r =>
      assert(viaLarge(r.getLong(0)) == r.getSeq[String](3),
        s"large/regex divergence at id ${r.getLong(0)}")
    }
    out.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"round trip failed for id ${r.getLong(0)}: " +
          s"${r.getString(1).take(40)}... vs ${r.getString(2).take(40)}...")
      // closed vocabulary: every base symbol under the joiner is a
      // 2-char uppercase hex pair — nothing outside the byte alphabet
      r.getSeq[String](3).foreach { sym =>
        sym.split(TextStats.BpeJoiner).foreach(part =>
          assert(part.length == 2 && part.forall(c =>
            (c >= '0' && c <= '9') || (c >= 'A' && c <= 'F')), sym))
      }
    }
  }

  test("pretokenizer pieces partition arbitrary UTF-8; pretok round trip") {
    import spark.implicits._
    val texts = sample(Gen.listOfN(300, uniString), 11L).distinct
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    // lossless partition: concatenating the pieces reproduces the text
    val pieces = df.select(col("id"), col("text"),
        concat_ws("", TextStats.bpePiecesCol(col("text"))).as("rejoined"))
      .collect()
    pieces.foreach(r => assert(r.getString(1) == r.getString(2),
      s"pieces lost bytes at id ${r.getLong(0)}"))
    val merges = TextStats.bpeTrain(df, "text", merges = 12,
        mode = Tokenizer.ModeBytesPretok)
      .map(m => (m._1, m._2))
    assert(merges.nonEmpty)
    val out = BpeChain(df, "text", merges, Tokenizer.ModeBytesPretok)
      .select(col("id"), col("text"),
        TextStats.bpeDecodeBytes(col("bpe_symbols")).as("rt"),
        col("bpe_symbols"))
      .collect()
    val viaLarge = TextStats.bpeApply(df, "text", merges,
        Tokenizer.ModeBytesPretok)
      .select(col("id"), col("bpe_symbols")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // the vocab-size-independent RANKED apply must agree bit-for-bit
    // with the sequential replay on arbitrary UTF-8 too
    val viaRanked = TextStats.bpeApplyRankedBytesPretok(df, "text", merges)
      .select(col("id"), col("bpe_symbols")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    out.foreach { r =>
      assert(viaLarge(r.getLong(0)) == r.getSeq[String](3),
        s"large/regex divergence at id ${r.getLong(0)}")
      assert(viaRanked(r.getLong(0)) == r.getSeq[String](3),
        s"ranked/regex divergence at id ${r.getLong(0)}")
      assert(r.getString(1) == r.getString(2),
        s"pretok round trip failed for id ${r.getLong(0)}")
    }
  }

  test("pretokenizer boundary: merges never cross category runs") {
    import spark.implicits._
    // "a1" adjacency is frequent, but letter|digit sit in different
    // pieces — a pretok-trained vocabulary must never adopt the
    // ("61","31") merge the unpretokenized trainer happily learns
    val df = Seq.tabulate(50)(i => (i.toLong, "a1 a1 a1")).toDF("id", "text")
    val plain = TextStats.bpeTrain(df, "text", merges = 1,
      mode = Tokenizer.ModeBytes)
    assert(plain.head._1 == "61" && plain.head._2 == "31", plain)
    val pre = TextStats.bpeTrain(df, "text", merges = 8,
      mode = Tokenizer.ModeBytesPretok)
    pre.foreach { case (l, r, _) =>
      val prod = (l + r).replace(TextStats.BpeJoiner, "")
      val bytes = prod.grouped(2).map(Integer.parseInt(_, 16)).toSeq
      val cats = bytes.map {
        case b if b >= 'a' && b <= 'z' => 'L'
        case b if b >= '0' && b <= '9' => 'N'
        case 0x20 => 'S'
        case _ => '?'
      }
      // a space may prefix a letter run (the Ġ convention), but letter
      // and digit bytes never co-occur in one product
      assert(!(cats.contains('L') && cats.contains('N')),
        s"cross-category merge product $prod ($cats)")
    }
    // and the apply side leaves the boundary untouched even when
    // handed a cross-boundary merge from a foreign vocabulary
    val applied = TextStats.bpeApply(
        Seq((1L, "a1")).toDF("id", "text"), "text", Seq(("61", "31")),
        Tokenizer.ModeBytesPretok)
      .select("bpe_symbols").head().getSeq[String](0)
    assert(applied == Seq("61", "31"), applied)
  }
}
