package graft.ext

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Tokenizer ARTIFACT handling — the piece that turns a trained BPE
  * merge list into something a training job can ship: a single
  * versioned text file, written atomically, loaded back bit-exact.
  * Merge lists are driver data by construction (bounded at vocab
  * size, the same class as centroids and frozen-LM models), so the
  * artifact write is plain file IO — no Spark job, no part files.
  *
  * Format (`graft-bpe v1` — merges only):
  * {{{
  * graft-bpe\tv1\t<n_merges>
  * <left>\t<right>\t<pair_count>
  * ...
  * }}}
  *
  * Format (`graft-bpe v2` — what a trainer actually consumes: the
  * merges PLUS the special-token table and, implied by line order, the
  * deterministic vocab-id assignment):
  * {{{
  * graft-bpe\tv2\t<n_merges>\t<n_special>
  * #special\t<role>\t<token>          (× n_special; id = line index)
  * <left>\t<right>\t<pair_count>      (× n_merges; product id =
  * ...                                 n_special + merge index)
  * }}}
  * Ids never depend on corpus content or load order: special token i
  * (artifact order) has id i, and the product of merge j (training
  * order, symbol `left + BpeJoiner + right`) has id n_special + j —
  * so every consumer of the same artifact derives the identical
  * [[BpeArtifact.vocabIds]] map with no id column stored.
  *
  * Format (`graft-bpe v3` — adds the MODE field: `words` artifacts
  * keep writing v2 byte-for-byte so existing readers are unaffected;
  * `bytes` artifacts — [[TextStats.bpeTrain]] hex-pair seeding,
  * closed vocabulary over arbitrary UTF-8 — need the consumer to use
  * the matching seeder, so the mode rides in the header):
  * {{{
  * graft-bpe\tv3\t<n_merges>\t<n_special>\t<mode>
  * ...same sections as v2...
  * }}}
  *
  * Format (`graft-bpe v4` — RANKED serving artifacts for
  * [[TextStats.bpeApplyRankedBytesPretok]]: each merge line carries
  * its explicit rank, and the save runs the trainer-order validation
  * ONCE — a consumer loads the pair→rank table directly and never
  * replays the merge list nor re-derives ranks from line order; the
  * loader verifies rank == line index, so a reordered or spliced
  * artifact fails loudly instead of mis-ranking silently):
  * {{{
  * graft-bpe\tv4\t<n_merges>\t<n_special>\t<mode>\tranked
  * #special\t<role>\t<token>             (× n_special)
  * <left>\t<right>\t<pair_count>\t<rank> (× n_merges; rank = merge index)
  * }}}
  * v1-v3 readers are unchanged: words artifacts still write v2 and
  * bytes artifacts v3 unless the caller asks for a ranked artifact.
  *
  * Symbols come from whitespace-split tokens, so neither side can
  * contain a tab or newline — the separator is unambiguous by
  * construction. Line order IS merge order (BPE apply is
  * order-sensitive); the count column is provenance only.
  *
  * The write lands under a temp name and moves into place atomically
  * — a crashed writer leaves either the old artifact or none, never a
  * truncated merge list silently mis-tokenizing a corpus.
  */
object Tokenizer {

  private val Magic = "graft-bpe"
  private val Version = "v1"
  private val Version2 = "v2"
  private val Version3 = "v3"
  private val Version4 = "v4"
  private val RankedTag = "ranked"
  private val SpecialTag = "#special"

  /** Tokenizer modes, the `mode` of [[TextStats.bpeTrain]] and
    * [[TextStats.bpeApply]] (seeded by [[TextStats.bpeUnitsCol]]):
    * `words` seeds from whitespace tokens; `bytes` seeds from UTF-8
    * hex-pair symbols (closed vocabulary over arbitrary input);
    * `bytes-pretok` is byte seeding BEHIND the
    * [[TextStats.BpePretokPattern]] category-run pretokenizer — the
    * boundary rule is part of the tokenizer's identity (the same merge
    * list tokenizes differently with and without it), so it rides in
    * the mode field like the seeder does. A consumer MUST apply the matching
    * seeder+pretokenizer; the mode rides in the artifact (v3) rather
    * than in folklore. */
  val ModeWords = "words"
  val ModeBytes = "bytes"
  val ModeBytesPretok = "bytes-pretok"

  /** The conventional special-token table (role → literal). */
  val DefaultSpecials: Seq[(String, String)] = Seq(
    "bos" -> "<s>", "eos" -> "</s>", "pad" -> "<pad>", "unk" -> "<unk>")

  /** A trainer-consumable tokenizer: ordered merges + ordered special
    * tokens. Id assignment is positional and therefore deterministic
    * (see the v2 format note). `ranked = true` marks a v4 artifact:
    * the merge list passed trainer-order validation at save time and
    * carried explicit verified ranks through the load, so rank-based
    * apply may consume it without re-validating. */
  case class BpeArtifact(merges: Seq[(String, String, Long)],
                         specials: Seq[(String, String)],
                         mode: String = ModeWords,
                         ranked: Boolean = false) {
    require(mode == ModeWords || mode == ModeBytes || mode == ModeBytesPretok,
      s"unknown tokenizer mode '$mode'")
    specials.foreach { case (role, tok) =>
      require(role.matches("[a-z_]+"), s"special role '$role'")
      require(tok.nonEmpty && !tok.exists(_.isWhitespace),
        s"unencodable special token '$tok'")
    }
    require(specials.map(_._1).distinct.size == specials.size,
      s"duplicate special roles in ${specials.map(_._1)}")
    require(specials.map(_._2).distinct.size == specials.size,
      s"duplicate special literals in ${specials.map(_._2)}")

    /** Deterministic vocab ids: specials first (artifact order), then
      * each merge's product symbol in training order. Fails loudly if
      * a special literal collides with a merge product — such an
      * artifact would tokenize ambiguously. */
    def vocabIds: Map[String, Int] = {
      val products = merges.map { case (l, r, _) =>
        l + TextStats.BpeJoiner + r }
      val clash = specials.map(_._2).toSet intersect products.toSet
      require(clash.isEmpty, s"special tokens collide with merge products: $clash")
      // first occurrence wins: two merges can legitimately yield the
      // same surface symbol (("a▁b","c") and ("a","b▁c")); the symbol
      // is indistinguishable downstream, so it keeps its FIRST id
      (specials.map(_._2) ++ products).zipWithIndex
        .foldLeft(Map.empty[String, Int]) { case (m, (s, i)) =>
          if (m.contains(s)) m else m.updated(s, i)
        }
    }

    /** The id a consumer maps unknown symbols to, if an `unk` special
      * is declared. */
    def unkId: Option[Int] =
      specials.zipWithIndex.collectFirst { case (("unk", _), i) => i }
  }

  private def requireEncodable(merges: Seq[(String, String, Long)]): Unit =
    merges.foreach { case (l, r, _) =>
      require(l.nonEmpty && r.nonEmpty && !l.exists(_.isWhitespace) &&
        !r.exists(_.isWhitespace), s"unencodable merge pair ($l, $r)")
    }

  private def writeAtomic(path: String, lines: Seq[String]): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    val tmp = p.resolveSibling(s".${p.getFileName}.tmp")
    Files.write(tmp, lines.asJava, StandardCharsets.UTF_8)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Atomically write `merges` (training order) to `path` (v1). */
  def saveMerges(merges: Seq[(String, String, Long)], path: String): Unit = {
    requireEncodable(merges)
    writeAtomic(path, s"$Magic\t$Version\t${merges.size}" +:
      merges.map { case (l, r, n) => s"$l\t$r\t$n" })
  }

  /** Atomically write a full artifact: v2 for words, v3 for the byte
    * modes, v4 when the artifact is RANKED (explicit rank column,
    * trainer-order validated here so serving loads skip it). */
  def saveArtifact(artifact: BpeArtifact, path: String): Unit = {
    requireEncodable(artifact.merges)
    if (artifact.ranked)
      TextStats.requireTrainerOrdered(
        artifact.merges.map(m => (m._1, m._2)), "saveArtifact(ranked)")
    // words-mode artifacts stay v2 byte-for-byte (every existing v2
    // reader keeps working); only a bytes-mode artifact needs the v3
    // header that records the seeder
    val header =
      if (artifact.ranked)
        s"$Magic\t$Version4\t${artifact.merges.size}\t${artifact.specials.size}\t${artifact.mode}\t$RankedTag"
      else if (artifact.mode == ModeWords)
        s"$Magic\t$Version2\t${artifact.merges.size}\t${artifact.specials.size}"
      else
        s"$Magic\t$Version3\t${artifact.merges.size}\t${artifact.specials.size}\t${artifact.mode}"
    val mergeLines =
      if (artifact.ranked)
        artifact.merges.zipWithIndex.map { case ((l, r, n), k) => s"$l\t$r\t$n\t$k" }
      else artifact.merges.map { case (l, r, n) => s"$l\t$r\t$n" }
    writeAtomic(path,
      header +:
        (artifact.specials.map { case (role, tok) =>
          s"$SpecialTag\t$role\t$tok" } ++ mergeLines))
  }

  /** Load a v1-v4 artifact. A v1 file loads with an empty specials
    * table. Fails loudly on a foreign file, an unknown version,
    * section counts that do not match the header (a torn or
    * concatenated artifact), or a v4 rank column that disagrees with
    * line order (a reordered/spliced ranked artifact would silently
    * mis-rank every downstream corpus). */
  def loadArtifact(path: String): BpeArtifact = {
    val lines = Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8)
      .asScala.toSeq
    val header = lines.headOption.getOrElse(
      throw new IllegalStateException(s"empty tokenizer artifact $path"))
    def parseMerges(ls: Seq[String], n: Int,
                    ranked: Boolean = false): Seq[(String, String, Long)] = {
      val merges = ls.zipWithIndex.map { case (ln, k) =>
        (ln.split("\t", -1), ranked) match {
          case (Array(l, r, c), false) => (l, r, c.toLong)
          case (Array(l, r, c, rank), true) =>
            if (rank.toInt != k) throw new IllegalStateException(
              s"reordered ranked artifact $path: line $k carries rank $rank")
            (l, r, c.toLong)
          case _ => throw new IllegalStateException(
            s"malformed merge line in $path: '$ln'")
        }
      }
      if (merges.size != n) throw new IllegalStateException(
        s"torn artifact $path: header says $n merges, found ${merges.size}")
      merges
    }
    def parseSectioned(n: Int, s: Int, mode: String,
                       ranked: Boolean = false): BpeArtifact = {
      // Section boundary comes from the HEADER count, not a prefix
      // scan: span(startsWith("#special\t")) would absorb a
      // legitimate merge whose left symbol is literally "#special"
      // (possible from a raw corpus token) into the specials
      // section and mis-report a torn artifact.
      val (specialLines, mergeLines) = lines.tail.splitAt(s)
      if (specialLines.size != s ||
          specialLines.exists(!_.startsWith(SpecialTag + "\t")))
        throw new IllegalStateException(
          s"torn artifact $path: header says $s specials, " +
            s"found ${specialLines.count(_.startsWith(SpecialTag + "\t"))}")
      val specials = specialLines.map { ln =>
        ln.split("\t", -1) match {
          case Array(SpecialTag, role, tok) => (role, tok)
          case _ => throw new IllegalStateException(
            s"malformed special line in $path: '$ln'")
        }
      }
      BpeArtifact(parseMerges(mergeLines, n, ranked), specials, mode, ranked)
    }
    header.split("\t", -1) match {
      case Array(Magic, Version, n) =>
        BpeArtifact(parseMerges(lines.tail, n.toInt), Nil)
      case Array(Magic, Version4, n, s, mode, RankedTag) =>
        parseSectioned(n.toInt, s.toInt, mode, ranked = true)
      case Array(Magic, Version3, n, s, mode) =>
        parseSectioned(n.toInt, s.toInt, mode)
      case Array(Magic, Version2, n, s) =>
        parseSectioned(n.toInt, s.toInt, ModeWords)
      case Array(Magic, v, _*) => throw new IllegalStateException(
        s"unsupported tokenizer artifact version $v in $path")
      case _ => throw new IllegalStateException(
        s"not a graft-bpe artifact: $path ('$header')")
    }
  }

  /** Load the merge list of a v1 OR v2 artifact (specials dropped) —
    * the [[graft.ext.TextStats.bpeApply]] input; existing v1
    * consumers read v2 artifacts unchanged. */
  def loadMerges(path: String): Seq[(String, String, Long)] =
    loadArtifact(path).merges

  // ---- unigram-LM artifacts ----

  private val UnigramMagic = "graft-unigram"
  private val UnigramV1 = "v1"

  /** A frozen unigram-LM tokenizer ([[graft.ext.TextStats.unigramApply]]
    * input): (piece, logprob) vocabulary + the unk logprob. Logprobs
    * are stored as the INTEGER MICRO-units the DP actually runs on
    * (`round(logprob × 10^6)`) so the artifact round-trips the exact
    * serving arithmetic — no float re-parse can shift a tie.
    *
    * Format (`graft-unigram v1`):
    * {{{
    * graft-unigram\tv1\t<n_pieces>\t<unk_micro>
    * <piece>\t<logprob_micro>     (× n_pieces)
    * }}}
    * Pieces are whitespace-free by the apply's own contract, so the
    * tab separator is unambiguous; the same atomic write discipline as
    * the BPE artifacts (a crashed writer never leaves a torn table
    * silently mis-scoring a corpus). */
  case class UnigramArtifact(pieces: Seq[(String, Long)], unkMicro: Long) {
    pieces.foreach { case (p, _) =>
      require(p.nonEmpty && !p.exists(_.isWhitespace),
        s"unencodable unigram piece '$p'")
    }
    require(pieces.map(_._1).distinct.size == pieces.size,
      "duplicate pieces in unigram vocabulary")

    /** The (piece, logprob-double) view [[graft.ext.TextStats
      * .unigramApply]] consumes; micro→double is exact (micro values
      * are integers ≤ 2^53). */
    def vocab: Seq[(String, Double)] =
      pieces.map { case (p, m) => (p, m / 1e6) }
    def unkLogProb: Double = unkMicro / 1e6
  }

  object UnigramArtifact {
    /** Build from the double-logprob form, rounding to micro-units the
      * same way the apply does. */
    def fromVocab(vocab: Seq[(String, Double)],
                  unkLogProb: Double): UnigramArtifact =
      UnigramArtifact(vocab.map { case (p, lp) =>
        require(lp.isFinite, s"non-finite logprob for '$p'")
        (p, math.round(lp * 1e6))
      }, math.round(unkLogProb * 1e6))
  }

  /** Atomically write a unigram artifact. */
  def saveUnigram(artifact: UnigramArtifact, path: String): Unit =
    writeAtomic(path,
      s"$UnigramMagic\t$UnigramV1\t${artifact.pieces.size}\t${artifact.unkMicro}" +:
        artifact.pieces.map { case (p, m) => s"$p\t$m" })

  /** Load a unigram artifact; fails loudly on foreign files, unknown
    * versions, malformed lines, or piece counts that disagree with the
    * header (torn/concatenated artifacts). */
  def loadUnigram(path: String): UnigramArtifact = {
    val lines = Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8)
      .asScala.toSeq
    val header = lines.headOption.getOrElse(
      throw new IllegalStateException(s"empty unigram artifact $path"))
    header.split("\t", -1) match {
      case Array(UnigramMagic, UnigramV1, n, unk) =>
        val pieces = lines.tail.map { ln =>
          ln.split("\t", -1) match {
            case Array(p, m) => (p, m.toLong)
            case _ => throw new IllegalStateException(
              s"malformed unigram piece line in $path: '$ln'")
          }
        }
        if (pieces.size != n.toInt) throw new IllegalStateException(
          s"torn unigram artifact $path: header says $n pieces, found ${pieces.size}")
        UnigramArtifact(pieces, unk.toLong)
      case Array(UnigramMagic, v, _*) => throw new IllegalStateException(
        s"unsupported unigram artifact version $v in $path")
      case _ => throw new IllegalStateException(
        s"not a graft-unigram artifact: $path ('$header')")
    }
  }
}
