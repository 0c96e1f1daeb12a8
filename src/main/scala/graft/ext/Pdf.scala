package graft.ext

import org.apache.spark.sql.DataFrame

/** PDF text extraction — the other big crawl front door next to HTML
  * ([[TextStats.withHtmlText]]): every web-corpus pipeline runs one
  * (CommonCrawl's PDF share is a top-five mime type). This is a
  * JVM-only STRUCTURAL extractor: it genuinely parses the PDF object
  * layer — header, stream objects, `/FlateDecode` inflation
  * (`java.util.zip`), balanced dictionaries — and interprets the
  * content-stream text operators (`Tj`, `'`, `"`, `TJ` with the
  * standard kerning-gap heuristic, `Td`/`TD`/`T*` line moves) with
  * full literal-string escape handling (octal, nested parens, line
  * continuations) and hex strings.
  *
  * Honest scope, same discipline as the media decode seam
  * ([[Multimodal.FrameHasher]]): string bytes decode as UTF-8
  * (Latin-1 fallback per byte via the replacement policy below) —
  * UNLESS the document carries a `/ToUnicode` CMap for the font the
  * content stream selects, in which case string bytes are 2-byte
  * codes mapped through it (`bfchar` + `bfrange`, offset and array
  * forms — the CID/Type0 subset every tagged-for-accessibility and
  * most generated PDFs ship). Font resolution is recovery-mode like
  * everything else: object headers are found by linear scan (object
  * streams — `/Type /ObjStm`, where modern writers pack the page and
  * font dictionaries — are unpacked first), and the content stream's
  * `Tf` selects the CMap by resource NAME globally; per-page name
  * shadowing (two pages binding the same /F1 to different fonts)
  * falls back to the last binding. CID fonts WITHOUT a ToUnicode
  * CMap (glyph-id-only subset embeds) remain out of scope — a
  * production deployment puts a full font-aware extractor (pdfium
  * via JNI, Tika) behind the same `payload → text` seam without
  * touching the Spark plumbing.
  * Recovery-mode parsing by design: streams are found by a linear
  * byte scan, not by following the xref table, so a truncated or
  * xref-corrupt file still yields the text of every intact content
  * stream — the behavior crawl extractors actually want. Page order
  * is document order, which is how virtually all real-world writers
  * emit pages (and how [[PdfFixture]] writes them).
  *
  * Scale shape: a pure per-payload function (`mapPartitions`, codec
  * class — same justification as the image/audio/video decoders):
  * no shuffle, no state, embarrassingly parallel over any corpus
  * partitioning; decode cost is linear in payload bytes.
  */
object Pdf {

  /** Extracted text of one PDF payload, or None when the payload is
    * not a PDF (no `%PDF-` header). A well-formed PDF with no text
    * operators yields Some(""). Output is raw operator order — one
    * string per text-showing op, newline between line moves/blocks —
    * callers normalize whitespace downstream (the driver query does). */
  def extractText(payload: Array[Byte]): Option[String] = {
    if (payload == null || payload.length < 5) return None
    val head = new String(payload, 0, math.min(payload.length, 8), "ISO-8859-1")
    if (!head.startsWith("%PDF-")) return None
    // CID support costs a second linear pass (object table + CMap
    // parse); only documents that can possibly need it pay — the
    // /ObjStm marker lives in an UNcompressed stream dict, and a
    // top-level /ToUnicode ref is raw too, so the guard never misses
    val raw = new String(payload, "ISO-8859-1")
    val cmaps =
      if (raw.contains("/ToUnicode") || raw.contains("/ObjStm"))
        fontCMaps(payload)
      else Map.empty[String, CMap]
    val out = new StringBuilder
    streams(payload).foreach { s =>
      appendContentText(s, out, cmaps)
    }
    Some(out.result())
  }

  /** Every decoded stream body in document order: linear scan for
    * `<<dict>> stream\n … endstream`, inflating when the dict says
    * `/FlateDecode`. A `stream` keyword only counts when a balanced
    * dictionary carrying `/Length` immediately precedes it — that is
    * what distinguishes a real stream object from the word "stream"
    * inside page TEXT or inside another stream's compressed bytes —
    * and the declared length bounds the body (scan fallback when the
    * declared length is corrupt). Undecodable deflate bodies are
    * skipped, not fatal (recovery-mode contract). */
  private def streams(payload: Array[Byte]): Seq[Array[Byte]] = {
    val text = new String(payload, "ISO-8859-1") // byte-preserving
    val lengthRe = "/Length\\s+(\\d+)".r
    val found = Seq.newBuilder[Array[Byte]]
    var from = 0
    while (from >= 0 && from < text.length) {
      val sk = text.indexOf("stream", from)
      if (sk < 0) from = -1
      else {
        val dict = dictBefore(text, sk)
        val declared = lengthRe.findFirstMatchIn(dict).map(_.group(1).toLong)
        if (declared.isEmpty) from = sk + "stream".length
        else {
          // stream keyword is followed by CRLF or LF per spec
          var body0 = sk + "stream".length
          if (body0 < text.length && text.charAt(body0) == '\r') body0 += 1
          if (body0 < text.length && text.charAt(body0) == '\n') body0 += 1
          val len = declared.get
          val byLen = body0 + len
          val end =
            if (len >= 0 && byLen <= text.length &&
                text.startsWith("endstream", skipEol(text, byLen.toInt)))
              byLen.toInt
            else { // corrupt /Length: fall back to the delimiter scan
              var e = text.indexOf("endstream", body0)
              if (e < 0) -1
              else {
                if (e > body0 && text.charAt(e - 1) == '\n') e -= 1
                if (e > body0 && text.charAt(e - 1) == '\r') e -= 1
                e
              }
            }
          if (end < 0) from = -1
          else {
            val raw = java.util.Arrays.copyOfRange(payload, body0, end)
            // Streams whose dict marks them BINARY non-content — xref
            // streams, image XObjects — never carry text operators;
            // their decoded bytes are arbitrary binary that the
            // content interpreter must not scan (a 0x3C byte would
            // open a phantom hex string). Fonts/CMaps/ObjStm bodies
            // stay: they are text-shaped and operator-free. The match
            // is on STRUCTURED keys (/Type /XRef, /Subtype /Image),
            // not raw substrings: a /ImageB name in a ProcSet array
            // or an /XRefStm trailer key must not skip a text stream.
            val binary = BinaryStreamRe.matcher(dict).find()
            val decoded = if (binary) None else decodeBody(dict, raw)
            decoded.foreach { b => found += b; () }
            from = text.indexOf("endstream", end) match {
              case -1 => -1
              case e => e + "endstream".length
            }
          }
        }
      }
    }
    found.result()
  }

  /** A stream dict whose TYPE marks its body as non-text binary:
    * `/Type /XRef` (cross-reference streams) or `/Subtype /Image`
    * (image XObjects). Structured keys, not substrings — the
    * lookahead stops `/XRefStm` or `/ImageMask`-style longer names
    * from matching, and bare `/Image`/`/XRef` tokens elsewhere in the
    * dict (ProcSet arrays, trailer keys) never classify. */
  private val BinaryStreamRe = java.util.regex.Pattern.compile(
    "/Type\\s*/XRef(?![A-Za-z0-9])|/Subtype\\s*/Image(?![A-Za-z0-9])")

  private def skipEol(text: String, i: Int): Int = {
    var j = i
    if (j < text.length && text.charAt(j) == '\r') j += 1
    if (j < text.length && text.charAt(j) == '\n') j += 1
    j
  }

  /** The balanced `<< … >>` dictionary ending nearest before `pos`
    * (empty string when the stream keyword has none — tolerated). */
  private def dictBefore(text: String, pos: Int): String = {
    var i = pos - 1
    while (i >= 0 && Character.isWhitespace(text.charAt(i))) i -= 1
    if (i < 1 || text.charAt(i) != '>' || text.charAt(i - 1) != '>') return ""
    var depth = 0
    var j = i
    while (j >= 1) {
      if (text.charAt(j) == '>' && text.charAt(j - 1) == '>') {
        depth += 1; j -= 2
      } else if (text.charAt(j) == '<' && text.charAt(j - 1) == '<') {
        depth -= 1
        if (depth == 0) return text.substring(j - 1, i + 1)
        j -= 2
      } else j -= 1
    }
    ""
  }

  /** Decode one stream body per its dict's `/Filter`: `/FlateDecode`
    * and `/ASCIIHexDecode`, in the NAME form (`/Filter /X`) or the
    * ARRAY form (`/Filter [/X /Y]`, applied in order — how many
    * real-world writers emit even single filters). No `/Filter` →
    * raw bytes. An UNKNOWN filter (DCT images, JBIG2, Crypt) → None:
    * its bytes are compressed binary the content interpreter must
    * not scan — skipping the stream is the recovery-mode answer,
    * feeding garbage through is not. */
  private def decodeBody(dict: String, raw: Array[Byte]): Option[Array[Byte]] = {
    val m = "/Filter\\s*(\\[[^\\]]*\\]|/[A-Za-z0-9]+)".r
      .findFirstMatchIn(dict).getOrElse(return Some(raw))
    val names = "/[A-Za-z0-9]+".r.findAllIn(m.group(1)).toList
    names.foldLeft(Option(raw)) { (acc, f) =>
      acc.flatMap { b =>
        f match {
          case "/FlateDecode" => inflate(b)
          case "/ASCIIHexDecode" => asciiHexDecode(b)
          case _ => None
        }
      }
    }
  }

  /** `/ASCIIHexDecode`: hex pairs, whitespace ignored, `>` EOD, odd
    * final digit zero-padded per spec; any other byte → None. */
  private def asciiHexDecode(raw: Array[Byte]): Option[Array[Byte]] = {
    val sb = new StringBuilder
    var i = 0
    var done = false
    while (i < raw.length && !done) {
      val c = raw(i).toChar
      if (c == '>') done = true
      else if (!Character.isWhitespace(c)) {
        if (Character.digit(c, 16) < 0) return None
        sb.append(c)
      }
      i += 1
    }
    val hex = if (sb.length % 2 == 1) sb.append('0').result() else sb.result()
    Some(hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
  }

  private def inflate(raw: Array[Byte]): Option[Array[Byte]] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(raw)
      val bos = new java.io.ByteArrayOutputStream(raw.length * 4)
      val buf = new Array[Byte](8192)
      while (!inf.finished() && !inf.needsInput()) {
        val n = inf.inflate(buf)
        if (n > 0) bos.write(buf, 0, n)
        else if (n == 0 && !inf.finished()) return None // stalled
      }
      if (inf.finished()) Some(bos.toByteArray) else None
    } catch {
      case _: java.util.zip.DataFormatException => None
    } finally inf.end()
  }

  // ---- object layer: the recovery-mode table behind CID text ----

  /** One indirect object: its dictionary text and, when it is a
    * stream object, the DECODED stream body. */
  private case class PdfObj(dict: String, stream: Option[Array[Byte]])

  /** The indirect-object table by linear scan — `N G obj` headers,
    * balanced dictionaries, `/Length`-disciplined stream bodies (the
    * [[streams]] rules), then `/Type /ObjStm` object streams unpacked
    * so the page/font dictionaries modern writers compress into them
    * become visible. No xref following, same recovery contract as
    * [[streams]]: a truncated file yields every intact object. */
  private val ObjHeaderRe =
    java.util.regex.Pattern.compile("(\\d+)\\s+\\d+\\s+obj\\b")

  /** Parse ONE indirect object whose `N G obj` header MATCH starts at
    * `m.start` (the matcher must already be positioned): returns the
    * parsed object (None when no balanced dictionary follows the
    * header) and the scan position the caller must resume from.
    * A stream with no `endstream` (truncated file) aborts the scan
    * (resume = text.length): the unterminated binary body runs to
    * EOF, and scanning inside it can register phantom `N G obj`
    * headers that overwrite real entries. Shared by the recovery
    * scan and the xref type-1 offset lookup, so both paths apply the
    * same `/Length` discipline and body decode. */
  private def parseObjAt(text: String, payload: Array[Byte],
                         num: Int, headerEnd: Int): (Option[PdfObj], Int) = {
    val lengthRe = "/Length\\s+(\\d+)".r
    var i = headerEnd
    while (i < text.length && Character.isWhitespace(text.charAt(i))) i += 1
    if (!text.startsWith("<<", i)) return (None, headerEnd)
    val dictEnd = dictForward(text, i)
    val dict = text.substring(i, dictEnd)
    var j = dictEnd
    while (j < text.length && Character.isWhitespace(text.charAt(j))) j += 1
    if (!text.startsWith("stream", j)) (Some(PdfObj(dict, None)), j)
    else {
      var body0 = j + "stream".length
      if (body0 < text.length && text.charAt(body0) == '\r') body0 += 1
      if (body0 < text.length && text.charAt(body0) == '\n') body0 += 1
      val declared = lengthRe.findFirstMatchIn(dict).map(_.group(1).toLong)
      val end = declared match {
        case Some(len) if len >= 0 && body0 + len <= text.length &&
            text.startsWith("endstream",
              skipEol(text, (body0 + len).toInt)) =>
          (body0 + len).toInt
        case _ =>
          var e = text.indexOf("endstream", body0)
          if (e >= 0) {
            if (e > body0 && text.charAt(e - 1) == '\n') e -= 1
            if (e > body0 && text.charAt(e - 1) == '\r') e -= 1
          }
          e
      }
      if (end < 0) (None, text.length)
      else {
        val rawBody = java.util.Arrays.copyOfRange(payload, body0, end)
        val next = text.indexOf("endstream", end) match {
          case -1 => text.length
          case e => e + "endstream".length
        }
        (Some(PdfObj(dict, decodeBody(dict, rawBody))), next)
      }
    }
  }

  /** The indirect object whose header sits EXACTLY at byte `off` —
    * the PDF 1.5 type-1 xref-entry lookup (offset-addressed, never a
    * scan): None when the offset does not hold an `N G obj` header
    * or the object is malformed. Returns the header's object number
    * with the object so callers can verify it against the entry. */
  private def objectAtOffset(payload: Array[Byte], text: String,
                             off: Int): Option[(Int, PdfObj)] = {
    if (off < 0 || off >= text.length) return None
    val m = ObjHeaderRe.matcher(text)
    if (!m.find(off) || m.start != off) return None
    parseObjAt(text, payload, m.group(1).toInt, m.end)
      ._1.map(o => (m.group(1).toInt, o))
  }

  private def objects(payload: Array[Byte]): Map[Int, PdfObj] = {
    val text = new String(payload, "ISO-8859-1")
    val out = scala.collection.mutable.Map.empty[Int, PdfObj]
    val m = ObjHeaderRe.matcher(text)
    var pos = 0
    while (pos < text.length && m.find(pos)) {
      val num = m.group(1).toInt
      val (objOpt, next) = parseObjAt(text, payload, num, m.end)
      objOpt.foreach(o => out(num) = o)
      pos = next
    }
    // unpack object streams: header = N (objnum, offset) int pairs,
    // members start at /First — members are always dict-level objects
    // (the spec excludes streams), so dict-only entries suffice
    val packed = out.toSeq.collect {
      case (_, o) if ObjStmTypeRe.matcher(o.dict).find() && o.stream.isDefined =>
        o
    }
    packed.foreach { o =>
      objStmMembers(o).foreach { case (objNum, dict) =>
        out(objNum) = PdfObj(dict, None); ()
      }
    }
    out.toMap
  }

  /** The `(objnum, dict text)` members of one decoded `/Type /ObjStm`
    * object, in HEADER order (the order the xref stream's type-2
    * member indices count in, PDF 1.5 §7.5.8.3): header = N
    * (objnum, offset) int pairs, member bodies start at `/First`. */
  private def objStmMembers(o: PdfObj): Seq[(Int, String)] = {
    val body = o.stream.getOrElse(return Nil)
    val btxt = new String(body, "ISO-8859-1")
    val n = "/N\\s+(\\d+)".r.findFirstMatchIn(o.dict).map(_.group(1).toInt)
    val first = "/First\\s+(\\d+)".r.findFirstMatchIn(o.dict)
      .map(_.group(1).toInt)
    (for (nv <- n; fv <- first if fv <= btxt.length) yield {
      val header = btxt.substring(0, fv).trim
        .split("\\s+").filter(_.nonEmpty)
      val pairs = header.grouped(2).take(nv).collect {
        case Array(on, off) => (on.toInt, off.toInt)
      }.toIndexedSeq
      // slice bounds need offset order; output stays header order
      val byOff = pairs.map(_._2).sorted
      pairs.flatMap { case (objNum, off) =>
        val from = math.min(fv + off, btxt.length)
        val nextOff = byOff.find(_ > off)
        val to = nextOff.map(x => math.min(fv + x, btxt.length))
          .getOrElse(btxt.length)
        if (from < to) Some(objNum -> btxt.substring(from, to).trim)
        else None
      }
    }).getOrElse(Nil)
  }

  // ---- cross-reference STREAMS: the PDF 1.5 lookup path ----

  /** One cross-reference-stream entry (PDF 1.5 §7.5.8.3):
    * type 0 = free, type 1 = `a` is the object's byte offset,
    * type 2 = the object lives in object stream number `a` at member
    * index `b`. */
  private[graft] case class XrefEntry(tpe: Int, a: Long, b: Long)

  /** The cross-reference STREAM the trailer's `startxref` points at,
    * decoded: objnum → entry. Empty map when the file has no xref
    * stream there (classic-table PDFs, truncated files — the
    * recovery-mode extractor never needs this; it exists so the
    * 1.5 lookup path is a REAL reader, not write-only fixture
    * output). Follows `/W` field widths (a zero-width type field
    * defaults to type 1 per spec) and `/Index` subsections
    * (default `[0 /Size]`). */
  private[graft] def xrefStreamEntries(payload: Array[Byte]): Map[Int, XrefEntry] = {
    val text = new String(payload, "ISO-8859-1")
    val sx = text.lastIndexOf("startxref")
    if (sx < 0) return Map.empty
    val offRe = "startxref\\s+(\\d+)".r
    val off = offRe.findFirstMatchIn(text.substring(sx))
      .map(_.group(1).toInt).getOrElse(return Map.empty)
    if (off < 0 || off >= text.length) return Map.empty
    // expect `N G obj << …/Type /XRef… >> stream` at the offset
    val m = java.util.regex.Pattern.compile("(\\d+)\\s+\\d+\\s+obj\\s*")
      .matcher(text)
    if (!m.find(off) || m.start != off) return Map.empty
    val dictStart = m.end
    if (!text.startsWith("<<", dictStart)) return Map.empty
    val dictEnd = dictForward(text, dictStart)
    val dict = text.substring(dictStart, dictEnd)
    if (!dict.contains("/XRef")) return Map.empty
    var j = dictEnd
    while (j < text.length && Character.isWhitespace(text.charAt(j))) j += 1
    if (!text.startsWith("stream", j)) return Map.empty
    var body0 = j + "stream".length
    if (body0 < text.length && text.charAt(body0) == '\r') body0 += 1
    if (body0 < text.length && text.charAt(body0) == '\n') body0 += 1
    val len = "/Length\\s+(\\d+)".r.findFirstMatchIn(dict)
      .map(_.group(1).toInt).getOrElse(return Map.empty)
    if (len < 0 || body0 + len > payload.length) return Map.empty
    val raw = java.util.Arrays.copyOfRange(payload, body0, body0 + len)
    val body = decodeBody(dict, raw).getOrElse(return Map.empty)
    val w = "/W\\s*\\[\\s*(\\d+)\\s+(\\d+)\\s+(\\d+)\\s*\\]".r
      .findFirstMatchIn(dict)
      .map(x => (x.group(1).toInt, x.group(2).toInt, x.group(3).toInt))
      .getOrElse(return Map.empty)
    val size = "/Size\\s+(\\d+)".r.findFirstMatchIn(dict)
      .map(_.group(1).toInt).getOrElse(return Map.empty)
    val index: Seq[(Int, Int)] =
      "/Index\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(dict) match {
        case Some(ix) =>
          val nums = ix.group(1).trim.split("\\s+").filter(_.nonEmpty)
            .map(_.toInt)
          nums.grouped(2).collect { case Array(s, n) => (s, n) }.toSeq
        case None => Seq((0, size))
      }
    val entryW = w._1 + w._2 + w._3
    if (entryW <= 0) return Map.empty
    def field(at: Int, width: Int): Long = {
      var v = 0L
      var k = 0
      while (k < width) { v = (v << 8) | (body(at + k) & 0xFF); k += 1 }
      v
    }
    val out = Map.newBuilder[Int, XrefEntry]
    var at = 0
    index.foreach { case (start, n) =>
      var i = 0
      while (i < n && at + entryW <= body.length) {
        val tpe = if (w._1 == 0) 1L else field(at, w._1)
        val a = field(at + w._1, w._2)
        val b = field(at + w._1 + w._2, w._3)
        out += (start + i) -> XrefEntry(tpe.toInt, a, b)
        at += entryW
        i += 1
      }
    }
    out.result()
  }

  private val ObjStmTypeRe = java.util.regex.Pattern.compile(
    "/Type\\s*/ObjStm(?![A-Za-z0-9])")

  /** The `/Extends S 0 R` parent of an ObjStm dict — PDF 1.5 §7.5.7
    * object-stream chaining: the current stream is an EXTENSION of
    * `S`, and an object a type-2 entry attributes to the extension
    * may physically live anywhere up the chain (the shape
    * incremental-update writers produce). */
  private def extendsRef(dict: String): Option[Int] =
    "/Extends\\s+(\\d+)\\s+\\d+\\s+R".r.findFirstMatchIn(dict)
      .map(_.group(1).toInt)

  /** Resolve every TYPE-2 xref entry the proper PDF-1.5 way — through
    * the xref stream ONLY: entry `(2, S, k)` means "member k of
    * object stream S", and the container ObjStm `S` is located by
    * dereferencing ITS OWN type-1 entry's byte offset (never by the
    * recovery scan's linear object table — the two lookup paths stay
    * genuinely independent down to object location). A container
    * whose entry is missing, FREE (type 0 — a superseded stream whose
    * stale bytes may still sit in the file), or whose offset does not
    * hold a `/Type /ObjStm` stream resolves nothing. When member `k`
    * of `S` does not carry the entry's objnum (stale or sloppy xref),
    * the stream is searched by objnum and then its `/Extends` chain
    * is walked (cycle-guarded) — §7.5.7 chaining. Returns
    * objnum → dict text; empty when the file has no xref stream. The
    * driver query gates this against the recovery scan — the two
    * independent paths must agree on every live packed object. */
  private[graft] def xrefResolvedMembers(payload: Array[Byte]): Map[Int, String] = {
    val entries = xrefStreamEntries(payload)
    if (entries.isEmpty) return Map.empty
    val text = new String(payload, "ISO-8859-1")
    val containerCache = scala.collection.mutable
      .Map.empty[Int, Option[(String, Seq[(Int, String)])]]
    // a container ObjStm resolves through its OWN type-1 byte offset;
    // free (type-0) or unlisted object numbers hold NO live stream —
    // a stale superseded ObjStm still present in the bytes is
    // unreachable here even though the recovery scan would see it
    def container(s: Int): Option[(String, Seq[(Int, String)])] =
      containerCache.getOrElseUpdate(s, entries.get(s) match {
        case Some(XrefEntry(1, off, _)) =>
          objectAtOffset(payload, text, off.toInt).collect {
            case (num, o) if num == s && o.stream.isDefined &&
                ObjStmTypeRe.matcher(o.dict).find() =>
              (o.dict, objStmMembers(o))
          }
        case _ => None
      })
    def resolve(objNum: Int, s: Int, k: Int, seen: Set[Int]): Option[String] =
      if (seen(s)) None
      else container(s) match {
        case None => None
        case Some((dict, members)) =>
          members.lift(k) match {
            case Some((mNum, d)) if mNum == objNum => Some(d)
            case _ =>
              members.collectFirst { case (mNum, d) if mNum == objNum => d }
                .orElse(extendsRef(dict)
                  .flatMap(p => resolve(objNum, p, k, seen + s)))
          }
      }
    entries.toSeq.collect { case (objNum, XrefEntry(2, s, k)) =>
      resolve(objNum, s.toInt, k.toInt, Set.empty).map(objNum -> _)
    }.flatten.toMap
  }

  /** The RECOVERY-SCAN view of the same packed objects
    * ([[xrefResolvedMembers]]'s independent twin): every `/ObjStm`
    * object the linear scan finds, unpacked to objnum → dict text.
    * The two maps agreeing on a fixture whose association dicts live
    * ONLY inside the ObjStm proves both lookup paths genuinely work. */
  private[graft] def recoveryMembers(payload: Array[Byte]): Map[Int, String] =
    objects(payload).toSeq.collect {
      case (_, o) if ObjStmTypeRe.matcher(o.dict).find() && o.stream.isDefined =>
        objStmMembers(o)
    }.flatten.toMap

  /** Index just past the balanced `<< … >>` starting at `open`. */
  private def dictForward(text: String, open: Int): Int = {
    var i = open
    var depth = 0
    while (i < text.length) {
      if (text.startsWith("<<", i)) { depth += 1; i += 2 }
      else if (text.startsWith(">>", i)) {
        depth -= 1; i += 2
        if (depth == 0) return i
      } else i += 1
    }
    text.length
  }

  // ---- ToUnicode CMaps: the CID subset ----

  /** A parsed ToUnicode CMap: explicit `bfchar` entries override
    * `bfrange`s; ranges map either by last-UTF-16-unit offset or by
    * explicit destination array. Codes neither covers fall through to
    * the identity (code = UTF-16 unit) — the Identity-H convention. */
  private[graft] case class CMap(
      chars: Map[Int, String],
      ranges: Seq[(Int, Int, Either[String, IndexedSeq[String]])]) {
    def map(code: Int): String =
      chars.getOrElse(code,
        ranges.collectFirst {
          case (lo, hi, dst) if code >= lo && code <= hi => dst match {
            case Left(start) if start.nonEmpty =>
              start.init + (start.last + (code - lo)).toChar
            case Left(_) => ""
            case Right(arr) => arr(code - lo)
          }
        }.getOrElse(code.toChar.toString))

    /** Map a shown string's bytes: 2-byte big-endian codes (the
      * Identity-H/ToUnicode convention); a trailing odd byte maps as
      * a 1-byte code rather than being dropped. */
    def mapBytes(bytes: Array[Byte]): String = {
      val sb = new StringBuilder
      var i = 0
      while (i + 1 < bytes.length) {
        sb.append(map(((bytes(i) & 0xFF) << 8) | (bytes(i + 1) & 0xFF)))
        i += 2
      }
      if (i < bytes.length) sb.append(map(bytes(i) & 0xFF))
      sb.result()
    }
  }

  /** Parse the `bfchar`/`bfrange` sections of a ToUnicode CMap
    * stream. Token scan, not regex: hex strings `<…>`, `[`/`]`, and
    * bare words; everything outside begin/end blocks is PostScript
    * boilerplate and skips. Destination hex decodes as UTF-16BE
    * (multi-unit destinations — ligatures — come out whole). */
  private[graft] def parseCMap(body: Array[Byte]): CMap = {
    val text = new String(body, "ISO-8859-1")
    val token = java.util.regex.Pattern
      .compile("<([0-9A-Fa-f \\t\\r\\n]*)>|\\[|\\]|[^\\s<>\\[\\]]+")
      .matcher(text)
    val toks = scala.collection.mutable.ArrayBuffer.empty[String]
    while (token.find()) {
      toks += (if (token.group(1) != null) "<" + token.group(1).replaceAll("\\s", "") else token.group())
      ()
    }
    def hexStr(t: String): String = {
      val h = t.drop(1)
      val padded = if (h.length % 2 == 1) h + "0" else h
      new String(padded.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray,
        "UTF-16BE")
    }
    def hexInt(t: String): Int = {
      val h = t.drop(1)
      if (h.isEmpty) 0 else Integer.parseInt(h.takeRight(4), 16)
    }
    val chars = Map.newBuilder[Int, String]
    val ranges = Seq.newBuilder[(Int, Int, Either[String, IndexedSeq[String]])]
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case "beginbfchar" =>
          i += 1
          while (i + 1 < toks.length && toks(i) != "endbfchar" &&
              toks(i).startsWith("<") && toks(i + 1).startsWith("<")) {
            chars += hexInt(toks(i)) -> hexStr(toks(i + 1))
            i += 2
          }
        case "beginbfrange" =>
          i += 1
          while (i + 2 < toks.length && toks(i) != "endbfrange" &&
              toks(i).startsWith("<") && toks(i + 1).startsWith("<")) {
            val lo = hexInt(toks(i)); val hi = hexInt(toks(i + 1))
            if (toks(i + 2) == "[") {
              val arr = IndexedSeq.newBuilder[String]
              i += 3
              while (i < toks.length && toks(i) != "]") {
                if (toks(i).startsWith("<")) arr += hexStr(toks(i))
                i += 1
              }
              i += 1 // past ]
              val a = arr.result()
              if (hi >= lo && a.length >= hi - lo + 1)
                ranges += ((lo, hi, Right(a)))
            } else {
              if (hi >= lo && toks(i + 2).startsWith("<"))
                ranges += ((lo, hi, Left(hexStr(toks(i + 2)))))
              i += 3
            }
          }
        case _ => i += 1
      }
    }
    CMap(chars.result(), ranges.result())
  }

  /** Resource-name → ToUnicode CMap for every font any object's
    * `/Font` resource dictionary binds: the name the content stream's
    * `Tf` selects resolves here. Inline resource dicts and one level
    * of `/Resources N 0 R` indirection both work; bindings are
    * global by name (recovery mode — see the object scaladoc). */
  private def fontCMaps(payload: Array[Byte]): Map[String, CMap] = {
    val objs = objects(payload)
    val fontRef = java.util.regex.Pattern
      .compile("/([A-Za-z0-9_.]+)\\s+(\\d+)\\s+0\\s+R")
    val toUniRe = "/ToUnicode\\s+(\\d+)\\s+0\\s+R".r
    val resRe = "/Resources\\s+(\\d+)\\s+0\\s+R".r
    val out = scala.collection.mutable.Map.empty[String, CMap]
    objs.toSeq.sortBy(_._1).foreach { case (_, o) =>
      val withRes = resRe.findFirstMatchIn(o.dict) match {
        case Some(r) => o.dict + objs.get(r.group(1).toInt)
          .map(_.dict).getOrElse("")
        case None => o.dict
      }
      val fontAt = withRes.indexOf("/Font")
      if (fontAt >= 0) {
        var k = fontAt + "/Font".length
        while (k < withRes.length && Character.isWhitespace(withRes.charAt(k)))
          k += 1
        if (withRes.startsWith("<<", k)) {
          val sub = withRes.substring(k, dictForward(withRes, k))
          val fm = fontRef.matcher(sub)
          while (fm.find()) {
            val name = fm.group(1)
            val ref = fm.group(2).toInt
            for {
              fontObj <- objs.get(ref)
              tu <- toUniRe.findFirstMatchIn(fontObj.dict)
              cmObj <- objs.get(tu.group(1).toInt)
              body <- cmObj.stream
            } out(name) = parseCMap(body)
          }
        }
      }
    }
    out.toMap
  }

  /** Word-gap heuristic for `TJ` kerning numbers: a leftward
    * adjustment of at least 180 thousandths of an em reads as an
    * inter-word gap (the threshold every practical extractor uses —
    * typical word spaces are ~250, kerning tweaks are tens). */
  private val TjGapThreshold = -180.0

  /** Interpret one decoded stream as a content stream, appending the
    * text its `Tj`/`'`/`"`/`TJ` operators show. Text-shaped streams
    * with no text-showing operators (fonts, ToUnicode CMaps, ObjStm
    * bodies — their hex strings never reach a `Tj`) contribute
    * nothing; BINARY stream bodies (xref streams, image XObjects)
    * are excluded upstream in [[streams]] and never reach here. `Tf` switches the
    * active ToUnicode CMap by resource name; strings shown under a
    * mapped font decode as 2-byte codes through it, everything else
    * keeps the UTF-8 byte decode. */
  private def appendContentText(stream: Array[Byte], out: StringBuilder,
                                cmaps: Map[String, CMap]): Unit = {
    val n = stream.length
    var i = 0
    // operands since the last operator: raw string bytes and numbers,
    // in order (exactly what TJ needs); bytes decode at EMIT time so
    // the then-active font's CMap applies
    var pending = List.empty[Either[Array[Byte], Double]]
    var lastName = ""
    var curCmap: Option[CMap] = None
    def emitPending(withGaps: Boolean): Unit = {
      pending.reverse.foreach {
        case Left(bytes) =>
          out.append(curCmap match {
            case Some(cm) => cm.mapBytes(bytes)
            case None => new String(bytes, "UTF-8")
          })
          ()
        case Right(num) =>
          if (withGaps && num <= TjGapThreshold) out.append(' ')
          ()
      }
      pending = Nil
    }
    while (i < n) {
      val c = stream(i).toChar
      if (Character.isWhitespace(c)) i += 1
      else if (c == '%') { // comment to EOL
        while (i < n && stream(i) != '\n' && stream(i) != '\r') i += 1
      } else if (c == '(') {
        val (s, next) = literalString(stream, i)
        pending ::= Left(s); i = next
      } else if (c == '<' && i + 1 < n && stream(i + 1).toChar == '<') {
        i = skipDict(stream, i)
      } else if (c == '<') {
        val (s, next) = hexString(stream, i)
        pending ::= Left(s); i = next
      } else if (c == '[' || c == ']') i += 1
      else if (c == '/') { // name object
        val start = i + 1
        i += 1
        while (i < n && !isDelimiter(stream(i).toChar)) i += 1
        lastName = new String(stream, start, i - start, "ISO-8859-1")
      } else if (c == '-' || c == '+' || c == '.' || Character.isDigit(c)) {
        val start = i
        i += 1
        while (i < n && (Character.isDigit(stream(i).toChar) ||
            stream(i).toChar == '.')) i += 1
        val num = new String(stream, start, i - start, "ISO-8859-1")
        try pending ::= Right(num.toDouble)
        catch { case _: NumberFormatException => }
      } else {
        val start = i
        i += 1
        while (i < n && !isDelimiter(stream(i).toChar)) i += 1
        val op = new String(stream, start, i - start, "ISO-8859-1")
        op match {
          case "Tj" | "'" | "\"" => emitPending(withGaps = false)
          case "TJ" => emitPending(withGaps = true)
          case "Tf" =>
            curCmap = cmaps.get(lastName)
            pending = Nil
          case "Td" | "TD" | "T*" | "BT" | "ET" =>
            pending = Nil
            // line moves and text-block boundaries separate words
            if (out.nonEmpty && out.last != '\n') out.append('\n')
            ()
          case _ => pending = Nil
        }
      }
    }
  }

  /** Skip a balanced inline `<< … >>` dictionary in a content
    * stream. Returns the index just past the closing `>>`. */
  private def skipDict(stream: Array[Byte], open: Int): Int = {
    var i = open
    var depth = 0
    val n = stream.length
    while (i < n) {
      if (i + 1 < n && stream(i) == '<' && stream(i + 1) == '<') {
        depth += 1; i += 2
      } else if (i + 1 < n && stream(i) == '>' && stream(i + 1) == '>') {
        depth -= 1; i += 2
        if (depth == 0) return i
      } else i += 1
    }
    n
  }

  private def isDelimiter(c: Char): Boolean =
    Character.isWhitespace(c) || "()<>[]{}/%".indexOf(c.toInt) >= 0

  /** Literal string `(…)`: balanced nested parens, backslash escapes
    * (`\n \r \t \b \f \( \) \\`, 1–3 digit octal, line-continuation
    * backslash-EOL). Returns (raw string bytes, index past `)`) —
    * the text decode (UTF-8 or the active CMap) happens at emit. */
  private def literalString(stream: Array[Byte], open: Int): (Array[Byte], Int) = {
    val bytes = new java.io.ByteArrayOutputStream()
    var i = open + 1
    var depth = 1
    val n = stream.length
    while (i < n && depth > 0) {
      val b = stream(i)
      b.toChar match {
        case '\\' if i + 1 < n =>
          val e = stream(i + 1).toChar
          e match {
            case 'n' => bytes.write('\n'); i += 2
            case 'r' => bytes.write('\r'); i += 2
            case 't' => bytes.write('\t'); i += 2
            case 'b' => bytes.write('\b'); i += 2
            case 'f' => bytes.write('\f'); i += 2
            case '(' => bytes.write('('); i += 2
            case ')' => bytes.write(')'); i += 2
            case '\\' => bytes.write('\\'); i += 2
            case '\r' => // continuation: swallow EOL
              i += 2; if (i < n && stream(i) == '\n') i += 1
            case '\n' => i += 2
            case d if d >= '0' && d <= '7' =>
              var v = 0; var k = 0; i += 1
              while (k < 3 && i < n && stream(i) >= '0' && stream(i) <= '7') {
                v = v * 8 + (stream(i) - '0'); i += 1; k += 1
              }
              bytes.write(v & 0xFF)
            case other => bytes.write(other.toInt); i += 2
          }
        case '(' => depth += 1; bytes.write(b.toInt); i += 1
        case ')' =>
          depth -= 1
          if (depth > 0) bytes.write(b.toInt)
          i += 1
        case _ => bytes.write(b.toInt); i += 1
      }
    }
    (bytes.toByteArray, i)
  }

  /** Hex string `<…>`: whitespace ignored, odd final digit padded
    * with 0 per spec. Returns (raw string bytes, index past `>`).
    * Non-hex bytes inside the brackets mean this is not a string at
    * all (binary stream bytes that happened to contain `<` — only
    * reachable on spec-violating input, since binary-typed streams
    * are excluded upstream): the "string" decodes as EMPTY rather
    * than throwing or emitting garbage. */
  private def hexString(stream: Array[Byte], open: Int): (Array[Byte], Int) = {
    val sb = new StringBuilder
    var junk = false
    var i = open + 1
    val n = stream.length
    while (i < n && stream(i).toChar != '>') {
      val c = stream(i).toChar
      if (!Character.isWhitespace(c)) {
        if (Character.digit(c, 16) < 0) junk = true
        sb.append(c)
      }
      i += 1
    }
    if (i < n) i += 1 // past '>'
    if (junk) return (Array.empty[Byte], i)
    val hex = if (sb.length % 2 == 1) sb.append('0').result() else sb.result()
    (hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray, i)
  }

  /** Per-payload extraction over a binary column — the codec-class
    * `mapPartitions` frame function (same shape as
    * [[Multimodal.imageDHashes]]): adds `outCol` (extracted text,
    * null for non-PDF payloads) and `outCol_ok` (header recognized). */
  def withPdfText(df: DataFrame, payloadCol: String,
                  outCol: String = "text_pdf"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{BooleanType, StringType}
    val outSchema = df.schema
      .add(outCol, StringType, nullable = true)
      .add(s"${outCol}_ok", BooleanType, nullable = false)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { row =>
        val payload =
          if (row.isNullAt(payloadIdx)) null
          else row.getAs[Array[Byte]](payloadIdx)
        val t = extractText(payload)
        Row.fromSeq(row.toSeq :+ t.orNull :+ Boolean.box(t.isDefined))
      }
    }(Encoders.row(outSchema))
  }

  /** Deterministic VALID-PDF fixtures — the sandbox instance of the
    * extraction seam, the way GVID is for video: a complete PDF 1.4
    * writer (catalog → page tree → per-page FlateDecoded content
    * streams → font → correct xref + trailer; any conforming reader
    * opens these) whose text layer round-trips through
    * [[extractText]], so a DuckDB oracle can replay the expected
    * output from the planted text alone. */
  object PdfFixture {

    /** Spread an id frame across the cores before the per-row PDF
      * build (the fixture frames inherit the documents scan's ONE
      * partition, serializing the whole encode on one task — same
      * fix as [[graft.ext.Multimodal]]'s codec fixtures). Explicit
      * `defaultParallelism` so AQE cannot coalesce the tiny exchange;
      * payloads are deterministic per row, so placement is
      * value-invisible. */
    private def spreadForCodec(df: DataFrame): DataFrame =
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)

    /** Escape one text chunk into PDF literal-string bytes: UTF-8
      * encode, then escape the three structural bytes — safe at the
      * byte level because `( ) \` never occur inside UTF-8 multibyte
      * sequences. */
    private def lit(s: String): String = {
      val b = new StringBuilder
      s.getBytes("UTF-8").foreach { byte =>
        val c = (byte & 0xFF).toChar
        if (c == '(' || c == ')' || c == '\\') { b.append('\\'); b.append(c) }
        else b.append(c)
        ()
      }
      b.result()
    }

    private def deflate(s: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(s); d.finish()
      val bos = new java.io.ByteArrayOutputStream(s.length)
      val buf = new Array[Byte](8192)
      while (!d.finished()) {
        val n = d.deflate(buf)
        bos.write(buf, 0, n)
      }
      d.end()
      bos.toByteArray
    }

    /** One content stream per page: each page's lines land as
      * separate `Tj` ops under distinct `Td` moves (12pt leading). */
    private def pageContent(lines: Seq[String]): Array[Byte] = {
      val body = lines.zipWithIndex.map { case (l, k) =>
        s"BT /F1 12 Tf 72 ${720 - 14 * k} Td (${lit(l)}) Tj ET"
      }.mkString("\n")
      body.getBytes("ISO-8859-1")
    }

    /** A complete PDF whose page `k` shows `pages(k)`'s lines.
      * `compress = false` leaves content streams raw (both decode
      * paths are real and both are exercised by the driver query).
      * `rawContent` substitutes a verbatim content stream for page 0
      * (the fixture hook for TJ-kerning and hex-string cases).
      * `filterStyle` picks the `/Filter` emission when compressing:
      * `"name"` (`/Filter /FlateDecode`), `"array"`
      * (`/Filter [/FlateDecode]` — the array form many real writers
      * emit even for single filters), or `"asciihex"`
      * (`/Filter /ASCIIHexDecode`, hex body + `>` EOD). */
    def pdf(pages: Seq[Seq[String]], compress: Boolean = true,
            rawContent: Option[String] = None,
            filterStyle: String = "name"): Array[Byte] = {
      require(Set("name", "array", "asciihex").contains(filterStyle),
        s"filterStyle=$filterStyle")
      require(pages.nonEmpty, "pdf: no pages")
      val nPages = pages.length
      // object ids: 1 catalog, 2 pages, 3 font, then per page:
      // (4 + 2k) page object, (5 + 2k) content stream
      val objs = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
      objs += 1 -> "<< /Type /Catalog /Pages 2 0 R >>".getBytes("ISO-8859-1")
      val kids = (0 until nPages).map(k => s"${4 + 2 * k} 0 R").mkString(" ")
      objs += 2 -> s"<< /Type /Pages /Kids [$kids] /Count $nPages >>"
        .getBytes("ISO-8859-1")
      objs += 3 -> ("<< /Type /Font /Subtype /Type1 " +
        "/BaseFont /Helvetica >>").getBytes("ISO-8859-1")
      pages.zipWithIndex.foreach { case (lines, k) =>
        val pageId = 4 + 2 * k
        val contId = 5 + 2 * k
        objs += pageId -> (s"<< /Type /Page /Parent 2 0 R " +
          s"/MediaBox [0 0 612 792] /Contents $contId 0 R " +
          s"/Resources << /Font << /F1 3 0 R >> >> >>")
          .getBytes("ISO-8859-1")
        val content0 =
          if (k == 0 && rawContent.isDefined)
            rawContent.get.getBytes("ISO-8859-1")
          else pageContent(lines)
        val (body, filter) =
          if (!compress) (content0, "")
          else filterStyle match {
            case "array" =>
              (deflate(content0), " /Filter [/FlateDecode]")
            case "asciihex" =>
              (content0.map(b => f"${b & 0xFF}%02X").mkString
                .getBytes("ISO-8859-1") ++ ">".getBytes("ISO-8859-1"),
                " /Filter /ASCIIHexDecode")
            case _ => (deflate(content0), " /Filter /FlateDecode")
          }
        val bos = new java.io.ByteArrayOutputStream()
        bos.write(s"<< /Length ${body.length}$filter >>\nstream\n"
          .getBytes("ISO-8859-1"))
        bos.write(body)
        bos.write("\nendstream".getBytes("ISO-8859-1"))
        objs += contId -> bos.toByteArray
        ()
      }
      val out = new java.io.ByteArrayOutputStream()
      out.write("%PDF-1.4\n".getBytes("ISO-8859-1"))
      val offsets = scala.collection.mutable.Map.empty[Int, Int]
      objs.sortBy(_._1).foreach { case (id, body) =>
        offsets(id) = out.size()
        out.write(s"$id 0 obj\n".getBytes("ISO-8859-1"))
        out.write(body)
        out.write("\nendobj\n".getBytes("ISO-8859-1"))
        ()
      }
      val xrefAt = out.size()
      val maxId = objs.map(_._1).max
      val sb = new StringBuilder
      sb.append(s"xref\n0 ${maxId + 1}\n0000000000 65535 f \n")
      (1 to maxId).foreach { id =>
        sb.append(f"${offsets(id)}%010d 00000 n \n"); ()
      }
      sb.append(s"trailer\n<< /Size ${maxId + 1} /Root 1 0 R >>\n")
      sb.append(s"startxref\n$xrefAt\n%%EOF\n")
      out.write(sb.result().getBytes("ISO-8859-1"))
      out.toByteArray
    }

    /** A CID/Type0 PDF: one page whose text is shown as a UTF-16BE
      * hex string under a composite font with a planted `/ToUnicode`
      * CMap — identity `bfrange` over the whole BMP plus two `bfchar`
      * overrides (`A` → `α`, `B` → the `ff` ligature expansion) that
      * PROVE the mapping is applied rather than bytes falling through
      * to UTF-8. With `inObjStm` (the default, and how modern writers
      * emit), the catalog, page tree, font, and page dictionaries are
      * packed into a compressed `/Type /ObjStm` object stream, so the
      * font → ToUnicode → resource-name association is reachable ONLY
      * by unpacking it; the xref table covers the top-level objects
      * (ObjStm members resolve through the object stream itself, the
      * PDF 1.5 §7.5.7 shape — readers that insist on type-2 xref
      * entries should regenerate it, recovery extractors never look). */
    /** With `xrefStream` (requires `inObjStm`): instead of the classic
      * `xref` table + `trailer`, the file ends with a real PDF 1.5
      * cross-reference STREAM — a `/Type /XRef` FlateDecoded stream
      * whose `/W [1 4 2]` entries mark the four packed dicts as
      * TYPE-2 (in ObjStm 7 at their member index) and the top-level
      * objects as type-1 byte offsets, trailer keys (`/Size /Root`)
      * merged into the stream dict per §7.5.8. No `trailer` keyword
      * appears anywhere in the file, so a green
      * [[Pdf.xrefResolvedMembers]] == [[Pdf.recoveryMembers]] gate
      * proves the 1.5 lookup path itself, not a table fallback. */
    /** With `extendsChain` (requires `xrefStream`): the four dicts
      * split across TWO chained object streams — the base ObjStm 9
      * holds the catalog and page tree, the extension ObjStm 7
      * (`/Extends 9 0 R`) holds the font and page — and the xref
      * stream's type-2 entries for objects 1–2 point at the
      * EXTENSION with slots that only resolve by walking the chain
      * (the shape incremental-update writers produce). A third,
      * STALE ObjStm (object 10) carrying a superseded copy of the
      * page dict (`/Contents 99 0 R`) sits in the file bytes with
      * its xref entry marked TYPE-0 FREE: a reader that located
      * containers by scanning instead of through the xref would
      * resolve the stale page — the free-entry discipline the
      * driver gate checks. */
    def cidPdf(text: String, inObjStm: Boolean = true,
               xrefStream: Boolean = false,
               extendsChain: Boolean = false): Array[Byte] = {
      require(!xrefStream || inObjStm,
        "xrefStream fixtures pack their dicts in an ObjStm — type-2 " +
          "entries have nothing to point at otherwise")
      require(!extendsChain || xrefStream,
        "extendsChain fixtures need xref-stream type-2 entries to " +
          "point into the chain")
      val units = (0 until text.length).map(k => f"${text.charAt(k).toInt}%04X")
      val content = (s"BT /FC 12 Tf 72 720 Td <${units.mkString}> Tj ET")
        .getBytes("ISO-8859-1")
      val cmap = ("""/CIDInit /ProcSet findresource begin
        |12 dict begin
        |begincmap
        |/CMapName /Planted-UTF16 def
        |1 begincodespacerange
        |<0000> <FFFF>
        |endcodespacerange
        |2 beginbfchar
        |<0041> <03B1>
        |<0042> <00660066>
        |endbfchar
        |1 beginbfrange
        |<0000> <FFFF> <0000>
        |endbfrange
        |endcmap
        |CMapName currentdict /CMap defineresource pop
        |end
        |end""".stripMargin).getBytes("ISO-8859-1")
      val cat = "<< /Type /Catalog /Pages 2 0 R >>"
      val pages = "<< /Type /Pages /Kids [4 0 R] /Count 1 >>"
      val font = "<< /Type /Font /Subtype /Type0 /BaseFont /Planted-H " +
        "/Encoding /Identity-H /ToUnicode 6 0 R >>"
      val page = "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Contents 5 0 R /Resources << /Font << /FC 3 0 R >> >> >>"
      def streamBytes(extraDict: String, body0: Array[Byte]): Array[Byte] = {
        val body = deflate(body0)
        val bos = new java.io.ByteArrayOutputStream()
        bos.write((s"<< /Length ${body.length} /Filter /FlateDecode" +
          s"$extraDict >>\nstream\n").getBytes("ISO-8859-1"))
        bos.write(body)
        bos.write("\nendstream".getBytes("ISO-8859-1"))
        bos.toByteArray
      }
      def objStm(members: Seq[(Int, String)],
                 extra: String = ""): Array[Byte] = {
        var off = 0
        val placed = members.map { case (id, d) =>
          val r = (id, off, d); off += d.length + 1; r
        }
        val header = placed.map { case (id, o, _) => s"$id $o" }
          .mkString(" ") + "\n"
        val body = header + placed.map(_._3 + "\n").mkString
        streamBytes(
          s" /Type /ObjStm /N ${members.length} /First ${header.length}$extra",
          body.getBytes("ISO-8859-1"))
      }
      val objs = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
      if (extendsChain) {
        objs += 9 -> objStm(Seq(1 -> cat, 2 -> pages))
        objs += 7 -> objStm(Seq(3 -> font, 4 -> page), " /Extends 9 0 R")
        // superseded page dict in a FREED ObjStm — bytes present,
        // xref entry type-0: only a scan-located container could
        // ever resolve it
        objs += 10 -> objStm(Seq(
          4 -> page.replace("/Contents 5 0 R", "/Contents 99 0 R")))
      } else if (inObjStm) {
        objs += 7 -> objStm(Seq(1 -> cat, 2 -> pages, 3 -> font, 4 -> page))
      } else {
        objs += 1 -> cat.getBytes("ISO-8859-1")
        objs += 2 -> pages.getBytes("ISO-8859-1")
        objs += 3 -> font.getBytes("ISO-8859-1")
        objs += 4 -> page.getBytes("ISO-8859-1")
      }
      objs += 5 -> streamBytes("", content)
      objs += 6 -> streamBytes("", cmap)
      val out = new java.io.ByteArrayOutputStream()
      out.write("%PDF-1.5\n".getBytes("ISO-8859-1"))
      val offsets = scala.collection.mutable.Map.empty[Int, Int]
      objs.sortBy(_._1).foreach { case (id, body) =>
        offsets(id) = out.size()
        out.write(s"$id 0 obj\n".getBytes("ISO-8859-1"))
        out.write(body)
        out.write("\nendobj\n".getBytes("ISO-8859-1"))
        ()
      }
      val xrefAt = out.size()
      if (xrefStream) {
        // single-ObjStm shape: the xref stream is object 8, covering
        // 0..8 — 0 free; 1-4 type-2 (ObjStm 7, member index = id - 1,
        // the header order cidPdf packs them in); 5-8 type-1 offsets.
        // extendsChain shape: 0..10 — 1-2 type-2 pointing at the
        // EXTENSION stream 7 (resolvable only via /Extends to 9),
        // 3-4 type-2 direct members of 7, 5-7 and 9 type-1 offsets,
        // 8 the xref stream itself, 10 FREE (the stale ObjStm)
        val size = if (extendsChain) 11 else 9
        val entries = new java.io.ByteArrayOutputStream()
        def entry(t: Int, a: Long, b: Int): Unit = {
          entries.write(t)
          entries.write(((a >> 24) & 0xFF).toInt)
          entries.write(((a >> 16) & 0xFF).toInt)
          entries.write(((a >> 8) & 0xFF).toInt)
          entries.write(((a & 0xFF).toInt))
          entries.write((b >> 8) & 0xFF)
          entries.write(b & 0xFF)
        }
        entry(0, 0L, 0xFFFF)                      // obj 0: free head
        if (extendsChain) {
          entry(2, 7L, 0)                         // 1: via /Extends
          entry(2, 7L, 1)                         // 2: via /Extends
          entry(2, 7L, 0)                         // 3: direct member
          entry(2, 7L, 1)                         // 4: direct member
          (5 to 7).foreach(id => entry(1, offsets(id).toLong, 0))
          entry(1, xrefAt.toLong, 0)              // 8: this stream
          entry(1, offsets(9).toLong, 0)          // 9: base ObjStm
          entry(0, 0L, 0)                         // 10: freed stale
        } else {
          (1 to 4).foreach(id => entry(2, 7L, id - 1))
          (5 to 7).foreach(id => entry(1, offsets(id).toLong, 0))
          entry(1, xrefAt.toLong, 0)              // obj 8: this stream
        }
        val body = deflate(entries.toByteArray)
        out.write(s"8 0 obj\n".getBytes("ISO-8859-1"))
        out.write((s"<< /Type /XRef /Size $size /Root 1 0 R " +
          s"/W [1 4 2] /Index [0 $size] " +
          s"/Length ${body.length} /Filter /FlateDecode >>\nstream\n")
          .getBytes("ISO-8859-1"))
        out.write(body)
        out.write("\nendstream\nendobj\n".getBytes("ISO-8859-1"))
        out.write(s"startxref\n$xrefAt\n%%EOF\n".getBytes("ISO-8859-1"))
      } else {
        val ids = objs.map(_._1).sorted
        val sb = new StringBuilder
        sb.append("xref\n0 1\n0000000000 65535 f \n")
        ids.foreach { id =>
          sb.append(s"$id 1\n"); sb.append(f"${offsets(id)}%010d 00000 n \n"); ()
        }
        sb.append(s"trailer\n<< /Size ${ids.max + 1} /Root 1 0 R >>\n")
        sb.append(s"startxref\n$xrefAt\n%%EOF\n")
        out.write(sb.result().getBytes("ISO-8859-1"))
      }
      out.toByteArray
    }

    /** What [[Pdf.extractText]] should produce for [[cidPdf]]'s
      * payload, pre-normalization: the planted CMap's overrides
      * applied to the text (the oracle replays this with two SQL
      * `replace`s). */
    def cidExpected(text: String): String =
      text.replace("A", "α").replace("B", "ff")

    /** Attach [[cidPdf]] payloads to an id frame executor-side — the
      * CID twin of [[withPayloads]], backing `q_text_pdf_cid` (and,
      * with `xrefStream`, `q_text_pdf_xref`). */
    def withCidPayloads(df: DataFrame, idCol: String, textCol: String,
                        xrefStream: Boolean = false,
                        extendsChain: Boolean = false): DataFrame = {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types.BinaryType
      val outSchema = df.schema.add("payload", BinaryType, nullable = false)
      val textIdx = df.schema.fieldIndex(textCol)
      spreadForCodec(df).mapPartitions { rows =>
        rows.map { row =>
          val text = if (row.isNullAt(textIdx)) "" else row.getString(textIdx)
          Row.fromSeq(row.toSeq :+ cidPdf(text, xrefStream = xrefStream,
            extendsChain = extendsChain))
        }
      }(Encoders.row(outSchema))
    }

    /** Attach fixture PDFs to an id frame executor-side: page 1 is
      * the document's text, page 2 a deterministic footer — the shape
      * [[graft.ops.ExtQueries]]' `q_text_pdf` oracle replays.
      *
      * Deliberately NOT [[spreadForCodec]] (measured and reverted,
      * the WAV-attacher precedent): this two-page writer is ~0.1 ms
      * per row, so at fixture row counts the serial build is ~0.3 s
      * while the spread's exchange plus the 32-partition frame it
      * leaves behind cost more — q_doc_pipeline reads the attached
      * frame's descendant checkpoint in five downstream passes and
      * regressed 1.28→2.05 s with the spread; an interleaved A/B
      * measured warm full-pipeline 1.1 s without the spread vs
      * 1.8-2.0 s with it, and the PDF door itself identical (±0.05 s)
      * either way (recorded in plans/r19/README.md). The CID/xref builders
      * below keep their spread: their per-row work is an order of
      * magnitude heavier and measured 3-4× faster spread wide. */
    def withPayloads(df: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types.BinaryType
      val outSchema = df.schema.add("payload", BinaryType, nullable = false)
      val idIdx = df.schema.fieldIndex(idCol)
      val textIdx = df.schema.fieldIndex(textCol)
      df.mapPartitions { rows =>
        rows.map { row =>
          val id = row.getLong(idIdx)
          val text = if (row.isNullAt(textIdx)) "" else row.getString(textIdx)
          val payload = pdf(Seq(
            Seq(text),
            Seq(s"Page 2 of doc $id")))
          Row.fromSeq(row.toSeq :+ payload)
        }
      }(Encoders.row(outSchema))
    }
  }
}
