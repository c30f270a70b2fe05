package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Property suite per FIXTURES.md §5 — deterministic seeded generation
  * (seed fixed, no wall clock), 300 random turns per property.
  */
class SegmenterPropertySpec extends AnyFunSuite {

  test("SegBuilder chunk-list build == naive StringBuilder reference") {
    // safety net for the allocation rework: random addText sequences
    // must reproduce the reference separator-join rule exactly
    // (TextSegment.java:27-34), including mid-accumulation length /
    // blank reads and the lone-separator quirk on empty appends
    val rnd = new Random(0xBEEF)
    val pieces = Seq("", "a", "b\n", "\n", "  ", "тело", "x\ny", "\n\n", "zz ")
    for (_ <- 1 to 2000) {
      val init = pieces(rnd.nextInt(pieces.length))
      val sb = new SegBuilder(0, init)
      val ref = new StringBuilder(init)
      def refAdd(t: String): Unit = {
        if (ref.nonEmpty && !(ref.length >= 1 && ref.endsWith("\n"))) {
          ref ++= "\n"
        }
        ref ++= t
      }
      for (_ <- 0 until rnd.nextInt(6)) {
        val t = pieces(rnd.nextInt(pieces.length))
        sb.addText(t)
        refAdd(t)
        // interleaved reads must not disturb the accumulation — incl.
        // a full text build mid-sequence (the post-passes read .text of
        // a builder that may receive further appends)
        assert(sb.length == ref.length)
        assert(sb.isBlankTrim == ref.toString.trim.isEmpty)
        if (rnd.nextBoolean()) assert(sb.text == ref.toString)
      }
      assert(sb.text == ref.toString)
      assert(sb.length == ref.length)
      val seg = sb.toSeg
      assert(seg.text == ref.toString && seg.length == ref.length)
    }
  }

  private val ruWords = Vector("договор", "приложение", "протокол", "устав",
    "решение", "тело", "текст", "пункт", "раздел", "соглашение", "сторона")
  private val enWords = Vector("hello", "world", "clause", "section", "body",
    "agreement", "annex", "header", "content", "terms")

  private def genLine(rnd: Random): String = {
    val words = (0 until 1 + rnd.nextInt(6)).map { _ =>
      val w = if (rnd.nextBoolean()) ruWords(rnd.nextInt(ruWords.size))
              else enWords(rnd.nextInt(enWords.size))
      rnd.nextInt(4) match {
        case 0 => w.toUpperCase
        case 1 => s"**$w**"
        case _ => w
      }
    }
    val base = words.mkString(" ")
    rnd.nextInt(10) match {
      case 0 => s"^C $base"
      case 1 => s"^R $base"
      case 2 => s">>>> $base"
      case 3 => s"#N(${rnd.nextInt(3)},${rnd.nextInt(3)}) $base"
      case 4 => s"#B $base"
      case 5 => s"[TOC] $base"
      case 6 => ""
      case 7 => s"|$base|${enWords(rnd.nextInt(enWords.size))}|"
      case _ => base
    }
  }

  private def genTurn(rnd: Random): String =
    (0 until rnd.nextInt(20)).map(_ => genLine(rnd)).mkString("\n")

  private def forAllTurns(seed: Long, n: Int)(check: (String, MultiDoc) => Unit): Unit = {
    val rnd = new Random(seed)
    for (_ <- 0 until n) {
      val turn = genTurn(rnd)
      val md = Segmenter.segment(Tokenizer.tokenize(turn))
      check(turn, md)
    }
  }

  test("p1 determinism: segment(x) == segment(x)") {
    forAllTurns(42L, 300) { (turn, md) =>
      val again = Segmenter.segment(Tokenizer.tokenize(turn))
      assert(md == again, s"non-deterministic for:\n$turn")
    }
  }

  test("p2 segment invariants: length==text.length, offsets in range") {
    forAllTurns(43L, 300) { (turn, md) =>
      val total = turn.length + 16 // prefixes can only shrink markup text
      for (d <- md.documents; p <- d.paragraphs; s <- Seq(p.header, p.body)) {
        assert(s.length == s.text.length, s"len mismatch for:\n$turn")
        assert(s.offset >= -1 && s.offset <= total, s"offset oob for:\n$turn")
        if (s.offset == -1) assert(s.text.isEmpty)
      }
    }
  }

  test("p3 structural invariants: no empty docs, no blank headers") {
    forAllTurns(44L, 300) { (turn, md) =>
      for (d <- md.documents) {
        assert(d.paragraphs.nonEmpty, s"empty doc for:\n$turn")
        for (p <- d.paragraphs)
          assert(p.header.text.trim.nonEmpty, s"blank header for:\n$turn")
      }
    }
  }

  test("p4 no numbering placeholder leakage (%N) in output") {
    forAllTurns(45L, 300) { (turn, md) =>
      val txt = Segmenter.extractedText(md)
      assert(!"%\\d".r.findFirstIn(txt).isDefined, s"placeholder leak:\n$turn")
    }
  }

  test("p5 reassembly: non-markup plain turns reassemble exactly") {
    val rnd = new Random(46L)
    for (_ <- 0 until 300) {
      val lines = (0 until 1 + rnd.nextInt(12)).map { _ =>
        (0 until 1 + rnd.nextInt(5))
          .map(_ => enWords(rnd.nextInt(enWords.size))).mkString(" ")
      }
      val turn = lines.mkString("\n")
      val md = Segmenter.segment(Tokenizer.tokenize(turn))
      // plain lowercase lines: first becomes the header, rest join the body
      assert(Segmenter.extractedText(md) == turn)
    }
  }

  test("p7 kernel never throws on adversarial garbage (fuzz)") {
    val rnd = new Random(48L)
    val alphabet =
      "<>&|*#^[]()%.\\\"'{}/ \t\r\nабвгПРИЛдоговор формate токен0123**^C #N(1,0) [TOC] <p><script>"
    for (_ <- 0 until 500) {
      val len = rnd.nextInt(400)
      val sb = new StringBuilder
      for (_ <- 0 until len) sb.append(alphabet(rnd.nextInt(alphabet.length)))
      val turn = graft.pipeline.Turn("c", 0, "user", sb.toString, null, null)
      val out = graft.pipeline.TurnExtractor.extract(turn)
      assert(out.error == null, s"error on:\n${sb.toString}\n${out.error}")
    }
  }

  // --- p8: the whole doc-type fold vs a regex oracle (:368-402) ---

  /** keyToDocType (DocumentParser.java:37-50) as compiled regexes, in the
    * Segmenter's probe order.
    */
  private val docTypeRegexes: Seq[(scala.util.matching.Regex, String)] = Seq(
    "договор" -> DocType.CONTRACT, "у *с *т *а *в" -> DocType.CHARTER,
    "протокол" -> DocType.PROTOCOL, "положение" -> DocType.REGULATION,
    "приказ" -> DocType.ORDER, "план работ" -> DocType.WORK_PLAN,
    "дополнительное\\s+соглашение" -> DocType.SUPPLEMENTARY_AGREEMENT,
    "приложение" -> DocType.ANNEX, "контракт" -> DocType.CONTRACT,
    "решение" -> DocType.PROTOCOL, "соглашение" -> DocType.AGREEMENT)
    .map { case (k, t) => (k + "([^А-Яа-я]|$)").r -> t }

  /** findDocumentType (DocumentParser.java:368-402) over a document's
    * paragraphs: the first 5 headers, earliest absolute offset wins
    * (strict `>`), a CHARTER match always wins, and the first 5 bodies
    * only if still UNKNOWN. Returns the type and whether bodies decided it.
    */
  private def oracleDocType(d: Doc): (String, Boolean) = {
    var result = DocType.UNKNOWN
    var firstOccurrence = Int.MaxValue
    def scan(seg: Para => TextSeg): Unit =
      for (p <- d.paragraphs.take(5); (re, docType) <- docTypeRegexes) {
        val s = seg(p)
        re.findFirstMatchIn(s.text.toLowerCase).foreach { m =>
          val abs = m.start + s.offset
          if ((firstOccurrence > abs && result != DocType.CHARTER) ||
              docType == DocType.CHARTER) {
            result = docType
            firstOccurrence = abs
          }
        }
      }
    scan(_.header)
    if (result != DocType.UNKNOWN) (result, false)
    else { scan(_.body); (result, true) }
  }

  // no "принято": the PROTOCOL post-pass demotes `решение +принято`
  // headers AFTER classification, which would change the paragraphs the
  // oracle reads (that demotion is pinned by the golden g19 tests)
  private val docWords = Vector("договор", "договора", "устав", "у с т а в",
    "уставной", "протокол", "положение", "приказ", "план работ",
    "дополнительное соглашение", "дополнительное  соглашение",
    "приложение", "контракт", "решение", "решением", "соглашение",
    "соглашениё", "ёлка", "тело", "пункт", "текст", "раздел", "сторона",
    "стороны", "clause", "annex", "12", "№5.")

  private def docPhrase(rnd: Random): String =
    (0 until 1 + rnd.nextInt(5)).map { _ =>
      val w = docWords(rnd.nextInt(docWords.size))
      rnd.nextInt(3) match {
        case 0 => w.toUpperCase
        case 1 => w.capitalize
        case _ => w
      }
    }.mkString(" ")

  /** 1-9 paragraphs: a centered (forced) header line — sometimes opening
    * with a sub-document keyword, which starts a new document — and 0-2
    * body lines; keywords land anywhere in either.
    */
  private def genDocTurn(rnd: Random): String =
    (0 until 1 + rnd.nextInt(9)).flatMap { _ =>
      val opener = rnd.nextInt(6) match {
        case 0 => "Приложение "
        case 1 => "ДОПОЛНИТЕЛЬНОЕ СОГЛАШЕНИЕ "
        case _ => ""
      }
      val header = "^C " + opener + docPhrase(rnd)
      header +: (0 until rnd.nextInt(3)).map(_ => docPhrase(rnd))
    }.mkString("\n")

  test("p8 doc types == findDocumentType regex oracle (:368-402)") {
    val rnd = new Random(49L)
    val seen = scala.collection.mutable.Set[String]()
    var fromBodies = 0
    var multiDoc = 0
    for (_ <- 0 until 1500) {
      val turn = genDocTurn(rnd)
      val md = Segmenter.segment(Tokenizer.tokenize(turn))
      val expected = md.documents.map(oracleDocType)
      assert(md.documents.map(_.docType) == expected.map(_._1),
        s"doc types for:\n$turn")
      seen ++= expected.map(_._1)
      fromBodies += expected.count(e => e._2 && e._1 != DocType.UNKNOWN)
      if (md.documents.size > 1) multiDoc += 1
    }
    // the generator reaches every keyword type, the body fallback and
    // multi-document turns
    assert(seen == Set(DocType.UNKNOWN, DocType.CONTRACT, DocType.CHARTER,
      DocType.PROTOCOL, DocType.REGULATION, DocType.ORDER,
      DocType.WORK_PLAN, DocType.SUPPLEMENTARY_AGREEMENT, DocType.ANNEX,
      DocType.AGREEMENT))
    assert(fromBodies > 0 && multiDoc > 0)
  }

  test("p6 doc type is always a known enum name") {
    val known = Set(DocType.UNKNOWN, DocType.CONTRACT, DocType.CHARTER,
      DocType.PROTOCOL, DocType.REGULATION, DocType.CHARITY_POLICY,
      DocType.ORDER, DocType.WORK_PLAN, DocType.SUPPLEMENTARY_AGREEMENT,
      DocType.ANNEX, DocType.AGREEMENT)
    forAllTurns(47L, 300) { (turn, md) =>
      for (d <- md.documents) assert(known.contains(d.docType))
    }
  }
}
