package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Parity of the allocation-free scanners with the regex grammars they
  * replace (Segmenter's single-pass doc-type keyword scan and its
  * sub-document / not-header literal scans, Tokenizer list/bold markup):
  * the scans must agree with the original compiled patterns, run on the
  * lowercased text as the reference does, on every input.
  */
class KeywordScanSpec extends AnyFunSuite {

  private val rnd = new Random(0xC0FFEE)

  // --- keyword scans vs the reference regexes (DocumentParser.java) ---

  private def regexAt(lower: String, pattern: String): Int =
    pattern.r.findFirstMatchIn(lower).map(_.start).getOrElse(-1)

  /** The eleven `<keyword>([^А-Яа-я]|$)` doc-type patterns, in the
    * Segmenter's probe order.
    */
  private val probePatterns: Seq[String] = Seq(
    "договор", "у *с *т *а *в", "протокол", "положение", "приказ",
    "план работ", "дополнительное\\s+соглашение", "приложение",
    "контракт", "решение", "соглашение").map(_ + "([^А-Яа-я]|$)")

  private def firsts(raw: String): Seq[Int] = {
    val out = new Array[Int](Segmenter.nProbes)
    Segmenter.keywordFirsts(raw, out)
    out.toSeq
  }

  // Ё/ё are outside [А-Яа-я] (a keyword boundary); \u000B/\f are \s, the
  // control chars \u0001/\u001C, NBSP and LINE SEP are not
  private val alphabet = "абвгдеёжзиклмнопрстуфхцчшщыьэюя " +
    "АБВГДЕЁЖПРСТУЯ abcXYZ0123.,-\t\n\r\u000B\f\u0001\u001C\u00A0\u2028"

  private val fragments = Seq("договор", "устав", "у с т а в", "УСТАВ",
    "у  с т ав", "протокол", "приказ", "план работ", "план  работ",
    "дополнительное", "соглашение", "дополнительное  соглашение",
    "дополнительное\tсоглашение", "дополнительное соглашениея соглашение",
    "дополнительноесоглашение", "приложение", "контракт", "решение",
    "положение", "договора", "уст ав", "решением", "решение  принято",
    "решение принято", "решениепринято", "договорё", "ёсоглашение",
    "приказЁ")

  /** Random case per char: the scans compare against both case twins. */
  private def mixCase(w: String): String = rnd.nextInt(3) match {
    case 0 => w
    case 1 => w.toUpperCase
    case _ => w.map(c => if (rnd.nextBoolean()) c.toUpper else c)
  }

  private def randomText(maxLen: Int): String = {
    val n = rnd.nextInt(maxLen)
    val sb = new StringBuilder
    for (_ <- 0 until n) {
      // bias toward keyword fragments so matches actually occur
      rnd.nextInt(6) match {
        case 0 => sb ++= mixCase(fragments(rnd.nextInt(fragments.size)))
        case _ => sb += alphabet.charAt(rnd.nextInt(alphabet.length))
      }
    }
    sb.toString
  }

  test("keywordFirsts: one pass == the 11 reference regexes") {
    assert(Segmenter.nProbes == probePatterns.size)
    def check(raw: String): Unit = {
      val lower = raw.toLowerCase
      assert(firsts(raw) == probePatterns.map(regexAt(lower, _)),
        s"keywordFirsts on <$raw>")
    }
    // short and long segments: keywords can sit hundreds of chars in
    for (_ <- 1 to 3000) check(randomText(rnd.nextInt(3) match {
      case 0 => 60
      case 1 => 200
      case _ => 600
    }))
    for (raw <- Seq("", "д", "у", "у с т а", "Устав", "У С Т А В.",
        "у с т а вы", "ДОПОЛНИТЕЛЬНОЕ СОГЛАШЕНИЕ", "дополнительное\n\nсоглашение",
        "дополнительное\u00A0соглашение", "дополнительное соглашениея соглашение",
        "договорЁ", "ёдоговор", "договорёдоговора", "ПЛАН РАБОТ", "план\tработ")) {
      check(raw)
    }
    // overlapping matches are each reported from their own start
    assert(firsts("Дополнительное соглашение")(6) == 0)
    assert(firsts("Дополнительное соглашение")(10) == 15)
    assert(firsts("x дополнительное соглашениея соглашение")(6) == -1)
    assert(firsts("У С Т А В")(1) == 0)
  }

  private val subDocPatterns =
    Seq("^\\s*приложение", "^\\s*дополнительное\\s+соглашение")

  test("startsSubDocument / hasNotHeaderPhrase == reference regexes") {
    def check(raw: String): Unit = {
      val lower = raw.toLowerCase
      assert(Segmenter.startsSubDocument(raw) ==
        subDocPatterns.exists(regexAt(lower, _) >= 0), s"subdoc on <$raw>")
      assert(Segmenter.hasNotHeaderPhrase(raw) ==
        (regexAt(lower, "решение +принято") >= 0), s"not-header on <$raw>")
    }
    // every whitespace-like prefix before a sub-document keyword: only \s
    // may precede it (the \u0001/\u001C/NBSP/LINE SEP prefixes must fail)
    val lead = Seq("", " ", "  \t", "\n\r", "\u000B", "\f", "\u0001",
      "\u001C", "\u00A0", "\u2028", " \u0001 ", "x ")
    for (l <- lead; f <- fragments; tail <- Seq("", " тело", "ы")) {
      check(l + mixCase(f) + tail)
    }
    for (_ <- 1 to 3000) {
      check(lead(rnd.nextInt(lead.size)) + randomText(200))
    }
    assert(!Segmenter.startsSubDocument("\u0001приложение"))
    assert(Segmenter.startsSubDocument("\u000BПРИЛОЖЕНИЕ 1"))
    assert(Segmenter.hasNotHeaderPhrase("Итог: РЕШЕНИЕ   Принято."))
    assert(!Segmenter.hasNotHeaderPhrase("решение\tпринято"))
  }

  // --- tokenizer list/bold markup vs the original regex grammars ---

  private val numList =
    "^#N\\((\\d+),(\\d+)(?:,(\\d+))?(?:,([^)]*))?\\)\\s".r
  private val bulletList = "^#B(?:\\((\\d+),(\\d+)\\))?\\s".r
  private val boldRun = "\\*\\*(.*?)\\*\\*".r

  private def regexParse(line: String): Element = {
    // the ORIGINAL regex-based parseLine semantics, re-implemented here
    // as the test oracle for the manual scanner
    var rest = line
    var listRef: Option[ListRef] = None
    var changed = true // parseLine consumes repeated prefixes; mirror it
    while (changed) {
      changed = false
      if (rest.length > 1 && rest.charAt(0) == '#') {
        numList.findFirstMatchIn(rest) match {
          case Some(m) =>
            val lvl = m.group(2).toInt
            val start = Option(m.group(3)).map(_.toInt).getOrElse(1)
            val tpl = Option(m.group(4)).getOrElse(
              (1 to lvl + 1).map(i => s"%$i").mkString(".") + ".")
            listRef = Some(ListRef(m.group(1).toInt, lvl, "decimal", tpl, start))
            rest = rest.drop(m.end)
            changed = true
          case None =>
            bulletList.findFirstMatchIn(rest).foreach { m =>
              val id = Option(m.group(1)).map(_.toInt).getOrElse(-1)
              val lvl = Option(m.group(2)).map(_.toInt).getOrElse(0)
              listRef = Some(ListRef(id, lvl, "bullet", "", 1))
              rest = rest.drop(m.end)
              changed = true
            }
        }
      }
    }
    val runs = new scala.collection.mutable.ArrayBuffer[Run]
    val plain = new StringBuilder
    if (rest.indexOf('*') < 0) {
      if (rest.nonEmpty) { runs += Run(rest); plain ++= rest }
    } else {
      var last = 0
      for (m <- boldRun.findAllMatchIn(rest)) {
        if (m.start > last) {
          runs += Run(rest.substring(last, m.start))
          plain ++= rest.substring(last, m.start)
        }
        runs += Run(m.group(1), bold = Some(true)); plain ++= m.group(1)
        last = m.end
      }
      if (last < rest.length) {
        runs += Run(rest.substring(last)); plain ++= rest.substring(last)
      }
    }
    Element(plain.toString, runs.toSeq, listRef = listRef)
  }

  test("manual list-prefix + bold-run scans == original regex grammar") {
    val frags = Seq("#N(1,0) x", "#N(12,3,7) y", "#N(1,0,2,%1-%2) z",
      "#N(1,0,abc) q", "#N(1,0,) q", "#N(1,0", "#N(1,0)x", "#N(1,0)\tx",
      "#B a", "#B(3,1) b", "#B(3,1)c", "#B(x,1) d", "#Bq", "#B",
      "**bold**", "a **b** c", "**a** **b**", "***x***", "a ** b",
      "****", "**", "*a*", "#N(5,1,3) **bold** tail")
    for (f <- frags) {
      val m = Tokenizer.parseLine(f)
      val r = regexParse(f)
      assert(m.listRef == r.listRef, s"listRef on <$f>")
      assert(m.text == r.text, s"text on <$f>")
      assert(m.runs == r.runs, s"runs on <$f>")
    }
    // randomized cross-check
    val pieces = Seq("#N(", "#B(", ")", ",", " ", "1", "23", "%1.", "*",
      "**", "x", "тест", "\t")
    for (_ <- 1 to 3000) {
      val f = (0 until rnd.nextInt(8)).map(_ =>
        pieces(rnd.nextInt(pieces.length))).mkString
      val line = if (rnd.nextBoolean()) "#N(" + f else f
      val m = Tokenizer.parseLine(line)
      val r = regexParse(line)
      assert(m.listRef == r.listRef, s"listRef on <$line>")
      assert(m.text == r.text, s"text on <$line>")
      assert(m.runs == r.runs, s"runs on <$line>")
    }
  }
}
