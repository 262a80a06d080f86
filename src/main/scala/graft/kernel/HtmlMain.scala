package graft.kernel

/** Main-content extraction for `tool = html_main` turns: HTML
  * boilerplate stripping via text/link-density block classification
  * (Boilerpipe, Kohlschütter et al., WSDM 2010 — the published
  * NumWordsRulesClassifier decision rules) plus a Readability-style
  * contiguous-segment score for main-content selection.
  *
  * The reference app has no HTML surface; this kernel is mandated by
  * BASELINE.json `north_star` ("strips HTML boilerplate via
  * Boilerpipe-style text/link-density block classification, applies
  * Readability-style DOM node scoring for main-content selection").
  * No jsoup offline → a small hand-rolled tag tokenizer. The
  * algorithm is deterministic and fully specified here; unit tests
  * pin its outputs.
  */
object HtmlMain {

  final case class Block(text: String, numWords: Int, numAnchorWords: Int) {
    def linkDensity: Double = if (numWords == 0) 0.0 else numAnchorWords.toDouble / numWords
  }

  private val BlockTags: Set[String] = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "li",
    "table", "tr", "td", "th", "thead", "tbody", "blockquote", "pre",
    "article", "section", "header", "footer", "nav", "aside", "main",
    "form", "fieldset", "hr", "br", "title", "body", "html", "head",
    "figure", "figcaption", "dl", "dt", "dd")

  private val SkipTags: Set[String] = Set("script", "style", "noscript", "option", "textarea")

  // tag tables bucketed by name length for the allocation-free matcher
  // (profiling: per-tag substring + indexWhere + toLowerCase dominated
  // segment(); names are matched in place instead)
  private val MaxTagLen =
    (BlockTags.iterator ++ SkipTags.iterator).map(_.length).max
  private def byLen(tags: Set[String]): Array[Array[String]] = {
    val a = Array.fill(MaxTagLen + 1)(Array.empty[String])
    tags.groupBy(_.length).foreach { case (l, ts) => a(l) = ts.toArray }
    a
  }
  private val SkipByLen = byLen(SkipTags)
  private val BlockByLen = byLen(BlockTags)

  /** case-insensitive (ASCII) equality of s[from, to) vs lowercase `t` */
  private def regionEqLower(s: String, from: Int, to: Int, t: String): Boolean = {
    var k = 0
    while (k < t.length) {
      val c = s.charAt(from + k)
      val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
      if (lc != t.charAt(k)) return false
      k += 1
    }
    true
  }

  private final val KindSkip = 0
  private final val KindAnchor = 1
  private final val KindBlock = 2
  private final val KindOther = 3

  /** classify the tag name s[from, to) without allocating */
  private def tagKind(s: String, from: Int, to: Int): Int = {
    val len = to - from
    if (len == 1) {
      val c = s.charAt(from)
      if (c == 'a' || c == 'A') return KindAnchor
    }
    if (len <= MaxTagLen) {
      val sk = SkipByLen(len)
      var k = 0
      while (k < sk.length) {
        if (regionEqLower(s, from, to, sk(k))) return KindSkip
        k += 1
      }
      val bl = BlockByLen(len)
      k = 0
      while (k < bl.length) {
        if (regionEqLower(s, from, to, bl(k))) return KindBlock
        k += 1
      }
    }
    KindOther
  }

  /** Tokenize HTML into text blocks with word / anchor-word counts.
    * Block-level tags (open or close) terminate the current block;
    * inline tags do not. `<a>`/`</a>` toggles anchor depth; script/
    * style/noscript contents and comments are dropped entirely.
    */
  def segment(html: String): Array[Block] = {
    val blocks = Array.newBuilder[Block]
    val text = new java.lang.StringBuilder(128)
    var words = 0
    var anchorWords = 0
    var anchorDepth = 0
    var skipDepth = 0
    var inWord = false
    var wordIsAnchor = false

    def endWord(): Unit = if (inWord) {
      words += 1
      if (wordIsAnchor) anchorWords += 1
      inWord = false
    }
    def flushBlock(): Unit = {
      endWord()
      // whitespace runs are collapsed on the way IN (appendText), so
      // the block text needs only the boundary trim — the former
      // second collapseWs pass (a per-block re-walk + copy) is gone
      val t = text.toString.trim
      if (t.nonEmpty) blocks += Block(t, words, anchorWords)
      text.setLength(0); words = 0; anchorWords = 0
    }
    def appendText(c: Char): Unit = {
      if (Character.isWhitespace(c)) {
        endWord()
        // collapse in place: at most one ' ' per run, none leading
        if (text.length > 0 && text.charAt(text.length - 1) != ' ')
          text.append(' ')
      } else {
        if (!inWord) { inWord = true; wordIsAnchor = anchorDepth > 0 }
        text.append(c)
      }
    }

    val n = html.length
    var i = 0
    while (i < n) {
      val ch = html.charAt(i)
      if (ch == '<') {
        // comment?
        if (i + 3 < n && html.charAt(i + 1) == '!' && html.charAt(i + 2) == '-' && html.charAt(i + 3) == '-') {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else {
          val close = html.indexOf('>', i + 1)
          if (close < 0) { i = n } // malformed trailing '<…'
          else {
            // tag name located in place — no substring / toLowerCase
            // per tag (this loop runs once per tag of every html turn)
            val isEnd = close > i + 1 && html.charAt(i + 1) == '/'
            val nameStart = if (isEnd) i + 2 else i + 1
            var nameEnd = nameStart
            while (nameEnd < close && {
              val c = html.charAt(nameEnd)
              c != ' ' && c != '\t' && c != '\n' && c != '\r' && c != '/'
            }) nameEnd += 1
            val kind = tagKind(html, nameStart, nameEnd)
            if (kind == KindSkip) {
              if (!isEnd) skipDepth += 1 else if (skipDepth > 0) skipDepth -= 1
            } else if (skipDepth == 0) {
              if (kind == KindAnchor) {
                endWord()
                if (!isEnd) anchorDepth += 1 else if (anchorDepth > 0) anchorDepth -= 1
              } else if (kind == KindBlock) {
                flushBlock()
              } else {
                endWord() // inline tag: word boundary, no block break
              }
            }
            i = close + 1
          }
        }
      } else if (ch == '&') {
        val (decoded, len) = decodeEntity(html, i)
        if (skipDepth == 0) appendText(decoded)
        i += len
      } else {
        if (skipDepth == 0) appendText(ch)
        i += 1
      }
    }
    flushBlock()
    blocks.result()
  }

  /** Boilerpipe NumWordsRulesClassifier (published decision rules):
    * curr.linkDensity > 1/3 → boilerplate; else if prev.linkDensity
    * <= 0.555556: content iff curr.words > 16 || next.words > 15 ||
    * prev.words > 4; else content iff curr.words > 40 || next.words
    * > 17. Sentinel empty blocks at both ends.
    */
  def classify(blocks: Array[Block]): Array[Boolean] = {
    val emptyB = Block("", 0, 0)
    blocks.indices.map { i =>
      val prev = if (i == 0) emptyB else blocks(i - 1)
      val curr = blocks(i)
      val next = if (i == blocks.length - 1) emptyB else blocks(i + 1)
      if (curr.linkDensity > 0.333333) false
      else if (prev.linkDensity <= 0.555556)
        curr.numWords > 16 || next.numWords > 15 || prev.numWords > 4
      else
        curr.numWords > 40 || next.numWords > 17
    }.toArray
  }

  /** All content blocks, joined "\n" — the boilerplate-stripped text. */
  def extractText(html: String): String = extractWithStats(html)._1

  /** Single pass: (extracted text, blocks kept, blocks dropped) —
    * callers needing both must not segment+classify twice. */
  def extractWithStats(html: String): (String, Int, Int) = {
    val blocks = segment(html)
    val keep = classify(blocks)
    val sb = new java.lang.StringBuilder(html.length / 2)
    var first = true
    var kept = 0
    var i = 0
    while (i < blocks.length) {
      if (keep(i)) {
        if (!first) sb.append('\n')
        sb.append(blocks(i).text)
        first = false
        kept += 1
      }
      i += 1
    }
    (sb.toString, kept, blocks.length - kept)
  }

  /** Readability-style segment scoring: score a contiguous run of
    * content blocks by Σ(words + 2·commas), pick the argmax run
    * (first on ties). Returns its text joined "\n", "" if none. */
  def mainSegment(html: String): String = {
    val blocks = segment(html)
    val keep = classify(blocks)
    var bestScore = -1L
    var bestStart = -1
    var bestEnd = -1
    var i = 0
    while (i < blocks.length) {
      if (keep(i)) {
        var j = i
        var score = 0L
        while (j < blocks.length && keep(j)) {
          score += blocks(j).numWords + 2L * countChar(blocks(j).text, ',')
          j += 1
        }
        if (score > bestScore) { bestScore = score; bestStart = i; bestEnd = j }
        i = j
      } else i += 1
    }
    if (bestStart < 0) ""
    else blocks.slice(bestStart, bestEnd).map(_.text).mkString("\n")
  }

  private def countChar(s: String, c: Char): Int = {
    var n = 0; var i = 0
    while (i < s.length) { if (s.charAt(i) == c) n += 1; i += 1 }
    n
  }

  /** Minimal entity decoding: named basics + numeric. Returns
    * (decoded char, chars consumed); unknown entities pass '&' through. */
  private def decodeEntity(s: String, i: Int): (Char, Int) = {
    val semi = s.indexOf(';', i + 1)
    if (semi < 0 || semi - i > 10) return ('&', 1)
    val body = s.substring(i + 1, semi)
    val len = semi - i + 1
    body match {
      case "amp"  => ('&', len)
      case "lt"   => ('<', len)
      case "gt"   => ('>', len)
      case "quot" => ('"', len)
      case "apos" => ('\'', len)
      case "nbsp" => (' ', len)
      case b if b.startsWith("#x") || b.startsWith("#X") =>
        try ((Integer.parseInt(b.substring(2), 16)).toChar, len)
        catch { case _: Exception => ('&', 1) }
      case b if b.startsWith("#") =>
        try ((Integer.parseInt(b.substring(1))).toChar, len)
        catch { case _: Exception => ('&', 1) }
      case _ => ('&', 1)
    }
  }
}
