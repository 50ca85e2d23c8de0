package graft.text

/**
 * Deterministic text tokenization shared by the whole engine.
 *
 * Semantics are pinned against the reference corpus of
 * DataCatalogue/grobid-datacat (read-only at /root/reference): tokenizing the
 * decoded gold TEI span text with [[delimiters]] reproduces, byte-for-byte,
 * the token column of all 14 body-segmentation raw fixture files
 * (`resources/dataset/datacat-body-segmentation/corpus/raw, glob *.text`), i.e. the
 * token stream produced by the reference's analyzer at
 * `DatacatBodySegmentationParser.java:213` (`block.getTokens()`).
 *
 * The delimiter characters are emitted as stand-alone tokens; whitespace is
 * dropped from the token stream but captured in each token's `sepBefore`
 * (the exact whitespace string between the previous token and this one),
 * which is what makes later byte-exact span re-assembly possible without a
 * re-alignment join (reference re-scan at
 * `DatacatBodySegmentationParser.java:800-831` disappears by construction).
 */
object Tok {

  /** Whitespace characters (dropped from the token stream, kept in sepBefore). */
  final val whitespace: Set[Char] = Set(' ', '\n', '\r', '\t', '\f', ' ')

  /**
   * Non-whitespace delimiter characters, each becoming its own token.
   * Empirically verified against the reference corpus (see object doc).
   * Notably NOT delimiters (observed inside multi-char fixture tokens):
   * `^ % ° ‰ & < > \ ~ _ ■`.
   */
  final val punctDelims: Set[Char] =
    "([•*,:;?.!/)-–−‐«»„”“‘’'`$]\"".toSet

  // class lookup table for the hot tokenizer loop (codepoints ≤ maxClassed):
  // 0 = regular, 1 = whitespace, 2 = punct delimiter. All delimiter chars
  // are < 0x2220; anything above is a regular token char.
  private final val maxClassed: Int =
    (whitespace ++ punctDelims).map(_.toInt).max
  private final val charClass: Array[Byte] = {
    val t = new Array[Byte](maxClassed + 1)
    whitespace.foreach(c => t(c.toInt) = 1)
    punctDelims.foreach(c => t(c.toInt) = 2)
    t
  }
  @inline private def classOf(c: Char): Byte =
    if (c.toInt <= maxClassed) charClass(c.toInt) else 0

  /** One token plus the exact whitespace that preceded it in the source. */
  final case class RawTok(text: String, sepBefore: String)

  /**
   * Tokenize `text` into delimiter-separated tokens, carrying the exact
   * preceding whitespace of each token. Concatenating
   * `sepBefore + text` over all tokens plus [[trailing]] reproduces `text`.
   */
  def tokenize(text: String): Vector[RawTok] = {
    val out = Vector.newBuilder[RawTok]
    val n = text.length
    var i = 0
    var sepStart = 0 // current separator = text[sepStart, i) when scanning ws
    var tokStart = -1 // current token start, -1 = none open
    var sepEnd = 0
    def flushCur(end: Int): Unit = if (tokStart >= 0) {
      out += RawTok(text.substring(tokStart, end), text.substring(sepStart, sepEnd))
      sepStart = end; sepEnd = end; tokStart = -1
    }
    while (i < n) {
      val cls = classOf(text.charAt(i))
      if (cls == 1) { // whitespace
        flushCur(i)
        sepEnd = i + 1
      } else if (cls == 2) { // stand-alone delimiter token
        flushCur(i)
        out += RawTok(text.substring(i, i + 1), text.substring(sepStart, sepEnd))
        sepStart = i + 1; sepEnd = i + 1
      } else if (tokStart < 0) tokStart = i
      i += 1
    }
    flushCur(n)
    out.result()
  }

  /** Trailing whitespace of `text` after the last token (for byte round-trips). */
  def trailing(text: String): String = {
    var i = text.length
    while (i > 0 && whitespace(text.charAt(i - 1))) i -= 1
    text.substring(i)
  }

  /** Whitespace-only split used by the segmenter for first/second lexical
   * token of a line (reference `DatacatSegmenterParser.java:434`:
   * `new StringTokenizer(line, " \t\f ")`). */
  def whitespaceSplit(line: String): Vector[String] =
    line.split("[ \t\f ]+").toVector.filter(_.nonEmpty)
}
