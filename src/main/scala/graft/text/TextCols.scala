package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Scalar text features as native Catalyst column expressions (codegen'd,
 * no UDFs). Semantics are pinned byte-for-byte against the reference corpus:
 * recomputing these columns over all 798,543 segmenter fixture rows and all
 * 32,335 body fixture rows of /root/reference reproduces the fixture values
 * with zero mismatches (see `SegFeatureFixtureSpec` / `BodyFeatureFixtureSpec`).
 *
 * Reference behavior sites (for semantics, not code):
 *  - capitalisation/digit/singleChar: `DatacatSegmenterParser.java:497-528`,
 *    `DatacatBodySegmentationParser.java:412-431`; ALLDIGIT printed as NOCAPS
 *    at `FeaturesVectorDatacatSegmenter.java:108-111`.
 *  - punctType: `DatacatBodySegmentationParser.java:317-338`.
 *  - prefix/suffix: `FeaturesVectorDatacatEntries.java:63-72`.
 *  - punctuationProfile: `DatacatSegmenterParser.java:463` (char class
 *    recovered empirically from the 418-file segmenter corpus).
 *  - linearScaling bins: `DatacatSegmenterParser.java:460,580-602`.
 */
object TextCols {

  val NbBinsPosition = 12
  val LineScale = 10

  /** prefix(s,n): first n chars, or s itself when shorter. */
  def prefix(c: Column, n: Int): Column =
    when(length(c) <= n, c).otherwise(substring(c, 1, n))

  /** suffix(s,n): last n chars, or s itself when shorter. */
  def suffix(c: Column, n: Int): Column =
    when(length(c) <= n, c).otherwise(substring(c, -n, n))

  /** ALLDIGIT / CONTAINSDIGITS / NODIGIT. */
  def digitClass(tok: Column): Column =
    when(tok.rlike("^\\p{Nd}+$"), "ALLDIGIT")
      .when(tok.rlike("\\p{Nd}"), "CONTAINSDIGITS")
      .otherwise("NODIGIT")

  /**
   * Capitalisation class as PRINTED by the reference: ALLDIGIT forces NOCAPS;
   * ALLCAP iff the token has no lowercase letter (true for pure punctuation,
   * matching the fixtures where "," prints ALLCAP); INITCAP iff the first
   * char is an uppercase letter.
   */
  def capitalisation(tok: Column, digitCls: Column): Column =
    when(digitCls === "ALLDIGIT", "NOCAPS")
      .when(!tok.rlike("\\p{Ll}"), "ALLCAP")
      .when(substring(tok, 1, 1).rlike("^\\p{Lu}"), "INITCAP")
      .otherwise("NOCAPS")

  /** OPENBRACKET/ENDBRACKET/DOT/COMMA/HYPHEN/QUOTE/PUNCT/NOPUNCT. */
  def punctType(tok: Column): Column =
    when(tok === "(" || tok === "[", "OPENBRACKET")
      .when(tok === ")" || tok === "]", "ENDBRACKET")
      .when(tok === ".", "DOT")
      .when(tok === ",", "COMMA")
      .when(tok === "-", "HYPHEN")
      .when(tok === "\"" || tok === "'" || tok === "`", "QUOTE")
      .when(tok.rlike("^[,:;?.]+$"), "PUNCT")
      .otherwise("NOPUNCT")

  /**
   * Characters counted by punctuationProfile. Recovered empirically: every
   * char below appears in fixture profiles exactly as often as in its line,
   * and frequent candidates outside it (`% & < > \\ ^ _ ~ | { } = +`) never
   * appear in any of the 740k fixture profiles.
   */
  final val ProfileClass = "!\"#$'()*,-./:;?@[]«»•"

  private final val NonProfileRegex = "[^!\"#$'()*,./:;?@«»•\\[\\]-]"

  /** Ordered string of profile-class chars of the line ('' when none). */
  def punctuationProfile(line: Column): Column =
    regexp_replace(line, NonProfileRegex, "")

  /** floor(v*bins/max) clamped to [0,bins]; 0 when max<=0. */
  def linearScaling(v: Column, max: Column, bins: Int): Column =
    when(max <= 0.0, 0)
      .when(v >= max, bins)
      .when(v <= 0.0, 0)
      .otherwise(floor(v * bins / max).cast("int"))

  /** Repetition-detection key: letters only, lowercased (applied to lines
   * longer than 8 pattern chars by the caller). Consistent with the
   * fixture behavior where "GRECQUES et"/"GRECQUES ET" and
   * "Bronze, 74"/"Bronze, 114" lines share a pattern. The letters —
   * `regexp_replace(line, "[^\\p{L}]", "")`, where Java `\p{L}` is
   * `Character.isLetter` of each code point — come from the byte-scan leg
   * [[graft.functions.LineKernels.letters]]; Spark's own `lower()` stays
   * around it, so the case mapping is unchanged. */
  def pattern(line: Column): Column = lower(graft.functions.LineKernels.lettersOf(line))

  /** XML entity escaping, matching fixture bytes (`&apos;` etc.). */
  def htmlEncode(c: Column): Column = {
    val amp = regexp_replace(c, "&", "&amp;")
    val lt = regexp_replace(amp, "<", "&lt;")
    val gt = regexp_replace(lt, ">", "&gt;")
    val q = regexp_replace(gt, "\"", "&quot;")
    regexp_replace(q, "'", "&apos;")
  }

  /** Line noise filter: blank lines, ALTO placeholders, image artifacts.
   * (reference `TextUtilities.filterLine` call sites
   * `DatacatSegmenterParser.java:450-453`,
   * `DatacatBodySegmentationParser.java:190-193`). */
  def filterLine(line: Column): Column =
    line.isNull || trim(line) === "" ||
      line.contains("@IMAGE") || line.contains("@PAGE") ||
      line.contains(".pbm") || line.contains(".svg") ||
      line.contains(".png") || line.contains(".jpg")

  /** Lexical flags (reference `DatacatSegmenterParser.java:505-543`).
   * year regex is the reference's `[1,2][0-9][0-9][0-9]` verbatim — the
   * comma inside the class is reference behavior (fixtures flag ",949.").
   */
  def yearFlag(tok: Column): Column = tok.rlike("[1,2][0-9][0-9][0-9]")
  def emailFlag(tok: Column): Column =
    tok.rlike("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")
  def httpFlag(tok: Column): Column = tok.contains("http")
  def monthFlag(tok: Column): Column =
    tok.rlike("(?i)^(january|february|march|april|may|june|july|august|september|october|november|december|jan|feb|mar|apr|jun|jul|aug|sep|oct|nov|dec)$")

  def bool01(c: Column): Column = when(c, "1").otherwise("0")
}
