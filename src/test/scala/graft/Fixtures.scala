package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.text.Tok

/**
 * Test-only loaders for the reference gold corpus (read-only at
 * /root/reference). Mirrors the SAX trainers' semantics
 * (`TEIDatacatBodySegmentationSaxParser.java:92-148`): span tags carry the
 * label, the first token of a span gets the `I-` prefix.
 */
object Fixtures {
  val refRoot = graft.extract.Eval.referenceRoot
  val bodyRaw = s"$refRoot/datacat-body-segmentation/corpus/raw"
  val bodyTei = s"$refRoot/datacat-body-segmentation/corpus/tei"
  val segRaw = s"$refRoot/datacat-segmenter/corpus/raw"
  val segTei = s"$refRoot/datacat-segmenter/corpus/tei"

  def available: Boolean = Files.isDirectory(Paths.get(refRoot))

  def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), "UTF-8")

  def listDir(dir: String, suffix: String): Seq[Path] =
    Files.list(Paths.get(dir)).iterator.asScala
      .filter(_.getFileName.toString.endsWith(suffix)).toSeq.sortBy(_.toString)

  def decodeEntities(s: String): String =
    s.replace("&amp;", "&").replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&apos;", "'")

  final case class BodySpanFx(label: String, text: String, xml: String)

  /** What the assembler must emit for one span: label + XML-escaped text. */
  final case class ExpectedSpan(label: String, encoded: String)

  final case class BodyFixture(
      name: String,
      spans: Vector[BodySpanFx],
      /** full source stream: inner <text> region, tags stripped, decoded */
      sourceText: String,
      /** gold labels per delimiter token, BIO encoded */
      goldLabels: Vector[String],
      /** span-level expectation derived from char offsets (handles the four
        * annotator typos where a tag splits a token, e.g. `pièce</entry>s.`) */
      expectedSpans: Vector[ExpectedSpan],
      /** how many expectedSpans equal the fixture span xml verbatim */
      verbatimSpanMatches: Int,
      /** raw fixture rows (24 space-separated columns) */
      rawRows: Vector[Array[String]],
      /** bytes of the fixture file between <text...> and </text> */
      teiBodyBytes: String)

  private val spanRe =
    """(?s)<(entry|title|titledesc)>(.*?)</\1>""".r
  private val textRe = """(?s)<text[^>]*>\n?(.*?)\n*[\t ]*</text>""".r

  def bodyFixtureNames: Seq[String] =
    listDir(bodyRaw, ".text").map(_.getFileName.toString.stripSuffix(".training.bodySegmentation.datacat.text"))

  def encodeEntities(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;").replace("'", "&apos;")

  def loadBody(name: String): BodyFixture = {
    val tei = read(s"$bodyTei/$name.training.bodySegmentation.datacat.text.tei.xml")
    val body = textRe.findFirstMatchIn(tei).get.group(1)
    // ordered decoded pieces partitioning the source: gaps are labeled
    // <other> (SAX semantics, TEIDatacatBodySegmentationSaxParser.java:100-107)
    val pieces = Vector.newBuilder[(String, String, String)] // (label, decoded, xml)
    var pos = 0
    spanRe.findAllMatchIn(body).foreach { m =>
      if (m.start > pos) {
        val g = body.substring(pos, m.start)
        pieces += (("<other>", decodeEntities(g), g))
      }
      pieces += ((s"<${m.group(1)}>", decodeEntities(m.group(2)), m.group(2)))
      pos = m.end
    }
    if (pos < body.length) {
      val g = body.substring(pos)
      pieces += (("<other>", decodeEntities(g), g))
    }
    val segs = pieces.result()
    val source = segs.map(_._2).mkString
    // char-offset partition of the source by segment
    val segStarts = segs.scanLeft(0)(_ + _._2.length)
    // tokens with char offsets
    val toks = Tok.tokenize(source)
    val offsets = new Array[Int](toks.size)
    var off = 0
    toks.zipWithIndex.foreach { case (t, i) =>
      off += t.sepBefore.length; offsets(i) = off; off += t.text.length
    }
    def segOf(o: Int): Int = {
      var i = segs.size - 1
      while (i > 0 && segStarts(i) > o) i -= 1
      i
    }
    val tokSeg = offsets.map(segOf)
    val goldLabels = toks.indices.map { i =>
      val lab = segs(tokSeg(i))._1
      if (i == 0 || tokSeg(i - 1) != tokSeg(i)) s"I-$lab" else lab
    }.toVector
    // expected span texts: consecutive same-segment tokens; trailing sep of a
    // span is kept only up to the first newline
    val expected = Vector.newBuilder[ExpectedSpan]
    var i = 0
    while (i < toks.size) {
      var j = i
      while (j + 1 < toks.size && tokSeg(j + 1) == tokSeg(i)) j += 1
      val start = offsets(i)
      val end = offsets(j) + toks(j).text.length
      val sepAfter =
        if (j + 1 < toks.size) toks(j + 1).sepBefore else Tok.trailing(source)
      val trail = sepAfter.indexOf('\n') match {
        case -1 => sepAfter; case k => sepAfter.substring(0, k)
      }
      expected += ExpectedSpan(segs(tokSeg(i))._1,
        encodeEntities(source.substring(start, end) + trail))
      i = j + 1
    }
    val expectedSpans = expected.result()
    val taggedXml = segs.filter(_._1 != "<other>").map(_._3)
    val verbatim = expectedSpans.filter(_.label != "<other>").map(_.encoded)
      .zip(taggedXml).count { case (a, b) => a == b }
    val spans = segs.collect { case (l, d, x) if l != "<other>" => BodySpanFx(l, d, x) }
    val raw = read(s"$bodyRaw/$name.training.bodySegmentation.datacat.text")
      .split("\n").toVector.map(_.split(" ")).filter(_.length >= 24)
    BodyFixture(name, spans, source, goldLabels, expectedSpans, verbatim, raw, body)
  }

  final case class SegLine(text: String, label: String)
  final case class SegFixture(
      name: String,
      lines: Vector[SegLine],
      rawRows: Vector[Array[String]])

  private val zoneRe = """(?s)<(front|body|back|annex|other)>(.*?)</\1>""".r

  def segFixtureNames: Seq[String] =
    listDir(segRaw, ".datacat").map(_.getFileName.toString.stripSuffix(".training.datacat"))

  /** Segmenter gold: per (kept) line, its zone label, BIO on zone start —
   * SAX semantics of `TEIDatacatSegmenterSaxParser.java:123-189` over the
   * `<lb/>`-separated lines. Zone labels are assigned by char offset over
   * the tag-stripped body (content outside zone tags → `<other>`). */
  def loadSeg(name: String): SegFixture = {
    val tei = read(s"$segTei/$name.training.datacat.tei.xml")
    // leftover tags from an older label scheme appear in a handful of files;
    // the SAX parser ignores them (keeps the enclosing zone) — strip likewise
    val body = textRe.findFirstMatchIn(tei).get.group(1)
      .replaceAll("</?(unit|reference)>", "")
    // ordered (label, content) pieces partitioning the tag-stripped body
    val pieces = Vector.newBuilder[(String, String)]
    var pos = 0
    zoneRe.findAllMatchIn(body).foreach { m =>
      if (m.start > pos) pieces += (("<other>", body.substring(pos, m.start)))
      pieces += ((s"<${m.group(1)}>", m.group(2)))
      pos = m.end
    }
    if (pos < body.length) pieces += (("<other>", body.substring(pos)))
    val segs = pieces.result()
    val stripped = segs.map(_._2).mkString
    val segStarts = segs.scanLeft(0)(_ + _._2.length)
    def zoneAt(o: Int): (Int, String) = {
      var i = segs.size - 1
      while (i > 0 && segStarts(i) > o) i -= 1
      (i, segs(i)._1)
    }
    // split on <lb/>, tracking each line's char offset in `stripped`
    val lb = "<lb/>"
    val out = Vector.newBuilder[SegLine]
    var off = 0
    var prevSeg = -1
    stripped.split(java.util.regex.Pattern.quote(lb), -1).foreach { piece =>
      val norm = decodeEntities(piece).replace("\n", " ").replace("\r", " ").trim
      if (norm.nonEmpty && !norm.contains("@IMAGE") && !norm.contains("@PAGE")) {
        // zone of the first non-whitespace char of the line
        val lead = piece.indexWhere(!_.isWhitespace) match { case -1 => 0; case i => i }
        val (si, label) = zoneAt(off + lead)
        val bio = if (si != prevSeg && label != "<other>") s"I-$label" else label
        prevSeg = si
        out += SegLine(norm, bio)
      }
      off += piece.length + lb.length
    }
    val raw = read(s"$segRaw/$name.training.datacat")
      .split("\n").toVector.map(_.split(" ")).filter(_.length == 33)
    SegFixture(name, out.result(), raw)
  }
}
