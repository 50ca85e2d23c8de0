package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import graft.text.TextCols

/**
 * Differential pin for the [[graft.functions.TokCaps]] kernel: the
 * one-scan digit/capitalisation classes must equal the original
 * `digitClass` / `capitalisation` expression forms on a Unicode
 * category zoo (Nd vs No digits, Ll vs Other_Lowercase, Lu vs
 * titlecase Lt, astral Lu/Ll, fullwidth digits) and random fuzz.
 */
class TokCapsKernelSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  // one scratch directory per suite, removed when the suite ends
  private lazy val tmpRoot = java.nio.file.Files.createTempDirectory("tokcaps")

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(tmpRoot.toFile)
    finally super.afterAll()

  private def assertSame(toks: Seq[String]): Unit = {
    // route through a parquet round-trip so the comparison exercises the
    // codegen path (doGenCode + the generated null wiring) — a projection
    // straight over a local Seq is folded by ConvertToLocalRelation and
    // would only run the interpreted eval()
    val tmp = tmpRoot.resolve("toks").toString
    toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "tok").write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    val rows = df
      .withColumn("_tc", graft.functions.TokCaps.of(col("tok")))
      .withColumn("kd", col("_tc.digit_class"))
      .withColumn("kc", col("_tc.cap_class"))
      .withColumn("ed", TextCols.digitClass(col("tok")))
      .withColumn("ec", TextCols.capitalisation(col("tok"), col("ed")))
      .select("id", "tok", "kd", "kc", "ed", "ec").collect()
    rows.foreach { r =>
      assert(r.getString(2) === r.getString(4),
        s"digit mismatch for '${r.getString(1)}'")
      assert(r.getString(3) === r.getString(5),
        s"cap mismatch for '${r.getString(1)}'")
    }
  }

  test("kernel equals expression forms on the category zoo") {
    underEachCodegenMode {
      assertSame(Seq(
        "", "abc", "Abc", "ABC", "aBC", ",", ".", "(", "123", "12a", "a12",
        "１２３",          // fullwidth digits: Nd → ALLDIGIT
        "¹²³",             // superscripts: No, NOT Nd → NODIGIT + ALLCAP
        "ª",               // Other_Lowercase (Lo category) → no Ll → ALLCAP
        "ǅup",            // titlecase first char (Lt): not Lu → NOCAPS
        "Σωκράτης", "ΣΩΚΡΑΤΗΣ", "σς",
        "𝔘nicode",        // astral first char (Lu, math bold) → INITCAP
        "𐐨lower",         // astral Ll (Deseret small) → not ALLCAP
        "中文", "Éclair", "éclair", "Ñ", "ñ",
        "A1", "1A", "٣٤٥",  // Arabic-Indic digits: Nd
        "half½",           // ½ is No → NODIGIT leg
        null,              // null token → when-chain fall-through
        // embedded line terminators take the String fallback so the `$`
        // before-final-terminator regex semantics survive exactly
        "12\n", "12\r", "12\u0085", "12\u2028", "12\u2029", "a\nB", "\n"
      ))
    }
  }

  test("kernel equals expression forms on random fuzz") {
    underEachCodegenMode {
      val pool: Array[String] = Array("a", "B", "ç", "Ω", "1", "９", "٣", "¹",
        ".", ",", "(", "ª", "ǅ", "中", "𝔘", "𐐨", "½", "ß", "İ")
      val rnd = new scala.util.Random(9120626L)
      val toks = (0 until 1500).map { _ =>
        (0 until rnd.nextInt(8)).map(_ => pool(rnd.nextInt(pool.length))).mkString
      }
      assertSame(toks)
    }
  }

  test("kernel matches on the sf0.001 tokenized corpus") {
    val toks = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(split(coalesce(col("text"), lit("")), "\\s+")).as("tok"))
      .limit(20000)
    underEachCodegenMode {
      val bad = toks
        .withColumn("_tc", graft.functions.TokCaps.of(col("tok")))
        .withColumn("ed", TextCols.digitClass(col("tok")))
        .withColumn("ec", TextCols.capitalisation(col("tok"), col("ed")))
        .where(col("_tc.digit_class") =!= col("ed") ||
          col("_tc.cap_class") =!= col("ec"))
      assert(bad.isEmpty, bad.limit(5).collect().mkString("\n"))
    }
  }
}
