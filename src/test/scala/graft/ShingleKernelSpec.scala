package graft

import org.apache.spark.sql.functions._
import graft.ops.{C4, Dedup, Dsir}

/**
 * Differential pins for the [[graft.functions.Shingles]],
 * [[graft.functions.GramMd5]] and [[graft.functions.DsirBuckets]] kernels
 * against the original Catalyst higher-order-function forms — fuzz battery
 * plus the sf0.001 corpus (null text included). The kernels must be
 * BIT-identical: same strings, same hashes, same order, same nulls.
 */
class ShingleKernelSpec extends SparkSpec {
  import spark.implicits._

  private def fuzzDocs = {
    val pieces = Array("the", "cat", "...", "…", "#", "a", "b", "ab",
      "été", "中", "😀", "x9", "$$$", "W", "ΣΣ", "σς", "İ", "", " ", "\r")
    val seps = Array(" ", "  ", "\t", "\n", "\n\n", " \n ", "", "\r\n")
    val rnd = new scala.util.Random(62280221L)
    (0 until 300).map { i =>
      val sb = new StringBuilder
      (0 until rnd.nextInt(60)).foreach { _ =>
        sb.append(pieces(rnd.nextInt(pieces.length)))
        sb.append(seps(rnd.nextInt(seps.length)))
      }
      (i.toLong, if (i == 7) null else sb.toString)
    }.toDF("doc_id", "text")
  }

  private def corpusDocs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def assertColsEqual(df: org.apache.spark.sql.DataFrame): Unit = {
    val bad = df.where(!(col("a") <=> col("b")))
    assert(bad.isEmpty, bad.limit(5).collect().mkString("\n"))
  }

  test("Shingles kernel equals the HOF form on fuzz and corpus") {
    underEachCodegenMode {
      for (docs <- Seq(fuzzDocs, corpusDocs); n <- Seq(1, 2, 5, 10)) {
        assertColsEqual(docs.select(
          Dedup.shingles(col("text"), n).as("a"),
          Dedup.shinglesHof(col("text"), n).as("b")))
      }
    }
  }

  test("GramMd5 kernel equals the HOF form on words and sentences") {
    underEachCodegenMode {
      for (docs <- Seq(fuzzDocs, corpusDocs); n <- Seq(1, 3, 8)) {
        val words = filter(split(coalesce(col("text"), lit("")), "\\s+"),
          w => w =!= "")
        for (units <- Seq(words, C4.sentences(col("text")))) {
          val ws = col("ws")
          assertColsEqual(docs
            .select(units.as("ws"))
            .where(size(ws) >= n)
            .select(
              graft.functions.GramMd5.of(ws, n).as("a"),
              transform(sequence(lit(0), size(ws) - n),
                i => md5(lower(concat_ws(" ", slice(ws, i + 1, lit(n)))))).as("b")))
        }
      }
    }
  }

  test("WordBigrams kernel equals the HOF form") {
    underEachCodegenMode {
      for (docs <- Seq(fuzzDocs, corpusDocs)) {
        assertColsEqual(docs.select(
          graft.functions.WordBigrams.of(col("text")).as("a"),
          graft.ops.LangModel.bigramsOf(
            graft.ops.TextStats.words(col("text"))).as("b")))
      }
    }
  }

  test("DsirBuckets kernel equals the HOF form") {
    underEachCodegenMode {
      for (docs <- Seq(fuzzDocs, corpusDocs); b <- Seq(7, 256)) {
        assertColsEqual(docs.select(
          Dsir.buckets(col("text"), b).as("a"),
          Dsir.bucketsHof(col("text"), b).as("b")))
      }
    }
  }
}
