package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.extract.LocalSnapshotIO

/**
 * Iceberg-shaped snapshot-log semantics of [[graft.extract.LocalSnapshotIO]]:
 * append commits reuse parent data, time travel, O(1) rollback,
 * incremental (offset-style) consumption, and crash atomicity of the
 * manifest swap.
 */
class SnapshotIOSpec extends SparkSpec {

  private def freshIo() = {
    val dir = Files.createTempDirectory("snapio").toString
    (new LocalSnapshotIO(dir), dir)
  }

  private def df(ids: Long*) = {
    val sparkS = spark
    import sparkS.implicits._
    ids.map(i => (i, s"row$i")).toDF("id", "v")
  }

  private def idsOf(d: org.apache.spark.sql.DataFrame): Set[Long] =
    d.select("id").collect().map(_.getLong(0)).toSet

  test("append snapshots inherit the parent chain; overwrite restarts it") {
    val (io, _) = freshIo()
    io.commit(df(1, 2), "t", "s1")
    io.commitAppend(df(3), "t", "s2")
    io.commitAppend(df(4, 5), "t", "s3")
    assert(idsOf(io.read(spark, "t")) == Set(1L, 2L, 3L, 4L, 5L))
    // an append moved only its own rows: parent dirs are untouched files
    io.commit(df(9), "t", "s4") // overwrite: chain restarts
    assert(idsOf(io.read(spark, "t")) == Set(9L))
    assert(io.history("t").map(m => (m.id, m.op)) ==
      Seq(("s4", "overwrite"), ("s3", "append"), ("s2", "append"), ("s1", "overwrite")))
  }

  test("time travel reads any snapshot; rollback re-points without deleting") {
    val (io, _) = freshIo()
    io.commit(df(1), "t", "s1")
    io.commitAppend(df(2), "t", "s2")
    io.commitAppend(df(3), "t", "s3")
    assert(idsOf(io.readAt(spark, "t", "s1")) == Set(1L))
    assert(idsOf(io.readAt(spark, "t", "s2")) == Set(1L, 2L))
    io.rollback("t", "s2")
    assert(io.committedSnapshot("t").contains("s2"))
    assert(idsOf(io.read(spark, "t")) == Set(1L, 2L))
    // rolled-past snapshot still time-travel-readable
    assert(idsOf(io.readAt(spark, "t", "s3")) == Set(1L, 2L, 3L))
    intercept[IllegalArgumentException](io.rollback("t", "nope"))
  }

  test("incremental read returns only rows added after the given snapshot") {
    val (io, _) = freshIo()
    io.commit(df(1, 2), "t", "s1")
    io.commitAppend(df(3), "t", "s2")
    io.commitAppend(df(4), "t", "s3")
    assert(idsOf(io.readIncremental(spark, "t", Some("s1"))) == Set(3L, 4L))
    assert(idsOf(io.readIncremental(spark, "t", Some("s2"))) == Set(4L))
    assert(idsOf(io.readIncremental(spark, "t", None)) == Set(1L, 2L, 3L, 4L))
    // caught up: empty frame, schema preserved
    val caught = io.readIncremental(spark, "t", Some("s3"))
    assert(caught.count() == 0 && caught.columns.toSeq == Seq("id", "v"))
  }

  test("compaction rewrites files without changing rows, history or travel") {
    val (io, dir) = freshIo()
    io.commit(df(1, 2), "t", "s1")
    io.commitAppend(df(3), "t", "s2")
    io.commitAppend(df(4, 5), "t", "s3")
    def parquetFiles(snap: String) =
      Files.list(Paths.get(dir, "t", s"snapshot=$snap")).toArray
        .map(_.toString).count(_.endsWith(".parquet"))
    io.compact(spark, "t", "c1", targetPartitions = 1)
    assert(idsOf(io.read(spark, "t")) == Set(1L, 2L, 3L, 4L, 5L))
    assert(parquetFiles("c1") == 1) // 3 directories' files became one
    assert(io.history("t").map(m => (m.id, m.op)).head == ("c1", "compact"))
    // pre-compaction snapshots stay time-travel-readable
    assert(idsOf(io.readAt(spark, "t", "s2")) == Set(1L, 2L, 3L))
    // appends resume on top of the rewrite
    io.commitAppend(df(6), "t", "s4")
    assert(idsOf(io.read(spark, "t")) == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  /** The codecs of the column chunks of every parquet file of `snap`, read
   * from the files' footers. */
  private def codecs(dir: String, snap: String): Set[String] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val files = Files.list(Paths.get(dir, "t", s"snapshot=$snap")).toArray
      .map(_.toString).filter(_.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f), new org.apache.hadoop.conf.Configuration()))
      try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name))
      finally r.close()
    }.toSet
  }

  private def rowsOf(d: org.apache.spark.sql.DataFrame) = d.orderBy("id").collect().toSeq

  test("commits write zstd; a Snappy chain reads row-identical and compacts to zstd") {
    val (io, dir) = freshIo()
    io.commit(df(1, 2), "t", "s1")
    assert(codecs(dir, "s1") == Set("ZSTD"))
    // a chain root written as Snappy parquet, as commits were before zstd
    df(1, 2).write.mode("overwrite").option("compression", "snappy")
      .parquet(Paths.get(dir, "t", "snapshot=s1").toString)
    assert(codecs(dir, "s1") == Set("SNAPPY"))
    io.commitAppend(df(3), "t", "s2")
    assert(codecs(dir, "s2") == Set("ZSTD"))
    assert(rowsOf(io.read(spark, "t")) == rowsOf(df(1, 2, 3)))
    io.compact(spark, "t", "c1", targetPartitions = 1)
    assert(codecs(dir, "c1") == Set("ZSTD"))
    assert(rowsOf(io.read(spark, "t")) == rowsOf(df(1, 2, 3)))
  }

  test("incremental consumers never re-receive compacted rewrites") {
    val (io, _) = freshIo()
    io.commit(df(1, 2), "t", "s1")
    io.commitAppend(df(3), "t", "s2")
    io.compact(spark, "t", "c1", targetPartitions = 1)
    io.commitAppend(df(4), "t", "s3")
    // consumer positioned BEFORE the compaction sees only true appends
    assert(idsOf(io.readIncremental(spark, "t", Some("s1"))) == Set(3L, 4L))
    assert(idsOf(io.readIncremental(spark, "t", Some("s2"))) == Set(4L))
    // positioned AT the compaction: only what came after
    assert(idsOf(io.readIncremental(spark, "t", Some("c1"))) == Set(4L))
    // fresh consumer reads the current table once (via the rewrite)
    assert(idsOf(io.readIncremental(spark, "t", None)) == Set(1L, 2L, 3L, 4L))
    // an overwrite still invalidates any earlier baseline
    io.commit(df(9), "t", "s5")
    assert(idsOf(io.readIncremental(spark, "t", Some("s2"))) == Set(9L))
  }

  test("duplicate snapshot id on the same stage is rejected") {
    val (io, _) = freshIo()
    io.commit(df(1), "t", "s1")
    intercept[IllegalArgumentException](io.commitAppend(df(2), "t", "s1"))
  }

  test("reusing an OLDER chain id (not just the parent) is rejected") {
    // s1 <- s2 <- s3; compact(..., "s1") would pass a parent-only guard and
    // then Overwrite snapshot=s1 — a directory still part of the live chain
    // AND of compact's own input. The guard must reject any used id.
    val (io, _) = freshIo()
    io.commit(df(1), "t", "s1")
    io.commitAppend(df(2), "t", "s2")
    io.commitAppend(df(3), "t", "s3")
    intercept[IllegalArgumentException](io.compact(spark, "t", "s1", 1))
    intercept[IllegalArgumentException](io.commit(df(9), "t", "s2"))
    // chain is intact after the rejected attempts
    assert(idsOf(io.read(spark, "t")) == Set(1L, 2L, 3L))
  }

  test("extractIncremental consumes appends exactly once; result equals batch") {
    val sparkS = spark
    import sparkS.implicits._
    val (inIo, _) = freshIo()
    val (outIo, _) = freshIo()
    def turns(convs: Range) = convs.flatMap { c =>
      Seq((s"conv$c", 0, "system", "be helpful", null: String),
        (s"conv$c", 1, "user", s"please explain shuffle number $c in spark detail", null: String),
        (s"conv$c", 2, "assistant", s"a shuffle moves rows between executors case $c", null: String))
    }.toDF("conv_id", "turn_idx", "role", "text", "tool")
      .withColumn("ts", to_timestamp(lit("2026-01-01 00:00:00")))

    inIo.commit(turns(0 until 4), "transcripts", "day1")
    assert(graft.extract.Pipeline.extractIncremental(spark, inIo, outIo) == 1)
    inIo.commitAppend(turns(4 until 6), "transcripts", "day2")
    assert(graft.extract.Pipeline.extractIncremental(spark, inIo, outIo) == 1)
    // caught up: no-op, no duplicate commit
    assert(graft.extract.Pipeline.extractIncremental(spark, inIo, outIo) == 0)

    val incremental = outIo.read(spark, "spans")
    val batch = graft.extract.Pipeline.extract(inIo.read(spark, "transcripts"))
    assert(incremental.count() == 6)
    assert(incremental.exceptAll(batch).isEmpty && batch.exceptAll(incremental).isEmpty,
      "two incremental batches must equal one batch run")
  }

  test("a half-written manifest swap leaves the previous commit readable") {
    val (io, dir) = freshIo()
    io.commit(df(1), "t", "s1")
    // simulate a crash between data write and manifest move: data + meta
    // exist, manifest still points at s1
    Files.write(Paths.get(dir, "t", "_manifest.json.tmp"),
      """{"latest": "s9", "stage": "t"}""".getBytes("UTF-8"))
    assert(io.committedSnapshot("t").contains("s1"))
    assert(idsOf(io.read(spark, "t")) == Set(1L))
  }
}
