package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.extract.Lineage

/**
 * [[graft.extract.Lineage.PartitionStats]] counts each partition once: a
 * re-run of the label walk (the range sample of an `orderBy`, a second
 * action on the same frame) re-reports the task's totals instead of adding
 * to them, and one lineage row per partition carries the rows, characters
 * and parse failures of that partition together.
 */
class LineageExactlyOnceSpec extends SparkSpec {

  /** A token frame whose middle line has a null `tok`: classifying it
   * throws, so the walk drops and counts it. */
  private def oneFailingLine(): DataFrame = {
    val sparkS = spark
    import sparkS.implicits._
    Seq(
      ("c8", 0, 0, 0, "good", "", "", "NOCAPS"),
      ("c8", 0, 1, 0, null, "", "", "NOCAPS"),
      ("c8", 0, 2, 0, "fine", "", "", "NOCAPS"))
      .toDF("conv_id", "turn_idx", "line_in_turn", "tok_idx",
        "tok", "sep_before", "line_trailing", "f_capitalisation")
  }

  test("a re-run walk counts its parse failure once") {
    val acc = Lineage.newStats(spark, "exactly_once")
    val labeled = graft.plans.BodySpans.labels(oneFailingLine(), chunked = false, Some(acc))
    assert(labeled.collect().length == 2)
    // the range sample of the orderBy runs the walk again, then its
    // shuffle map stage a third time
    assert(labeled.orderBy("line_in_turn").collect().map(_.getAs[String]("tok")).toSeq ==
      Seq("good", "fine"))
    assert(acc.value.values.map(_._3).sum == 1L)
  }

  test("one lineage row per partition carries rows, characters and failures together") {
    val acc = Lineage.newStats(spark, "labeled")
    val counted = Lineage.withPartitionLineage(
      graft.plans.BodySpans.labels(oneFailingLine(), chunked = false, Some(acc)),
      acc, Seq("tok", "sep_before"))
    counted.collect()
    counted.orderBy("line_in_turn").collect()
    val lin = Lineage.lineageRows(spark, "labeled", acc)
    assert(lin.columns.toSeq == Seq("stage", "partition_id", "rows", "bytes", "parse_failures"))
    val rows = lin.collect()
    assert(rows.map(_.getAs[Int]("partition_id")).distinct.length == rows.length)
    // the one conversation sits in one partition: its two surviving rows,
    // their 8 characters and the dropped line are on the same lineage row
    assert(rows.filter(_.getAs[Long]("rows") > 0).map(r =>
      (r.getAs[Long]("rows"), r.getAs[Long]("bytes"), r.getAs[Long]("parse_failures"))).toSeq ==
      Seq((2L, 8L, 1L)))
    assert(lin.agg(sum("parse_failures")).head().getLong(0) == 1L)
  }
}
