package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Canceled, Outcome}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (single JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}

/** Suites whose every test reads the reference gold corpus: without it
  * each test is canceled (naming the missing path) instead of the suite
  * aborting while it is built. */
trait FixtureSpec extends AnyFunSuite {
  override def withFixture(test: NoArgTest): Outcome =
    if (Fixtures.available) super.withFixture(test)
    else Canceled(s"reference fixtures not mounted at ${Fixtures.refRoot}")
}
