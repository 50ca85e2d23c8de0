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

  /** Runs `f` under generated code, then under interpreted `eval`. */
  def underEachCodegenMode(f: => Unit): Unit =
    Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").foreach { case (mode, ws) =>
      val (m0, ws0) = (spark.conf.get("spark.sql.codegen.factoryMode"),
        spark.conf.get("spark.sql.codegen.wholeStage"))
      try {
        spark.conf.set("spark.sql.codegen.factoryMode", mode)
        spark.conf.set("spark.sql.codegen.wholeStage", ws)
        withClue(s"codegen $mode: ")(f)
      } finally {
        spark.conf.set("spark.sql.codegen.factoryMode", m0)
        spark.conf.set("spark.sql.codegen.wholeStage", ws0)
      }
    }
}

/** Suites whose every test reads the reference gold corpus: without it
  * each test is canceled (naming the missing path) instead of the suite
  * aborting while it is built. */
trait FixtureSpec extends AnyFunSuite {
  override def withFixture(test: NoArgTest): Outcome =
    if (Fixtures.available) super.withFixture(test)
    else Canceled(s"reference fixtures not mounted at ${Fixtures.refRoot}")
}
