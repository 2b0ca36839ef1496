package graft.functions

import java.sql.{Date, Timestamp}
import java.time.{LocalDate, ZoneId}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._

import graft.SparkSpec

class RunConstantSpec extends SparkSpec {

  private def frame(c: Column): DataFrame =
    spark.range(3).select(col("id"), c.as("c"), date_sub(c, 1).as("before"))

  /** The Java source of each whole-stage subtree of `df`'s plan. */
  private def generated(df: DataFrame): Seq[String] =
    codegenStringSeq(df.queryExecution.executedPlan).map(_._2)

  test("a run constant reads its value in codegen and interpreted mode alike") {
    val d = Date.valueOf("2024-01-06")
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN"))
      withSQLConf("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString) {
        val rows = frame(RunConstants.of(lit(d))).collect()
        withClue(mode) {
          rows.map(_.getDate(1)).toSet shouldBe Set(d)
          rows.map(_.getDate(2)).toSet shouldBe Set(Date.valueOf("2024-01-05"))
        }
      }
    val ts = Timestamp.valueOf("2024-01-06 06:00:00")
    spark.range(2).select(RunConstants.of(lit(ts))).collect().map(_.getTimestamp(0)).toSet shouldBe
      Set(ts)
    spark.range(1).select(RunConstants.of(lit(null).cast("date"))).head().isNullAt(0) shouldBe true
  }

  test("two plans that differ only in a run constant generate the same code; literals do not") {
    val (d1, d2) = (lit(Date.valueOf("2024-01-06")), lit(Date.valueOf("2024-01-07")))
    generated(frame(RunConstants.of(d1))) shouldBe generated(frame(RunConstants.of(d2)))
    generated(frame(d1)) should not be generated(frame(d2))
  }

  test("fix folds a constant once on the driver and leaves anything else alone") {
    val zone = "Pacific/Kiritimati"
    withSQLConf("spark.sql.session.timeZone" -> zone) {
      val (today, jobs) = countJobs(RunConstants.fix(spark, current_date()))
      jobs shouldBe 0
      val plan = spark.range(1).select(today).queryExecution.optimizedPlan.toString
      plan should include("run_constant")
      spark.range(1).select(today).head().getDate(0).toLocalDate shouldBe
        LocalDate.now(ZoneId.of(zone))
    }
    val shifted = RunConstants.fix(spark, lit("2024-01-06").cast("date") + 1)
    spark.range(1).select(shifted).head().getDate(0) shouldBe Date.valueOf("2024-01-07")
    // a column reference does not fold: the column comes back as it is
    val byCol = RunConstants.fix(spark, col("id"))
    spark.range(2).select(byCol).collect().map(_.getLong(0)) shouldBe Array(0L, 1L)
  }
}
