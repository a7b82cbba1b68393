package graft

import graft.etl.{StarSchema, SurrogateKeys}
import graft.sources.Tables
import graft.util.Blocks
import org.apache.spark.sql.functions._

/** Job budgets of the star build: the Spark jobs an operator and its
  * consumer submit, counted with [[JobCount]]. Under AQE every shuffle
  * stage is a job of its own, so at small scale the count is the
  * scheduling cost. Each budget is the count measured when it was set.
  * Runs against the sf0.001 parquet testdata. */
class StarBuildJobsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def assertBudget(what: String, budget: Int)(body: => Any): Unit = {
    val jobs = JobCount.of(spark)(body)
    assert(jobs <= budget, s"$what ran $jobs jobs, budget $budget")
  }

  test("a lazy checkpoint runs its plan's shuffle stages at the call") {
    val df = spark.range(0, 1000, 1, 4).select(col("id"), (col("id") % 7).as("v"))
    assert(JobCount.of(spark)(Blocks.lazyCheckpoint(df.repartitionByRange(col("id")))) === 2)
    assert(JobCount.of(spark)(Blocks.lazyCheckpoint(df.groupBy(col("v")).count())) === 1)
  }

  test("SurrogateKeys.assign over a multi-partition input and its consumer: 4 jobs") {
    // range sampling + range exchange at the checkpoint, the per-partition
    // count job, the consumer's read
    assertBudget("assign + collect", 4)(SurrogateKeys.assign(
      spark.range(0, 1000, 1, 4).select(col("id"), (col("id") % 7).as("v")),
      "sk", Seq("id")).collect())
  }

  test("StarSchema.crossDim and its consumer: 2 jobs") {
    assertBudget("crossDim + collect", 2)(
      StarSchema.crossDim(Tables.part(spark, sfDir), "p_brand", "p_size").collect())
  }

  for ((q, budget) <- Seq("q77_surrogate_star" -> 16, "q56_compaction_plan" -> 10))
    test(s"$q runs within $budget jobs") {
      assertBudget(q, budget)(SparkEntry.queries(q)(spark, sfDir).collect())
    }
}
