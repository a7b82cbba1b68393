package graft.text

import java.nio.file.Files

import graft.{JobCount, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, RepartitionByExpression}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** [[GopherRules.annotate]] owns its spread: a one-partition corpus is
  * spread over every core and its verdict materialized, so a caller's
  * filter cannot pull the rules back into the scan task; an input that
  * is already wide gets the plain projection. */
class GopherRulesSpreadSpec extends SparkSpec {
  import spark.implicits._

  private val t = GopherRules.Thresholds(minWords = 5, minStopWords = 1)
  private def cores = spark.sparkContext.defaultParallelism

  /** 400 docs in one parquet file: a one-task scan. A third fail the
    * word-count rule; some carry an email for the scrub. */
  private lazy val narrowDocs: DataFrame = {
    val dir = Files.createTempDirectory("gopher-spread").resolve("docs").toString
    (0L until 400L).map { i =>
      (i, if (i % 3 == 0) s"too short $i"
        else s"the quick fox $i and that dog jumps with joy over user$i@example.com")
    }.toDF("doc_id", "text").coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** perfbench's curation `text.filter` shape. */
  private def filterAndScrub(docs: DataFrame): DataFrame =
    GopherRules.annotate(docs, "text", t).where(col("gopher_ok"))
      .select(col("doc_id"), Pii.scrub(col("text")).as("text"))

  test("reading the partition count of a source submits no job") {
    val docs = narrowDocs
    assert(JobCount.of(spark)(docs.rdd.getNumPartitions) === 0)
    val withLocal = docs.unionByName(Seq((-1L, "planted")).toDF("doc_id", "text"))
    assert(JobCount.of(spark)(withLocal.rdd.getNumPartitions) === 0)
  }

  test("over a one-partition corpus the rules run on every core") {
    assert(narrowDocs.rdd.getNumPartitions === 1)
    val out = Files.createTempDirectory("gopher-spread-out").resolve("f").toString
    val tasks = JobCount.stageTasks(spark)(filterAndScrub(narrowDocs).write.parquet(out))
    assert(tasks.max >= cores, s"stage task counts $tasks")
    // the spread path keeps the rows of the plain projection over a wide input
    val wide = filterAndScrub(narrowDocs.repartition(cores))
    val got = spark.read.parquet(out)
    assert(got.count() === 266L)
    assert(got.exceptAll(wide).isEmpty && wide.exceptAll(got).isEmpty)
  }

  test("a caller's verdict filter evaluates no regexp below the spread") {
    val plan = filterAndScrub(narrowDocs).queryExecution.optimizedPlan
    val regexpFilters = plan.collect {
      case f: Filter if f.condition.exists(_.getClass.getSimpleName.startsWith("RegExp")) => f
    }
    assert(regexpFilters.isEmpty, s"regexp filter pushed into the scan:\n$plan")
  }

  test("an input already at defaultParallelism partitions gets no exchange and no checkpoint") {
    val wide = spark.range(0, 64, 1, cores)
      .select(col("id").as("doc_id"), concat(lit("the doc "), col("id")).as("text"))
    val plan = GopherRules.annotate(wide, "text", t).queryExecution.analyzed
    assert(plan.collect { case r: RepartitionByExpression => r }.isEmpty, plan)
    assert(plan.collect { case r: LogicalRDD => r }.isEmpty, plan)
  }
}
