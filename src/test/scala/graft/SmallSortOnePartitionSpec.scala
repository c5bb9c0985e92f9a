package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Limit, Repartition, Sort}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper,
  LogicalQueryStage, ShuffleQueryStageExec}
import org.apache.spark.sql.functions.{col, explode, lit, sequence}
import graft.plans.SmallSortOnePartition

/** [[graft.plans.SmallSortOnePartition]]: a global sort over a measured
  * input that AQE's coalescer would pack into one partition sorts in a
  * single partition, with no range-sampling job. Every other sort keeps
  * its plan: an input the coalescer would spread (above minPartitionSize
  * under parallelismFirst, above the advisory size without it), coalescing
  * off, a row-multiplying Generate above the stages, an unmeasured scan, a
  * sort under a limit. */
class SmallSortOnePartitionSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Spark's own switch for AQE optimizer rules turns the rule off. */
  private def ruleOff[T](body: => T): T =
    withConf("spark.sql.adaptive.optimizer.excludedRules", "graft.plans.SmallSortOnePartition")(body)

  /** Rows, Spark jobs and final physical plan of one fresh execution. */
  private def run(df: DataFrame): (Seq[Row], Int, String) = {
    var rows: Seq[Row] = Nil
    val jobs = jobsDuring { rows = df.collect().toSeq }
    (rows, jobs, stripAQEPlan(df.queryExecution.executedPlan).toString)
  }

  private def counts: DataFrame = spark.range(0, 5000)
    .select((col("id") * 7919 % 613).as("k"))
    .groupBy("k").count()
    .orderBy("k")

  private val model: Seq[(Long, Long)] = (0L until 5000L)
    .groupBy(_ * 7919 % 613).map { case (k, vs) => (k, vs.size.toLong) }
    .toSeq.sorted

  private def pairs(rows: Seq[Row]) = rows.map(r => (r.getLong(0), r.getLong(1)))

  test("fires: a small groupBy-count-orderBy sorts in one partition with one job fewer") {
    val (rows, jobs, plan) = run(counts)
    val (offRows, offJobs, offPlan) = ruleOff(run(counts))
    assert(pairs(rows) == model)
    assert(offRows == rows)
    assert(offPlan.contains("rangepartitioning"), s"rule off:\n$offPlan")
    assert(!plan.contains("rangepartitioning"), s"range exchange kept:\n$plan")
    // exactly one single-partition shuffle: the rewrite is not re-applied
    // to the stage it produced
    assert(plan.linesIterator.count(_.contains("Exchange SinglePartition")) == 1, plan)
    assert(jobs == offJobs - 1, s"jobs $jobs with the rule, $offJobs without")
  }

  private val MinSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
  private val Advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
  private val ParallelismFirst = "spark.sql.adaptive.coalescePartitions.parallelismFirst"

  test("does not fire: under parallelismFirst, an input above minPartitionSize and below the advisory size keeps its range exchange") {
    // AQE spreads this input over the default parallelism, so the sort
    // and what follows it keep their parallel tasks
    assert(spark.conf.get(ParallelismFirst) == "true")
    val (rows, _, plan) = withConf(MinSize, "64")(run(counts))
    assert(plan.contains("rangepartitioning"), plan)
    assert(pairs(rows) == model)
  }

  test("without parallelismFirst the bound is the advisory size") {
    withConf(ParallelismFirst, "false") {
      withConf(MinSize, "64") {
        val (rows, _, plan) = run(counts)
        assert(!plan.contains("rangepartitioning"), plan)
        assert(pairs(rows) == model)
        val (aboveRows, _, abovePlan) = withConf(Advisory, "64")(run(counts))
        assert(abovePlan.contains("rangepartitioning"), abovePlan)
        assert(pairs(aboveRows) == model)
      }
    }
  }

  test("does not fire: with partition coalescing off the sort keeps its range exchange") {
    val (rows, _, plan) = withConf("spark.sql.adaptive.coalescePartitions.enabled", "false")(run(counts))
    assert(plan.contains("rangepartitioning"), plan)
    assert(pairs(rows) == model)
  }

  test("does not fire: a sort over explode of a small measured stage keeps its range exchange") {
    // Spark sizes a Generate at its input, whatever rows it emits
    val exploded = spark.range(0, 50)
      .select((col("id") % 7).as("k")).groupBy("k").count()
      .select(col("k"), explode(sequence(lit(1), lit(200))).as("i"))
      .orderBy("k", "i")
    val (rows, _, plan) = run(exploded)
    assert(plan.contains("rangepartitioning"), plan)
    assert(rows.map(r => (r.getLong(0), r.getInt(1))) ==
      (for (k <- 0L until 7L; i <- 1 to 200) yield (k, i)))
  }

  test("does not fire: a sort over an unmeasured scan (q40_scalar_subquery) keeps its plan") {
    val q40 = SparkEntry.queries("q40_scalar_subquery")
    val (rows, jobs, plan) = run(q40(spark, sfTiny))
    val (offRows, offJobs, offPlan) = ruleOff(run(q40(spark, sfTiny)))
    def ids(p: String) = p.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
    assert(plan.contains("rangepartitioning"), plan)
    assert(ids(plan) == ids(offPlan), s"with the rule:\n$plan\nwithout:\n$offPlan")
    assert(rows == offRows && jobs == offJobs)
  }

  test("does not fire: orderBy(...).limit(k) over a measured input stays TakeOrderedAndProject") {
    val (rows, _, plan) = run(counts.limit(5))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
    assert(pairs(rows) == model.take(5))
  }

  test("the rewrite: a measured sort gains one repartition, once; a sort under a limit none") {
    val agg = spark.range(0, 5000).select((col("id") % 613).as("k")).groupBy("k").count()
    agg.collect()
    val stage = collectFirst(agg.queryExecution.executedPlan) {
      case s: ShuffleQueryStageExec => s }.get
    val measured = LogicalQueryStage(agg.queryExecution.optimizedPlan, stage)
    assert(measured.isMaterialized)
    val sort = Sort(Seq(SortOrder(measured.output.head, Ascending)), global = true, measured)
    val once = SmallSortOnePartition(sort)
    assert(once == sort.copy(child = Repartition(1, shuffle = true, measured)))
    // AQE runs the rule to a fixed point and re-runs it once the new
    // shuffle is itself a stage: neither adds a second repartition
    assert(SmallSortOnePartition(once) == once)
    val staged = sort.copy(child = LogicalQueryStage(once.children.head, stage))
    assert(SmallSortOnePartition(staged) == staged)
    val limited = Limit(Literal(5), sort)
    assert(SmallSortOnePartition(limited) == limited)
  }
}
