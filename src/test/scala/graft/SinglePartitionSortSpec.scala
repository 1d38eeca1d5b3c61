package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbench.PlanSurgeon
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

import SparkSuite.jobsDuring

/** [[graft.plans.SinglePartitionSort]]: a small global sort runs in one
  * partition with no range-sample job, and every shape the rule must leave
  * alone keeps its plan. */
class SinglePartitionSortSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session
  private val sf = SparkSuite.sf

  /** 2000 rows over 7 partitions, keys scattered across them. */
  private def scattered: DataFrame =
    spark.range(0, 2000, 1, 7)
      .select((col("id") * 7919 % 997).as("k"), col("id"))

  private def withTinyAdvisory[T](body: => T): T = {
    val key = SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The physical plan AQE settled on; `df` must have been executed. */
  private def finalPlan(df: DataFrame): String =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }

  test("a small sort over 7 partitions launches no sample job and keeps the range sort's rows") {
    val lowered = scattered.orderBy(col("k"), col("id"))
    val (rows, jobs) = jobsDuring(lowered.collect().toSeq)
    assert(jobs === 1, s"expected one result job:\n${finalPlan(lowered)}")
    assert(finalPlan(lowered).contains("Coalesce 1"), finalPlan(lowered))
    val (ranged, rangedJobs) = withTinyAdvisory {
      jobsDuring(scattered.orderBy(col("k"), col("id")).collect().toSeq)
    }
    assert(rangedJobs > jobs, "the range sort should sample its child")
    assert(rows === ranged)
    assert(rows.map(r => (r.getLong(0), r.getLong(1))) ===
      rows.map(r => (r.getLong(0), r.getLong(1))).sorted)
  }

  test("an advisory size below the input keeps the range exchange") {
    withTinyAdvisory {
      val df = scattered.orderBy(col("k"), col("id"))
      df.collect()
      val p = finalPlan(df)
      assert(p.contains("rangepartitioning"), p)
      assert(!p.contains("Coalesce"), p)
    }
  }

  test("orderBy(...).limit(k) still plans TakeOrderedAndProject") {
    val df = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(desc("o_totalprice"), col("o_orderkey")).limit(5)
    df.collect()
    val p = finalPlan(df)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Coalesce"), p)
  }

  test("an input that is already one partition gets no second coalesce") {
    val df = scattered.coalesce(1).orderBy(col("k"), col("id"))
    df.collect()
    assert("Coalesce 1".r.findAllIn(finalPlan(df)).length === 1,
      finalPlan(df))
  }

  test("a join-then-aggregate sort is lowered at run time, not at plan time") {
    val l = Tables.lineitem(spark, sf)
    val o = Tables.orders(spark, sf)
    val df = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
      .orderBy(col("o_orderpriority"))
    // without CBO the join estimate is the product of its inputs
    assert(df.queryExecution.optimizedPlan.collectFirst {
      case r: Repartition => r
    }.isEmpty, df.queryExecution.optimizedPlan.toString)
    val (_, jobs) = jobsDuring(df.collect())
    val p = finalPlan(df)
    assert(p.contains("Coalesce 1") && !p.contains("rangepartitioning"), p)
    val (_, nosortJobs) = jobsDuring(PlanSurgeon.withoutTopSort(df).get.collect())
    assert(jobs === nosortJobs, s"the sort added jobs:\n$p")
  }

  test("withoutTopSort of a lowered query leaves neither a Sort nor a Coalesce at the root") {
    val df = ops.Relational.q03Filter(spark, sf)
    assert(df.queryExecution.optimizedPlan match {
      case Sort(_, true, _: Repartition, _) => true
      case _ => false
    }, df.queryExecution.optimizedPlan.toString)
    val stripped = PlanSurgeon.withoutTopSort(df).get
    val root = stripped.queryExecution.optimizedPlan
    assert(!root.isInstanceOf[Sort] && !root.isInstanceOf[Repartition],
      root.toString)
  }

  test("a sort under a write command is lowered: the sorted write adds no job") {
    val df = ops.Relational.q03Filter(spark, sf)
    def write(d: DataFrame): Unit =
      d.write.format("noop").mode("overwrite").save()
    val (_, sorted) = jobsDuring(write(df))
    val (_, nosort) = jobsDuring(write(PlanSurgeon.withoutTopSort(df).get))
    assert(sorted === nosort)
  }
}
