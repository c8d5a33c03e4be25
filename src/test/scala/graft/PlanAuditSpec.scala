package graft

import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}

/** PLAN_AUDIT.md's query table, asserted row by row from each query's
  * static physical plan at sf0.001 (shared tables primed, as ExplainProbe
  * shows it): the shuffle-exchange count, the broadcast and sort-merge joins,
  * and the TakeOrdered top-k operators. The table is read from the document,
  * so a row that no longer matches its plan fails here. A frame another
  * suite cached (the shared test corpus) is counted by the plan it caches,
  * so the counts do not depend on which suites ran first.
  */
class PlanAuditSpec extends SparkSpec {

  private case class Row(query: String, exchanges: Int, broadcastJoins: Int, smJoins: Int, takeOrdered: Int)

  private def rows: Seq[Row] = {
    val src = scala.io.Source.fromFile("PLAN_AUDIT.md", "UTF-8")
    try src.getLines().toList.collect {
      case line if line.matches("""\| [a-z_]+ \| \d+ \|.*""") =>
        val cells = line.split('|').map(_.trim).drop(1)
        def count(re: String, cell: String) =
          re.r.findFirstMatchIn(cell).map(_.group(1).toInt).getOrElse(0)
        val topK =
          if (!cells(3).contains("TakeOrdered")) 0 else math.max(1, count("""(\d+)×""", cells(3)))
        Row(cells(0), cells(1).toInt, count("""(\d+) broadcast""", cells(2)),
          count("""(\d+) SMJ""", cells(2)), topK)
    }
    finally src.close()
  }

  private def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.initialPlan)
    case m: InMemoryTableScanExec => operators(m.relation.cachedPlan)
    case other => other +: other.children.flatMap(operators)
  }

  test("PLAN_AUDIT.md's table has its 10 rows") {
    assert(rows.map(_.query).distinct.size == 10, rows.map(_.query).mkString(", "))
  }

  rows.foreach { r =>
    test(s"${r.query}'s plan matches its PLAN_AUDIT.md row") {
      SparkEntry.prime(spark, sf0001)
      val plan = SparkEntry.queries(r.query)(spark, sf0001).queryExecution.executedPlan
      val ops = operators(plan)
      val seen = Row(
        r.query,
        ops.count(_.isInstanceOf[ShuffleExchangeExec]),
        ops.count(o => o.isInstanceOf[BroadcastHashJoinExec] || o.isInstanceOf[BroadcastNestedLoopJoinExec]),
        ops.count(_.isInstanceOf[SortMergeJoinExec]),
        ops.count(_.isInstanceOf[TakeOrderedAndProjectExec]))
      assert(seen == r, s"\n$plan")
    }
  }
}
