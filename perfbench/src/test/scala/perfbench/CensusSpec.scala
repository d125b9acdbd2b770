package perfbench

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.Range
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

class CensusSpec extends AnyFunSuite {

  private val a = AttributeReference("a", LongType)()
  private def scan = LocalTableScanExec(Seq(a), Seq.empty, None)

  test("counts operator kinds and the operators outside whole-stage codegen") {
    val exchange = ShuffleExchangeExec(RoundRobinPartitioning(2), scan)
    // one codegen stage: Sort <- Project <- (stage input) Exchange <- scan
    val stage = WholeStageCodegenExec(
      SortExec(Seq(SortOrder(a, Ascending)), global = false,
        child = ProjectExec(Seq(a), InputAdapter(exchange))))(codegenStageId = 1)
    val join = BroadcastNestedLoopJoinExec(stage, RangeExec(Range(0, 10, 1, Some(2))),
      BuildRight, Inner, None)
    val plan = GenerateExec(Explode(CreateArray(Seq(a))), Nil, outer = false,
      Seq(AttributeReference("col", LongType)()), join)
    assert(Census.count(plan) == Map(
      "exchanges" -> 1, "sorts" -> 1, "generates" -> 1, "bnl_joins" -> 1,
      // the Generate and the join run interpreted; Sort and Project are fused
      "non_codegen_ops" -> 2,
      "scans" -> 2))
  }

  test("a reused exchange is neither a new exchange nor a scan") {
    val reused = ReusedExchangeExec(Seq(a), ShuffleExchangeExec(RoundRobinPartitioning(2), scan))
    val plan = UnionExec(Seq(ShuffleExchangeExec(RoundRobinPartitioning(2), scan), reused))
    assert(Census.count(plan) == Map(
      "exchanges" -> 1, "sorts" -> 0, "generates" -> 0, "bnl_joins" -> 0,
      "non_codegen_ops" -> 1, "scans" -> 1))
  }
}
