package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The iteration helper's own contract on toy frames (no staged data):
  * exit rules, what stays persisted, and the plan each loop returns. */
class IterateSpec extends AnyFunSuite {
  import TestSession._

  private def toy: DataFrame = spark.range(0, 64).select(col("id"), lit(0L).as("v"))

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The RDD behind a checkpointed state; fails unless the state's plan
    * is a single checkpoint leaf. */
  private def leafRdd(state: DataFrame): Int = state.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.id
    case other => fail(s"expected a single LogicalRDD leaf, got:\n$other")
  }

  test("a step that never converges stops at maxRounds and reports it") {
    var rounds = 0
    val (state, converged) = Iterate.untilStable(toy.localCheckpoint(), maxRounds = 4) { st =>
      rounds += 1
      st.select(col("id"), (col("v") + 1).as("v"))
    }(identity)
    assert(!converged && rounds == 4)
    assert(state.agg(min("v"), max("v")).head().toSeq == Seq(4L, 4L))
  }

  test("a counted loop stops at the first round that changes nothing") {
    var rounds = 0
    val (state, converged) = Iterate.untilStable(toy.localCheckpoint(), maxRounds = 10) { st =>
      rounds += 1
      st.select(col("id"), least(col("v") + 1, lit(3L)).as("v"), col("v").as("prev"))
    }(_.filter(col("v") =!= col("prev")))
    assert(converged && rounds == 4)
    assert(state.filter(col("v") =!= 3L).count() == 0)
  }

  test("fixed, counted and eager loops leave only the final state persisted") {
    val loops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "fixed" -> (init => Iterate.fixed(init, 5)(st => st.select(col("id"), (col("v") + 1).as("v")))),
      "untilStable" -> (init => Iterate.untilStable(init, 5) { st =>
        st.select(col("id"), (col("v") + 1).as("v"))
      }(identity)._1),
      "eager" -> (init => Iterate.eager(init, 5) { (st, r) =>
        if (r > 3) None else Some(st.select(col("id"), (col("v") + 1).as("v")))
      }))
    for ((name, run) <- loops) {
      val before = persisted
      val state = run(toy.localCheckpoint())
      assert(persisted -- before == Set(leafRdd(state)),
        s"$name: superseded rounds (or the checkpointed init) are still persisted")
    }
  }

  test("the returned state is one checkpoint leaf, already materialized") {
    val evals = spark.sparkContext.longAccumulator("iterate_spec_evals")
    val bump = udf { (v: Long) => evals.add(1); v + 1 }
    val state = Iterate.fixed(toy, 6)(st => st.select(col("id"), bump(col("v")).as("v")))
    leafRdd(state)
    assert(state.queryExecution.logical.collectLeaves().size == 1)
    val afterLoop = evals.sum
    assert(state.agg(min("v"), max("v")).head().toSeq == Seq(6L, 6L))
    assert(evals.sum == afterLoop, "reading the final state recomputed its rounds")
  }
}
