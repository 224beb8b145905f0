package graft

import org.scalatest.funsuite.AnyFunSuite

/** Par overlaps independent epoch-surface writes (guide §2.6). The safety
  * claim the epoch commit protocol leans on: EVERY task settles before
  * run() returns, and the first failure is rethrown unwrapped with the
  * later ones suppressed on it — so a
  * manifest commit sequenced after run() can never publish a half-landed
  * epoch.
  */
class ParSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("all tasks run; results are visible after run() returns") {
    val hits = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    Par.run(spark, (1 to 4).map(i => () => { hits.add(i); () }))
    assert(hits.size === 4)
  }

  test("first failure is rethrown unwrapped AFTER all siblings settle") {
    val done = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val boom = new IllegalStateException("surface write failed")
    val got = intercept[IllegalStateException] {
      Par.run(spark, Seq(
        () => { Thread.sleep(50); done.add(1); () },
        () => throw boom,
        () => { Thread.sleep(50); done.add(3); () }))
    }
    assert(got eq boom, "original exception, not ExecutionException")
    assert(done.contains(1) && done.contains(3),
      "siblings must settle before the failure is rethrown")
  }

  test("later sibling failures ride on the first as suppressed exceptions") {
    val first = new IllegalStateException("first surface failed")
    val second = new IllegalArgumentException("second surface failed")
    val got = intercept[IllegalStateException] {
      Par.run(spark, Seq(
        () => { Thread.sleep(50); throw first },
        () => (),
        () => throw second))
    }
    assert(got eq first, "first failure in task order, not first to finish")
    assert(got.getSuppressed.toSeq == Seq(second))
  }

  test("spark actions work from pool threads (active session pinned)") {
    import spark.implicits._
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    Par.run(spark, Seq(
      () => { counts.add(Seq(1, 2, 3).toDF("x").count()); () },
      () => { counts.add(Seq(4, 5).toDF("x").count()); () }))
    assert(counts.toArray.toSet === Set(3L, 2L))
  }
}
