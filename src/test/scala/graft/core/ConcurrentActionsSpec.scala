package graft.core

import java.util.concurrent.atomic.AtomicInteger

import graft.WithSpark
import org.scalatest.funsuite.AnyFunSuite

/** The [[ConcurrentActions]] contract: pool threads carry the caller's
  * Spark local properties, results keep input order, and a failure is
  * thrown only after every other action has finished. */
class ConcurrentActionsSpec extends AnyFunSuite with WithSpark {

  test("each action sees the caller's job group on its pool thread") {
    val sc = spark.sparkContext
    sc.setJobGroup("concurrent-actions-spec", "spec")
    try {
      val caller = Thread.currentThread()
      val seen = ConcurrentActions.run(spark, (1 to 6).map(_ => () =>
        (Thread.currentThread() ne caller,
          sc.getLocalProperty("spark.jobGroup.id"))))
      assert(seen.forall(_._1), "an action ran on the calling thread")
      assert(seen.map(_._2).toSet == Set("concurrent-actions-spec"))
    } finally sc.clearJobGroup()
  }

  test("a failure is thrown after the other actions complete, later " +
    "failures suppressed") {
    val done = new AtomicInteger()
    def slow(): Unit = { Thread.sleep(300); done.incrementAndGet() }
    val e = intercept[IllegalStateException] {
      ConcurrentActions.run(spark, Seq[() => Unit](
        () => slow(),
        () => throw new IllegalStateException("first"),
        () => slow(),
        () => { Thread.sleep(100); throw new IllegalArgumentException("later") }))
    }
    assert(e.getMessage == "first")
    assert(done.get == 2, "the call returned before the slow actions ended")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("later"))
  }

  test("results come back in input order") {
    // the first action finishes last
    val out = ConcurrentActions.run(spark, (0 until 8).map(i => () => {
      Thread.sleep(20L * (8 - i)); i
    }))
    assert(out == (0 until 8))
    assert(ConcurrentActions.run(spark, Seq.empty[() => Int]).isEmpty)
  }
}
