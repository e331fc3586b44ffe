package graft

import org.scalatest.funsuite.AnyFunSuite

class ProbeSpec extends AnyFunSuite with WithSpark {
  private val sf = "/root/testdata/sf0.001"

  test("time reports each rep's rows and jobs, the warm rep's jobs apart") {
    val got = Probe.time(spark, sf, Seq("q_join_dims"), 2)
    val t = got.head._2.toOption.get
    val rows = SparkEntry.queries("q_join_dims")(spark, sf).count()
    assert(t.reps.size == 2)
    t.reps.foreach { r =>
      assert(r.rows == rows)
      assert(r.jobs.nonEmpty)
      assert(r.tasks >= r.jobs.size)
    }
    val warm = t.warm.jobs.map(_.id)
    assert(warm.nonEmpty)
    assert(t.reps.head.jobs.forall(_.id > warm.max))
  }

  test("plan counts q_join_dims's two broadcast joins over three scans") {
    val p = Probe.plan(spark, sf, "q_join_dims").toOption.get
    assert(p.counts.bhj == 2)
    assert(p.counts.smj == 0)
    assert(p.counts.scans == 3)
    assert(p.text.contains("isFinalPlan=true"))
  }

  test("an unknown face is an error result and the faces after it run") {
    val got = Probe.time(spark, sf, Seq("q_no_such_face", "q_join_dims"), 1)
    assert(got.map(_._1) == Seq("q_no_such_face", "q_join_dims"))
    assert(got(0)._2.isLeft)
    assert(got(1)._2.isRight)
    assert(Probe.plan(spark, sf, "q_no_such_face").isLeft)
  }
}
