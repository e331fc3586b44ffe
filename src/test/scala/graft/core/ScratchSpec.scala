package graft.core

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The [[Scratch.once]] contract: one build per key under concurrent
  * callers, nested builds of other keys, no caching of a failed build,
  * and one directory per sf dir in the directory form. */
class ScratchSpec extends AnyFunSuite {

  private def key(name: String) = s"scratch-spec:$name:${System.nanoTime()}"

  test("concurrent callers of one key run the build once") {
    val k = key("concurrent")
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 8).map(i => pool.submit(new Callable[Int] {
        def call(): Int = {
          start.await()
          Scratch.once(k) { builds.incrementAndGet(); Thread.sleep(200); i }
        }
      }))
      start.countDown()
      val got = futures.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(got.toSet.size == 1, got)
    } finally pool.shutdownNow(): Unit
  }

  test("a build may call once for another key") {
    val (outer, inner) = (key("outer"), key("inner"))
    val got = Scratch.once(outer)(Scratch.once(inner)("in") + "+out")
    assert(got == "in+out")
    assert(Scratch.once(inner)("rebuilt") == "in")
    assert(Scratch.once(outer)("rebuilt") == "in+out")
  }

  test("a build that throws is retried on the next call") {
    val k = key("retry")
    val builds = new AtomicInteger()
    intercept[IllegalStateException] {
      Scratch.once[Int](k) {
        builds.incrementAndGet(); throw new IllegalStateException("boom")
      }
    }
    assert(Scratch.once(k) { builds.incrementAndGet(); 7 } == 7)
    assert(Scratch.once(k) { builds.incrementAndGet(); 8 } == 7)
    assert(builds.get == 2)
  }

  test("two sf dirs get two directories, each built once") {
    val name = s"scratch_spec_${System.nanoTime()}"
    val builds = new AtomicInteger()
    def build(sf: String) = Scratch.onceDir(name, sf) { dir =>
      builds.incrementAndGet()
      new java.io.File(dir).mkdirs(): Unit
    }
    val (a, b) = (build("/data/sf0.01"), build("/data/sf0.1"))
    assert(a != b)
    assert(new java.io.File(a).getParent == Scratch.dir(name))
    assert(new java.io.File(a).isDirectory && new java.io.File(b).isDirectory)
    assert(build("/data/sf0.01") == a)
    assert(builds.get == 2)
  }
}
