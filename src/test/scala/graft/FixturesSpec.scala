package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import org.scalatest.funsuite.AnyFunSuite

/** [[Fixtures.once]]'s memo contract, without a SparkSession: one build
  * per key under concurrency, nested builds, no memo of a failed build,
  * one fixture per sf dir. Every test uses its own fixture names, since
  * the registry lives for the whole test JVM.
  */
class FixturesSpec extends AnyFunSuite {

  test("8 concurrent callers of one key run the build once") {
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val calls = (1 to 8).map { _ =>
        Future {
          start.await()
          Fixtures.once("spec_concurrent", "/sf") {
            builds.incrementAndGet()
            Thread.sleep(50)
            "/tmp/spec_concurrent"
          }
        }
      }
      start.countDown()
      val paths = Await.result(Future.sequence(calls), 10.seconds)
      assert(paths.toSet == Set("/tmp/spec_concurrent"))
      assert(builds.get == 1)
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("a build that calls once for another key works") {
    // the q168 shape: a catalog build stages its replay through the
    // same registry while it runs. Many key pairs, because a build run
    // inside the map's own computeIfAbsent fails only for the pairs
    // whose keys share a hash bin.
    (1 to 200).foreach { i =>
      val path = Fixtures.once("spec_outer", s"/sf$i") {
        val stage = Fixtures.once("spec_inner", s"/sf$i#q168")(s"/tmp/stage$i")
        s"$stage/catalog"
      }
      assert(path == s"/tmp/stage$i/catalog")
      assert(Fixtures.once("spec_inner", s"/sf$i#q168")(fail("rebuilt")) == s"/tmp/stage$i")
    }
  }

  test("a build that throws is not memoized and the next call builds") {
    val err = intercept[IllegalStateException] {
      Fixtures.once("spec_throws", "/sf")(throw new IllegalStateException("boom"))
    }
    assert(err.getMessage == "boom")
    assert(Fixtures.once("spec_throws", "/sf")("/tmp/second") == "/tmp/second")
    assert(Fixtures.once("spec_throws", "/sf")(fail("rebuilt")) == "/tmp/second")
  }

  test("two sf dirs get two fixtures") {
    val builds = new AtomicInteger()
    def idx(d: String) = Fixtures.once("spec_dirs", d) {
      builds.incrementAndGet(); s"$d/idx"
    }
    assert(idx("/sf0.01") == "/sf0.01/idx")
    assert(idx("/sf0.1") == "/sf0.1/idx")
    assert(idx("/sf0.01") == "/sf0.01/idx")
    assert(builds.get == 2)
  }
}
