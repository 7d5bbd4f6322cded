package graft.perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftSession, TempDirs}

/** The open-loop load is honest: its input is a pure function of the
  * seed, and a slow engine shows up as latency measured from due time and
  * as a growing backlog, not as a lower offered rate.
  */
class OpenLoopSpec extends AnyFunSuite {

  test("the same seed gives the same event sequence") {
    val slices = Seq(Events.Slice(0, 5000, 1000000L, 100L, lateOk = true),
      Events.Slice(5000, 5000, 1000100L, 100L, lateOk = true))
    def seq(seed: Long) = slices.flatMap(_.events(seed).toSeq)
    assert(seq(42) == seq(42))
    assert(seq(42) != seq(43))
    val kinds = seq(42).groupMapReduce(_.kind)(_ => 1)(_ + _)
    assert(kinds(Events.Late) > 20 && kinds(Events.Late) < 100)
    assert(kinds(Events.OutOfOrder) > 350 && kinds(Events.OutOfOrder) < 650)
    assert(Events.fold(42, slices).values.map(_._1).sum == 10000 - kinds(Events.Late))
  }

  test("a stalled sink shows in latency and as backlog growth that fails the rung") {
    val spark = GraftSession.local(2, "open-loop-spec")
    GraftSession.forStreaming(spark, Events.Keys)
    val dir = Files.createTempDirectory("open-loop-spec")
    def rung(name: String, stallMsPerRow: Double): Phase = {
      val loop = new OpenLoop(spark, 7L, dir.resolve(name), stallMsPerRow)
      try {
        loop.start(dir.resolve(s"$name-cp").toString)
        assert(loop.warmUp(Rate, 2, 120))
        loop.phase(name, Rate, 0.5, 4.0)
      } finally loop.stop()
    }
    try {
      val normal = rung("normal", 0.0)
      val stalled = rung("stalled", 2.0)
      assert(stalled.p(0.5) > normal.p(0.5) + 1000, s"stalled p50 ${stalled.p(0.5)} vs ${normal.p(0.5)}")
      assert(stalled.backlogGrowth > Rate * OpenLoop.GrowthTolS,
        s"stalled backlog grew by ${stalled.backlogGrowth} events")
      assert(!stalled.sustained)
      assert(normal.backlogGrowth < stalled.backlogGrowth)
      // the generator kept its schedule either way: the load stayed open
      assert(stalled.genLateMs <= OpenLoop.GenLateLimitMs)
    } finally {
      spark.stop()
      TempDirs.deleteRecursively(dir)
    }
  }

  private val Rate = 5000.0
}
