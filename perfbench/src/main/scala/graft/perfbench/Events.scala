package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

/** One generated event. `created` is its due time in epoch ms, except for
  * the out-of-order events (20-250 ms earlier than their neighbours, well
  * inside the 5 s watermark, so they only skew latency by that much) and
  * the late ones (hours earlier, each in a window of its own, so Spark
  * drops exactly one state row per late event).
  */
final case class Event(seq: Long, key: Long, value: Long, created: Long, kind: Int)

object Events {
  val Normal = 0
  val OutOfOrder = 1
  val Late = 2

  val Keys = 10000
  val WindowMs = 10000L
  /** Zipf(1.0) over the keys: the CDF, searched with a hashed uniform. */
  private val cdf: Array[Double] = {
    val w = (1 to Keys).map(k => 1.0 / k)
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  /** SplitMix64 of (seed, seq, salt): the event's randomness. */
  def mix(seed: Long, seq: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + seq * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def uniform(seed: Long, seq: Long, salt: Long): Double =
    (mix(seed, seq, salt) >>> 11) / (1L << 53).toDouble

  /** Event `seq` due at `dueMs`. `lateOk = false` suppresses late events
    * (the first batch of a query runs without a watermark, and the drain
    * backlog is checked without any).
    */
  def event(seed: Long, seq: Long, dueMs: Long, lateOk: Boolean = true): Event = {
    val u = uniform(seed, seq, 1)
    val i = java.util.Arrays.binarySearch(cdf, uniform(seed, seq, 2))
    val key = if (i >= 0) i else math.min(-i - 1, Keys - 1)
    val value = mix(seed, seq, 3) >>> 1 & 1023
    if (lateOk && u < 0.005) Event(seq, key, value, dueMs - 3600000L - seq * WindowMs, Late)
    else if (u < 0.055) Event(seq, key, value, dueMs - 20 - (mix(seed, seq, 4) >>> 1) % 230, OutOfOrder)
    else Event(seq, key, value, dueMs, Normal)
  }

  /** A file of events `[first, first + n)` whose due times are spread
    * evenly over `[startMs, startMs + spanMs)`.
    */
  final case class Slice(first: Long, n: Int, startMs: Long, spanMs: Long, lateOk: Boolean) {
    def events(seed: Long): Iterator[Event] = Iterator.range(0, n).map { j =>
      event(seed, first + j, startMs + j * spanMs / n, lateOk)
    }
  }

  /** Write `slice` as CSV (`key,value,created_ms`) into `tmp`, then move it
    * atomically into `dir` under `name`, so a watching source never sees a
    * partial file.
    */
  def write(seed: Long, slice: Slice, tmp: Path, dir: Path, name: String): Path = {
    val b = new java.lang.StringBuilder(slice.n * 24)
    slice.events(seed).foreach { e =>
      b.append(e.key).append(',').append(e.value).append(',').append(e.created).append('\n')
    }
    val t = tmp.resolve(name)
    Files.write(t, b.toString.getBytes(StandardCharsets.US_ASCII))
    Files.move(t, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** (count, sum of values, max created) per (window start, key). */
  type Agg = (Long, Long, Long)

  /** The reference answer: a plain fold of the events, late ones excluded. */
  def fold(seed: Long, slices: Iterable[Slice]): collection.Map[(Long, Long), Agg] = {
    val m = collection.mutable.HashMap.empty[(Long, Long), Agg]
    slices.foreach(_.events(seed).filter(_.kind != Late).foreach { e =>
      val k = (Math.floorDiv(e.created, WindowMs) * WindowMs, e.key)
      val (c, s, mx) = m.getOrElse(k, (0L, 0L, Long.MinValue))
      m(k) = (c + 1, s + e.value, math.max(mx, e.created))
    })
    m
  }

  def lateCount(seed: Long, slices: Iterable[Slice]): Long =
    slices.iterator.map(_.events(seed).count(_.kind == Late).toLong).sum
}
