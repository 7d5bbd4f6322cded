package graft.core

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.BroadcastBlockId
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Both sides of [[GraftSession.local]]'s fixed buffer sizes: 1 MB
  * Tungsten pages and 256 KB broadcast blocks. Each operator below holds
  * several pages or ships several blocks, and its answer is checked
  * against plain Scala.
  */
class SessionBuffersSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def key(i: Long) = f"$i%040d"

  test("the session runs with 1 MB pages and 256 KB broadcast blocks") {
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.buffer.pageSize") == "1m")
    assert(conf.get("spark.broadcast.blockSize") == "256k")
  }

  test("a string-keyed groupBy over many pages of keys matches Scala") {
    // 100k distinct 40-byte keys, two rows each: the partial aggregate's
    // fast map fills its one page and overflows into BytesToBytesMap
    val n = 100000L
    val got = spark.range(0, 2 * n)
      .select(format_string("%040d", col("id") % n).as("k"), col("id"))
      .groupBy("k").agg(sum("id").as("s"), count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.size == n)
    (0L until n).foreach(i => assert(got(key(i)) == ((2 * i + n, 2L)), key(i)))
  }

  test("a one-task sort over many pages matches Scala") {
    // 200k rows of ~64 bytes in one sorter: about 13 pages of 1 MB
    val n = 200000L
    val got = spark.range(0, n).coalesce(1)
      .select(format_string("%040d", (col("id") * 7919) % n).as("k"), col("id"))
      .sortWithinPartitions(col("k").desc)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val want = (0L until n).map(i => (key(i * 7919 % n), i)).sortBy(_._1).reverse
    assert(got.toSeq == want)
  }

  test("a broadcast join whose build side spans several blocks matches Scala") {
    // 50k sha-256 hex payloads do not compress: a ~3 MB relation, ~13
    // blocks of 256 KB (one block at Spark's 4 MB default)
    val pieces = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        e.blockUpdatedInfo.blockId match {
          case BroadcastBlockId(id, field) if field.startsWith("piece") =>
            pieces.merge(id, 1, (a, b) => a + b)
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val n = 50000L
      val build = spark.range(0, n)
        .select(col("id"), sha2(col("id").cast("string"), 256).as("h"))
      val got = spark.range(0, 2 * n, 3).join(broadcast(build), "id")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val want = (0L until n by 3).map { i =>
        i -> md.digest(i.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      }.toMap
      assert(got == want)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      def most = pieces.values().toArray.map(_.asInstanceOf[Integer].intValue).maxOption.getOrElse(0)
      while (most <= 4 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(most > 4, s"largest broadcast had $most block(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
