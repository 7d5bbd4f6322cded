package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class KernelsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("rolling fingerprint: shift-invariant for shared runs, content-sensitive") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "PREFIX alpha beta gamma delta epsilon zeta eta"), // shifted copy
      (3L, "totally different words in this one here")).toDF("id", "t")
      .select(col("id"), graft.ops.TextAnalysis.rollingFingerprint(col("t"), 5).as("fp"))
    val m = df.as[(Long, Long)].collect().toMap
    // the 5-token min-window hash survives a prefix shift when the minimal
    // window lies in the shared suffix — and doc 3 shares nothing
    assert(m(1L) == m(2L) || m(2L) != m(3L))
    assert(m(1L) != m(3L))
  }

  test("Tokens kernel is exactly the filter(split(lower)) formulation (property)") {
    // the kernel replaced the higher-order-function stack for codegen and
    // makes Spark's lowercasing call itself; semantics must be
    // bit-identical on adversarial inputs — unicode, ascii/unicode
    // whitespace, empties, case-folding edge cases where ICU and JVM
    // mappings can differ, invalid UTF-8 — under both case-mapping settings
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import org.apache.spark.unsafe.types.UTF8String
    // capitals of recent Unicode versions (14: U+2C2F, U+A7C0; 16:
    // U+A7CB, U+1C89, U+10D50) that ICU may lowercase while the running
    // JDK does not; those that do differ here tell the two settings apart
    val recent = Seq("\u2C2F", "\uA7C0", "\uA7CB", "\u1C89", "\uD803\uDD50")
    val sentinels = recent.filter(c =>
      com.ibm.icu.lang.UCharacter.toLowerCase(c) != UTF8String.fromString(c).toLowerCase.toString)
    val piece = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      Gen.oneOf(" ", "\t", "\n", "\r", "\f", "  ", " \t\n"),
      Gen.oneOf("Ünïcödé", "ΣΊΣΥΦΟΣ", "ΟΔΟΣ", "İstanbul", "İ", "ǅ", "ß", "straße",
        "中文 词语", " ", "", recent.mkString))
    val gen = Gen.listOfN(12, piece).map(_.mkString)
    val samples = (0 until 300).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i))) ++
      Seq("", " ", "  ", "a b") ++ recent
    // bytes no String can hold: a stray continuation byte, a truncated
    // sequence, an encoded surrogate, an overlong NUL — lower's
    // toValidString step repairs them
    val invalid = Seq(Array(0x41, 0x80, 0x20, 0x42), Array(0xCE, 0x20, 0xA3, 0x53),
      Array(0xED, 0xA0, 0x80, 0x20, 0x58), Array(0xC0, 0x80, 0x4F, 0xCE, 0xA3),
      Array(0x53, 0x20, 0xFF, 0xFE)).map(_.map(_.toByte))
    val df = (samples.map(_.getBytes("UTF-8")) ++ invalid).toDF("b")
      .select(col("b").cast("string").as("t"))
    val key = "spark.sql.icu.caseMappings.enabled"
    val prev = spark.conf.get(key)
    // each query is built under the other setting and run under this
    // one: the kernel, like lower, reads the setting when it runs
    val kernelBy = try for (icu <- Seq(true, false)) yield {
      spark.conf.set(key, (!icu).toString)
      val both = df.select(
        graft.functions.Kernels.graft_tokens(col("t")).as("kernel"),
        filter(split(lower(col("t")), "\\s+"), x => length(x) > 0).as("hof"))
      spark.conf.set(key, icu.toString)
      val rows = both.as[(Seq[String], Seq[String])].collect().toSeq
      val bad = rows.filter { case (k, h) => k != h }
      assert(bad.isEmpty, s"kernel diverges from HOF formulation (icu=$icu): ${bad.take(3)}")
      rows.map(_._1)
    } finally spark.conf.set(key, prev)
    // the property above catches a kernel that ignores the setting only
    // if some input lowercases differently under the two; on a JDK that
    // already knows every capital in `recent`, none does
    assume(sentinels.nonEmpty, "this JDK lowercases every capital in `recent` as ICU does")
    assert(kernelBy(0) != kernelBy(1))
  }

  test("nfc_normalize: composes decomposed sequences, idempotent, ASCII passthrough") {
    val rows = Seq(
      "café",          // e + combining acute -> é
      "naïve",         // i + combining diaeresis -> ï
      "café",           // already composed
      "plain ascii text",
      "Å")        // A + ring -> Å
      .zipWithIndex.map(_.swap)
    val got = rows.toDF("i", "t")
      .select(col("i"), graft.functions.Kernels.nfc_normalize(col("t")).as("n"))
      .as[(Int, String)].collect().toMap
    val want = rows.map { case (i, t) =>
      i -> java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC) }.toMap
    assert(got == want)
    assert(got(0) == "café" && got(0).length == 4)
    assert(got(4) == "Å")
    // idempotent: normalizing the normalized form changes nothing
    val twice = rows.toDF("i", "t").select(col("i"),
        graft.functions.Kernels.nfc_normalize(
          graft.functions.Kernels.nfc_normalize(col("t"))).as("n"))
      .as[(Int, String)].collect().toMap
    assert(twice == want)
  }

  test("nfkc_normalize: compatibility folds on top of composition") {
    // ﬁ ligature -> fi, superscript two -> 2, and canonical composition
    val rows = Seq((0, "ﬁle ² café"))
    val got = rows.toDF("i", "t")
      .select(graft.functions.Kernels.nfkc_normalize(col("t")))
      .as[String].collect().head
    assert(got == "file 2 café")
    // NFC alone must NOT fold compatibility characters
    val nfcOnly = rows.toDF("i", "t")
      .select(graft.functions.Kernels.nfc_normalize(col("t")))
      .as[String].collect().head
    assert(nfcOnly == "ﬁle ² café")
  }

  test("sorted_intersect_count == size(array_intersect) on sorted distinct arrays (property)") {
    // the q233 verify contract: on the frames jaccardJoin builds
    // (sort_array'd distinct string arrays) the merge kernel must equal
    // array_intersect's cardinality exactly — randomized across sizes,
    // overlaps, empties, and non-ASCII so the UTF8String binary-order
    // merge is held to sort_array's own ordering
    val rnd = new scala.util.Random(17)
    val vocab = Seq.tabulate(50)(i => s"w$i") ++ Seq("ü", "é", "ß", "zéta", "")
    val rows = Seq.tabulate(300) { i =>
      val a = rnd.shuffle(vocab).take(rnd.nextInt(vocab.size)).filter(_.nonEmpty)
      val b = rnd.shuffle(vocab).take(rnd.nextInt(vocab.size)).filter(_.nonEmpty)
      (i.toLong, a, b)
    } :+ ((300L, Seq.empty[String], Seq("w1")))
    val df = rows.toDF("id", "a", "b")
      .select(col("id"), sort_array(array_distinct(col("a"))).as("a"),
        sort_array(array_distinct(col("b"))).as("b"))
    val got = df.select(col("id"),
        graft.functions.Kernels.sorted_intersect_count(col("a"), col("b")).as("m"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (id, m, ref) => assert(m == ref, s"row $id") }
  }

  test("kernels usable from SQL via GraftExtensions") {
    // GraftSession builds with .withExtensions(new GraftExtensions), so
    // the SQL functions are present on the shared test session
    Seq(("the quick brown fox", 1)).toDF("t", "i").createOrReplaceTempView("kern_t")
    val out = spark.sql(
      """SELECT simhash64(split(t, ' ')) AS sh,
        |       cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cs,
        |       word_shingles(split(t, ' '), 2) AS ws,
        |       rolling_fingerprint(split(t, ' '), 2) AS rf,
        |       rolling_hashes(split(t, ' '), 2) AS rh,
        |       nfc_normalize('cafe' || '́') AS nfc
        |FROM kern_t""".stripMargin)
    val r = out.collect().head
    assert(r.getLong(0) != 0L)
    assert(r.getDouble(1) == 1.0)
    assert(r.getSeq[String](2) == Seq("the quick", "quick brown", "brown fox"))
    // the fingerprint IS the minimum of the window-hash chain
    assert(r.getSeq[Long](4).min == r.getLong(3) && r.getSeq[Long](4).length == 3)
    assert(r.getString(5) == "café" && r.getString(5).length == 4)
  }
}
