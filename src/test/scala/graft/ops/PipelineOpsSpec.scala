package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Round-4 corpus-pipeline operators: duplicate clusters, repetition
  * profile, PII redaction, mixture sampling, sequence packing, top-k
  * tokens.
  */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("connectedComponents: chain + separate pair + long path") {
    // {1,2,3,4,5} chained (diameter 4 — forces several propagation
    // rounds), {10,11} separate, {20,21,22} star around 20
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (20L, 21L), (20L, 22L)).toDF("id_a", "id_b")
    val got = Clusters.connectedComponents(pairs, col("id_a"), col("id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    val sizes = Clusters.clusterSizes(
      Clusters.connectedComponents(pairs, col("id_a"), col("id_b")))
      .as[(Long, Long)].collect().toMap
    assert(sizes == Map(1L -> 5L, 10L -> 2L, 20L -> 3L))
  }

  test("merge: new pairs join fresh docs and bridge existing clusters") {
    // existing groups {1,2} and {5,6}; new pairs attach 9 to {1,2} and
    // BRIDGE the two groups via (2,5) — merge must equal a full rebuild
    // over all pairs ever seen
    val oldPairs = Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val existing = Clusters.connectedComponents(oldPairs, col("id_a"), col("id_b"))
    val newPairs = Seq((2L, 9L), (2L, 5L), (20L, 21L)).toDF("id_a", "id_b")
    val merged = Clusters.merge(existing, newPairs, col("id_a"), col("id_b"))
      .as[(Long, Long)].collect().toMap
    val rebuilt = Clusters.connectedComponents(
        oldPairs.union(newPairs), col("id_a"), col("id_b"))
      .as[(Long, Long)].collect().toMap
    assert(merged == rebuilt)
    assert(merged == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 9L -> 1L,
      20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents: reliable checkpoint dir — same result, files on disk") {
    // cluster-durable mode: lineage truncation goes to a reliable dir
    // (survives executor loss) instead of executor-resident blocks
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Clusters.connectedComponents(pairs, col("id_a"), col("id_b"),
        checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
    // the reliable path was actually taken: checkpoint files exist
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.getFileName.toString.startsWith("part-")).count()
    assert(wrote > 0, s"no reliable checkpoint files written under $dir")
  }

  test("connectedComponents: non-integral ids rejected (checksum soundness guard)") {
    // fractional labels round under the DECIMAL(38,0) checksum cast and
    // string ids don't sum — both must fail fast, not converge prematurely
    val doubles = Seq((1.5, 2.5)).toDF("id_a", "id_b")
    val e1 = intercept[IllegalArgumentException] {
      Clusters.connectedComponents(doubles, col("id_a"), col("id_b"))
    }
    assert(e1.getMessage.contains("integral"))
    val strings = Seq(("a", "b")).toDF("id_a", "id_b")
    val e2 = intercept[IllegalArgumentException] {
      Clusters.connectedComponents(strings, col("id_a"), col("id_b"))
    }
    assert(e2.getMessage.contains("integral"))
  }

  test("connectedComponents: empty pair set yields empty result") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Clusters.connectedComponents(empty, col("id_a"), col("id_b")).count() == 0)
  }

  test("repetitionProfile: planted repetition scores high, varied text low") {
    val docs = Seq(
      (1L, "a a a b"),          // dup 2/4; bigrams: (a a)x2, (a b) -> top 2/3
      (2L, "w x y z"),          // dup 0; every bigram unique -> top 1/3
      (3L, "solo")              // single token: no bigrams -> 0.0
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionProfile(docs, col("doc_id"), col("text"))
      .as[(Long, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((0.5, 2.0 / 3)))
    assert(got(2L) == ((0.0, 1.0 / 3)))
    assert(got(3L) == ((0.0, 0.0)))
  }

  test("redactPii: email/ip/phone scrubbed, counts reported") {
    val df = Seq("mail a.b-c_1@test-host.org or 192.168.0.1 call 555-123-4567 x2")
      .toDF("text")
    val red = df.select(TextAnalysis.redactPii(col("text")).as("r")).as[String].head()
    assert(red == "mail <EMAIL> or <IP> call <PHONE> x2")
    val c = df.select(TextAnalysis.piiCounts(col("text")).as("c"))
      .select("c.emails", "c.ips", "c.phones").as[(Int, Int, Int)].head()
    assert(c == ((1, 1, 1)))
  }

  test("redactPii: clean text untouched") {
    val s = "no personal data here just words and 42 numbers"
    val red = Seq(s).toDF("text")
      .select(TextAnalysis.redactPii(col("text"))).as[String].head()
    assert(red == s)
  }

  test("mixtureSample: per-domain fractions, deterministic across runs") {
    val df = (0L until 2000L).map(i => (i, if (i % 2 == 0) "keep" else "drop"))
      .toDF("id", "dom")
    val sampled = Sampling.mixtureSample(df, col("id"), col("dom"),
      Map("keep" -> 1.0, "drop" -> 0.0))
    val got = sampled.groupBy("dom").count().as[(String, Long)].collect().toMap
    assert(got == Map("keep" -> 1000L)) // weight 1.0 keeps all, 0.0 kills the domain
    // fractional weight lands near its target and is re-run-identical
    val half = Sampling.mixtureSample(df, col("id"), col("dom"), Map.empty, defaultWeight = 0.5)
    val n1 = half.count(); val n2 = half.count()
    assert(n1 == n2)
    assert(math.abs(n1 - 1000.0) < 150, s"got $n1, expected ~1000")
  }

  test("packSequences: bins equal the naive global prefix-sum assignment") {
    // token counts chosen so docs straddle bin boundaries
    val docs = (1L to 100L).map(i => (i, s"doc$i", (i % 7 + 1) * 3))
      .toDF("id", "name", "n")
    val got = Packing.packSequences(docs, col("id"), col("n"), windowTokens = 50,
        numPartitions = 5)
      .select("ord_key", "bin").as[(Long, Long)].collect().toMap
    // naive oracle on the driver
    var cum = 0L
    val want = (1L to 100L).map { i =>
      val n = (i % 7 + 1) * 3
      val bin = cum / 50
      cum += n
      i -> bin
    }.toMap
    assert(got == want)
    val stats = Packing.packingStats(
      Packing.packSequences(docs, col("id"), col("n"), 50, 5), 50)
    assert(stats.agg(sum("n_tokens")).as[Long].head() == cum)
  }

  test("packSequences: bins survive a downstream coalesce(1)") {
    // regression: Verify writes with coalesce(1), which folds all shuffle
    // partitions into ONE task — a task-scoped partition id (TaskContext)
    // collapses to 0 there and zeroes every phase-2 offset; the structural
    // mapPartitionsWithIndex id must not
    val docs = (1L to 100L).map(i => (i, (i % 7 + 1) * 3)).toDF("id", "n")
    val got = Packing.packSequences(docs, col("id"), col("n"), 50, numPartitions = 8)
      .coalesce(1)
      .select("ord_key", "bin").as[(Long, Long)].collect().toMap
    var cum = 0L
    val want = (1L to 100L).map { i =>
      val n = (i % 7 + 1) * 3; val bin = cum / 50; cum += n; i -> bin
    }.toMap
    assert(got == want)
  }

  test("packSequences: single partition edge case") {
    val docs = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "n")
    val got = Packing.packSequences(docs, col("id"), col("n"), 25, numPartitions = 1)
      .select("ord_key", "bin").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 1L)) // prefixes 0, 10, 30
  }

  test("packSequences property: random sizes/partitionings match the naive cumsum") {
    // deterministic scalacheck-style sweep: random token counts, doc
    // counts, window sizes and partition counts — bins must always equal
    // the driver-side sequential fill
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val cases = (1 to 8).flatMap { i =>
      val g = for {
        n <- Gen.choose(1, 400)
        win <- Gen.choose(1L, 300L)
        parts <- Gen.choose(1, 13)
        toks <- Gen.listOfN(n, Gen.choose(0L, 120L))
      } yield (win, parts, toks)
      g.apply(Gen.Parameters.default, Seed(i))
    }
    assert(cases.nonEmpty)
    for ((win, parts, toks) <- cases) {
      val docs = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "n")
      val got = Packing.packSequences(docs, col("id"), col("n"), win, parts)
        .select("ord_key", "bin").as[(Long, Long)].collect().toMap
      var cum = 0L
      val want = toks.zipWithIndex.map { case (t, i) =>
        val bin = cum / win; cum += t; i.toLong -> bin
      }.toMap
      assert(got == want, s"win=$win parts=$parts n=${toks.size}")
    }
  }

  test("PrefixSum property: equals the naive per-group window sum minus value, through coalesce(1)") {
    // sum(v) over (partition by g order by o rows unbounded preceding) - v
    // is the contract; random values (zeros and negatives included), a
    // null group, string, long and binary groups, one group spanning
    // every partition, several partitionings (empty partitions among
    // them), an empty input, and a downstream coalesce(1) that folds
    // every partition into one task as well as a repartition(5)
    import org.apache.spark.sql.expressions.Window
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val cases = (1 to 3).flatMap { i =>
      val g = Gen.listOfN(120, for {
        grp <- Gen.oneOf(Some("a"), Some("b"), Some("c"), None)
        v <- Gen.frequency(1 -> Gen.const(0L), 3 -> Gen.choose(-40L, 200L))
      } yield (grp, v))
      g.apply(Gen.Parameters.default, Seed(300 + i))
    }
    assert(cases.nonEmpty)
    // sparse, negative-including order keys, fed in a scrambled order;
    // five rows leave some of 8 partitions empty, and Nil is no rows
    val inputs = cases.map(rows => (None, 0L) +: (Some("a"), 0L) +: rows) ++
      Seq(cases.head.take(5), Nil)
    val frames = inputs.map { all =>
      all.zipWithIndex.map { case ((g, v), i) => ((i * 7919L) % 1009L - 500L, g, v) }
        .reverse.toDF("o", "g", "v")
        .withColumn("gl", ascii(col("g")).cast("long"))
        .withColumn("gb", col("g").cast("binary"))
        .withColumn("one", lit("x"))
    }
    for (df <- frames; group <- Seq(None, Some("g"), Some("gl"), Some("gb"), Some("one"));
         parts <- Seq(1, 3, 8)) {
      val w = Window.partitionBy(group.toSeq.map(col): _*).orderBy(col("o"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = df.select(col("o"), (sum(col("v")).over(w) - col("v")).as("p"))
        .as[(Long, Long)].collect().toMap
      val got = PrefixSum.exclusive(df, Seq("o"), "v", group, parts)
      for (down <- Seq(got.coalesce(1), got.repartition(5))) {
        val seen = down.select("o", "prefix_excl").as[(Long, Long)].collect().toMap
        assert(seen == want, s"group=$group parts=$parts n=${want.size}")
      }
    }
  }

  test("PrefixSum budget: at most 5 jobs per exclusive(...).collect(), one pinned RDD") {
    // the input pin, range sampling, the shuffle map, pass 1's collect
    // and the caller's job: pass 2 reads the same map output, and no
    // second checkpoint, window or broadcast join starts a job of its own
    val sc = spark.sparkContext
    val df = (0 until 400).map(i => ((i * 7919L) % 1009L, s"g${i % 3}", i.toLong))
      .toDF("o", "g", "v")
    val group = s"prefix-sum-budget-${System.nanoTime()}"
    val pinnedBefore = sc.getPersistentRDDs.keySet
    sc.setJobGroup(group, "PrefixSum job budget")
    try {
      val out = PrefixSum.exclusive(df, Seq("o"), "v", Some("g"), 4)
      val pinned = sc.getPersistentRDDs.keySet -- pinnedBefore
      assert(pinned.size == 1, s"exclusive pinned ${pinned.size} RDDs, expected only its input")
      assert(out.collect().length == 400)
    } finally sc.clearJobGroup()
    // job starts reach the status tracker in order: once a later job
    // shows, every job of the group has been counted
    val marker = s"$group-marker"
    sc.setJobGroup(marker, "PrefixSum job budget marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    val jobs = sc.statusTracker.getJobIdsForGroup(group)
    assert(jobs.nonEmpty && jobs.length <= 5,
      s"exclusive(...).collect() ran ${jobs.length} jobs: ${jobs.sorted.mkString(", ")}")
  }

  test("PrefixSum contract: a value column that is not a long is refused before planning") {
    val ints = Seq((1L, 1), (2L, 2)).toDF("o", "v")
    val e = intercept[IllegalArgumentException](PrefixSum.exclusive(ints, Seq("o"), "v"))
    assert(e.getMessage.contains("must be a long, got int"), e.getMessage)
  }

  test("PrefixSum contract: a null value is an error, not a zero") {
    val nulls = Seq((1L, Some(4L)), (2L, None), (3L, Some(5L))).toDF("o", "v")
    val e = intercept[org.apache.spark.SparkException](PrefixSum.exclusive(nulls, Seq("o"), "v"))
    assert(e.getMessage.contains("PrefixSum value `v` is null"), e.getMessage)
  }

  test("connectedComponents property: random graphs match union-find") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val cases = (1 to 6).flatMap { i =>
      val g = for {
        n <- Gen.choose(2, 60)          // node id space
        m <- Gen.choose(1, 80)          // edges
        es <- Gen.listOfN(m, for {
          a <- Gen.choose(0L, n.toLong); b <- Gen.choose(0L, n.toLong)
        } yield (a, b))
      } yield es.filter { case (a, b) => a != b }
      g.apply(Gen.Parameters.default, Seed(100 + i))
    }.filter(_.nonEmpty)
    assert(cases.nonEmpty)
    for (edges <- cases) {
      val got = Clusters.connectedComponents(
        edges.toDF("id_a", "id_b"), col("id_a"), col("id_b"))
        .as[(Long, Long)].collect().toMap
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r } }
      for ((a, b) <- edges) parent(find(a)) = find(b)
      val roots = parent.keys.map(k => k -> find(k)).toMap
      val want = roots.map { case (k, r) =>
        k -> roots.collect { case (k2, r2) if r2 == r => k2 }.min }
      assert(got == want, s"edges=$edges")
    }
  }

  test("null text: defined behavior across the corpus ops, no crashes") {
    val docs = Seq((1L, "real words here", "g"), (2L, null, "g")).toDF("doc_id", "text", "grp")
    // redaction passes null through
    assert(docs.select(TextAnalysis.redactPii(col("text"))).collect().count(_.isNullAt(0)) == 1)
    // repetition: null doc yields null fraction (undefined), not an error
    val rep = TextAnalysis.repetitionProfile(docs, col("doc_id"), col("text")).collect()
    assert(rep.length == 2 && rep.exists(_.isNullAt(1)))
    // token explode drops null docs from rankings
    assert(TextAnalysis.topTokensPerGroup(docs, col("grp"), col("text"), 5)
      .where(col("word").isNull).count() == 0)
    assert(TextAnalysis.salientTerms(docs, col("doc_id"), col("text"), 2)
      .select("doc_id").as[Long].collect().toSet == Set(1L))
    // packing treats a null count as zero tokens instead of crashing
    assert(Packing.packSequences(docs, col("doc_id"),
        TextAnalysis.tokenCount(col("text")), 2, numPartitions = 2)
      .select("ord_key", "n_tok").as[(Long, Long)].collect().toMap == Map(1L -> 3L, 2L -> 0L))
  }

  test("decontamination: containment is asymmetric; scrub drops flagged docs only") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("id", "text")
    val train = Seq(
      (1L, "intro words alpha beta gamma delta and a very long tail of extra content"),
      (2L, "alpha beta unrelated gamma stuff"),   // shares some but < full containment
      (3L, "completely different text here")
    ).toDF("id", "text")
    val pairs = Decontamination.containmentPairs(
        train, col("id"), col("text"), bench, col("id"), col("text"),
        n = 3, threshold = 0.9)
      .as[(Long, Long, Double)].collect()
    // doc 1 contains ALL of the benchmark's shingles -> containment 1.0,
    // even though its symmetric jaccard with the benchmark is small
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 100L)))
    assert(pairs.head._3 == 1.0)
    val kept = Decontamination.scrub(train, col("id"), col("text"),
        bench, col("id"), col("text"), n = 3, threshold = 0.9)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L))
  }

  test("decontamination screenStream: per-batch flags equal the batch operator; bench growth lands") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("id", "text")
      .localCheckpoint() // standing set, stable across triggers
    val in = MemoryStream[(Long, String)]
    val got = new java.util.concurrent.ConcurrentHashMap[Long, Set[Long]]()
    val q = Decontamination.screenStream(
      in.toDF().toDF("id", "text"), col("id"), col("text"),
      bench, col("id"), col("text"), n = 3, threshold = 0.9) { res =>
      res.as[(Long, Long, Double)].collect()
        .groupBy(_._1).foreach { case (t, rs) => got.put(t, rs.map(_._2).toSet) }
    }
    try {
      in.addData(
        (1L, "intro words alpha beta gamma delta and a very long tail of extra content"),
        (3L, "completely different text here"))
      q.processAllAvailable()
      assert(got.containsKey(1L) && got.get(1L) == Set(100L) && !got.containsKey(3L))
      // a contaminated doc in a later batch is flagged the same way
      in.addData((4L, "prefix alpha beta gamma delta suffix"))
      q.processAllAvailable()
      assert(got.get(4L) == Set(100L))
    } finally q.stop()
  }

  test("chunk: stride windows, short last chunk, empty docs dropped") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "only three tokens"),
      (3L, "")
    ).toDF("id", "text")
    val got = TextAnalysis.chunk(docs, col("id"), col("text"), chunkTokens = 4, stride = 3)
      .as[(Long, Long, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(c => (c._3, c._4)).toSeq).toMap
    // doc 1: starts 0,3,6,9 -> windows of 4 tokens (last has 1)
    assert(got(1L) == Seq(
      ("t1 t2 t3 t4", 4L), ("t4 t5 t6 t7", 4L), ("t7 t8 t9 t10", 4L), ("t10", 1L)))
    assert(got(2L) == Seq(("only three tokens", 3L)))
    assert(!got.contains(3L))
  }

  test("cdcChunks: partitions the token stream; naive replica; edit-stable chunks") {
    // deterministic pseudo-random corpus (no RNG state)
    def md5mod(s: String, m: Int): Int = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % m
    }
    val words = (0 until 300).map(i => s"w${md5mod(s"tok$i", 500)}")
    val base = words.mkString(" ")
    val prefixEdit = "inserted tokens here " + base
    val midEdit = (words.take(150) ++ Seq("edit") ++ words.drop(150)).mkString(" ")
    val docs = Seq((1L, base), (2L, prefixEdit), (3L, midEdit), (4L, "tiny doc"),
      (5L, "")).toDF("id", "text")
    val got = TextAnalysis.cdcChunks(docs, col("id"), col("text"),
        window = 5, maskBits = 4)
      .as[(Long, Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap

    // chunks partition each doc's token stream exactly
    for ((id, cs) <- got) {
      assert(cs.head._3 == 0L, s"doc $id first chunk start ${cs.head._3}")
      cs.sliding(2).foreach {
        case Array(a, b) => assert(b._3 == a._3 + a._4, s"gap in doc $id")
        case _ =>
      }
    }
    assert(got(1L).map(_._4).sum == 300L && got(4L).map(_._4).sum == 2L)
    assert(!got.contains(5L))

    // naive replica of the kernel chain for doc 1
    val B = 1000003L
    def tokHash(t: String): Long = t.foldLeft(7L)((h, c) => h * B + c.toInt)
    val th = words.map(w => tokHash(w))
    val w = 5
    val ws = (0 to 300 - w).map { s =>
      (0 until w).foldLeft(0L)((h, j) => h * B + th(s + j))
    }
    val bnds = ws.zipWithIndex.collect { case (h, s) if (h & 15L) == 0 => s + w - 1 }
    val ends = if (bnds.nonEmpty && bnds.last == 299) bnds else bnds :+ 299
    val expected = ends.zipWithIndex.map { case (e, k) =>
      val st = if (k == 0) 0 else ends(k - 1) + 1
      (k.toLong, st.toLong, (e - st + 1).toLong)
    }
    assert(got(1L).map(c => (c._2, c._3, c._4)).toSeq == expected)

    // the CDC property: chunk identities survive edits elsewhere — a
    // prefix insertion and a mid-document edit each keep most chunk
    // fingerprints, where fixed-size chunking would shift them all
    val f1 = got(1L).map(_._5).toSet
    val f2 = got(2L).map(_._5).toSet
    val f3 = got(3L).map(_._5).toSet
    assert((f1 & f2).size >= f1.size - 2, s"prefix edit kept ${(f1 & f2).size}/${f1.size}")
    assert((f1 & f3).size >= f1.size - 3, s"mid edit kept ${(f1 & f3).size}/${f1.size}")
  }

  test("tokenBudgetSample: equals the naive per-domain hash-order prefix selection") {
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      d.map(b => f"${b & 0xff}%02x").mkString
    }
    // random-ish token counts and a skewed domain distribution, several
    // partitionings — the distributed two-phase prefix must equal the
    // naive driver-side computation exactly
    val rows = (0L until 400L).map { i =>
      val dom = if (i % 10 < 7) "big" else if (i % 10 < 9) "mid" else "small"
      (i, dom, (i * 37 % 90 + 5))
    }
    val budgets = Map("big" -> 2000L, "mid" -> 700L)
    def naive: Set[(Long, String, Long, Long)] = {
      rows.groupBy(_._2).flatMap { case (dom, ds) =>
        val budget = budgets.getOrElse(dom, 300L)
        var cum = 0L
        ds.sortBy(r => md5hex(r._1.toString)).flatMap { case (id, d0, n) =>
          val keep = cum < budget
          val out = if (keep) Some((id, d0, n.toLong, cum)) else None
          cum += n
          out
        }
      }.toSet
    }
    for (parts <- Seq(1, 3, 13)) {
      val got = Sampling.tokenBudgetSample(
          rows.toDF("id", "dom", "n"), col("id"), col("dom"), col("n"),
          budgets, defaultBudget = 300L, numPartitions = parts)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(got == naive, s"parts=$parts: got=${got.size}, naive=${naive.size}")
    }
    // overshoot bound: per domain, total minus budget < last admitted doc
    val byDom = naive.groupBy(_._2)
    for ((dom, sel) <- byDom) {
      val budget = budgets.getOrElse(dom, 300L)
      val total = sel.map(_._3).sum
      assert(total - budget < sel.map(_._3).max,
        s"$dom overshoots by more than one doc: total=$total budget=$budget")
    }
  }

  test("tokenBudgetSample: survives a downstream coalesce(1); null domain uses default budget") {
    val df = Seq((1L, "a", 10L), (2L, "a", 10L), (3L, null.asInstanceOf[String], 10L),
      (4L, "b", 10L)).toDF("id", "dom", "n")
    val got = Sampling.tokenBudgetSample(df, col("id"), col("dom"), col("n"),
        Map("a" -> 15L), defaultBudget = 25L, numPartitions = 4)
      .coalesce(1)
      .select("key", "dom").as[(Long, Option[String])].collect().toSet
    // domain a: budget 15 admits the first two? prefix_excl 0 and 10 both < 15
    // -> both admitted; null-domain and b fall to default 25 -> admitted
    assert(got == Set((1L, Some("a")), (2L, Some("a")), (3L, None), (4L, Some("b"))),
      s"got $got")
  }

  test("shuffleRank: equals the naive md5-order row_number at any partitioning") {
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      d.map(b => f"${b & 0xff}%02x").mkString
    }
    val ids = (0L until 300L)
    val expect = ids.sortBy(i => (md5hex(i.toString), i)).zipWithIndex
      .map { case (id, idx) => (id, idx + 1L) }.toSet
    for (parts <- Seq(1, 5, 17)) {
      val got = Sampling.shuffleRank(ids.toDF("id"), col("id"), numPartitions = parts)
        .as[(Long, Long)].collect().toSet
      assert(got == expect, s"parts=$parts")
    }
  }

  test("shuffleRank: a 1..n permutation that survives a downstream coalesce(1)") {
    // regression shape: structural partition ids must not collapse under
    // the Verify write path's coalesce(1)
    val got = Sampling.shuffleRank((0L until 100L).toDF("id"), col("id"), numPartitions = 8)
      .coalesce(1).as[(Long, Long)].collect()
    assert(got.map(_._2).sorted.toSeq == (1L to 100L))
    assert(got.map(_._1).toSet == (0L until 100L).toSet)
  }

  test("stratifiedTake: exactly n per domain, deterministic, hash-ordered") {
    val df = (0L until 500L).map(i => (i, s"dom${i % 3}")).toDF("id", "dom")
    val a = Sampling.stratifiedTake(df, col("id"), col("dom"), 7)
      .as[(String, Long, Long)].collect()
    assert(a.groupBy(_._1).forall(_._2.length == 7))
    // re-run identical; re-partitioned input identical
    val b = Sampling.stratifiedTake(df.repartition(13), col("id"), col("dom"), 7)
      .as[(String, Long, Long)].collect()
    assert(a.toSet == b.toSet)
    // n larger than a domain: returns all of it, no padding
    val tiny = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "dom")
    val t = Sampling.stratifiedTake(tiny, col("id"), col("dom"), 5)
      .as[(String, Long, Long)].collect()
    assert(t.count(_._1 == "x") == 2 && t.count(_._1 == "y") == 1)
  }

  test("bloomScreen: equals the exact anti join; empty and disjoint batches") {
    val seen = (0L until 3000L by 2L).map(Tuple1(_)).toDF("k") // evens
    val inc = (0L until 3000L).map(i => (i, s"p$i")).toDF("id", "payload")
    val got = Dedup.bloomScreen(seen, col("k"), inc, col("id"))
      .as[(Long, String)].collect().toSet
    val want = inc.join(seen, inc("id") === seen("k"), "left_anti")
      .as[(Long, String)].collect().toSet
    assert(got == want)
    assert(got.map(_._1) == (1L until 3000L by 2).toSet, "screen must pass exactly the odd ids")
    // a fully-seen batch screens to empty; a disjoint batch passes whole
    assert(Dedup.bloomScreen(seen, col("k"), seen.toDF("id"), col("id")).count() == 0)
    val disjoint = (10000L until 10100L).map(Tuple1(_)).toDF("id")
    assert(Dedup.bloomScreen(seen, col("k"), disjoint, col("id")).count() == 100)
  }

  test("bloomScreen: non-integral keys rejected (would silently admit all duplicates)") {
    // a string key would cast(long) to null per row and screen EVERYTHING
    // as new — the guard must fail fast instead
    val seen = Seq("a", "b").toDF("k")
    val inc = Seq("a", "c").toDF("id")
    val e = intercept[IllegalArgumentException] {
      Dedup.bloomScreen(seen, col("k"), inc, col("id"))
    }
    assert(e.getMessage.contains("integral"))
  }

  test("bloomScreenStream: micro-batches screened against a frozen seen-set") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val seen = (0L until 1000L by 2L).map(Tuple1(_)).toDF("k") // evens
    val in = MemoryStream[Long]
    val admitted = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = Dedup.bloomScreenStream(seen, col("k"), in.toDF().toDF("id"), col("id")) {
      batch => batch.select("id").as[Long].collect().foreach(admitted.add)
    }
    try {
      in.addData(1L, 2L, 3L, 4L) // odds new, evens seen
      q.processAllAvailable()
      in.addData(5L, 6L, 2000L)  // 2000 outside the seen range -> new
      q.processAllAvailable()
      val got = admitted.toArray.map(_.asInstanceOf[Long]).toSet
      assert(got == Set(1L, 3L, 5L, 2000L), s"got $got")
    } finally q.stop()
  }

  test("bloomScreen: null keys screen as new") {
    val seen = Seq(1L, 2L).toDF("k")
    val inc = Seq[(java.lang.Long, String)](
      (java.lang.Long.valueOf(1L), "seen"), (null, "nullkey"),
      (java.lang.Long.valueOf(7L), "new")).toDF("id", "tag")
    val got = Dedup.bloomScreen(seen, col("k"), inc, col("id"))
      .select("tag").as[String].collect().toSet
    assert(got == Set("nullkey", "new"))
  }

  test("salientTerms: hot/cold df split is result-identical at any cutoff") {
    // stopword-skew handling must not change results: a cutoff of 2 forces
    // "the"-like terms down the broadcast hot path, a huge cutoff sends
    // everything through the cold term-keyed join — rankings must agree,
    // including a doc where a stopword's huge tf legitimately outranks
    // rarer terms (the case a naive df-threshold prune would corrupt)
    val docs = Seq(
      (1L, ("the " * 50) + "rare1 rare2"), // "the" tf=50 must still rank here
      (2L, "the quick brown fox"),
      (3L, "the lazy dog sleeps"),
      (4L, "the cat sat mat")
    ).toDF("doc_id", "text")
    def run(cutoff: Long) =
      TextAnalysis.salientTerms(docs, col("doc_id"), col("text"), 3, cutoff)
        .as[(Long, String, Double, Long)].collect().toSet
    val allCold = run(Long.MaxValue)
    val split = run(2L)
    assert(split == allCold, s"hot/cold split changed results:\n${split.diff(allCold)}\n${allCold.diff(split)}")
    // and the pathological doc keeps its high-tf stopword in the top-k:
    // score(the|doc1) = 50*4/4 = 50 > score(rare) = 1*4/1 = 4
    assert(allCold.exists(r => r._1 == 1L && r._2 == "the" && r._4 == 1L),
      s"high-tf stopword lost from doc 1 ranking: ${allCold.filter(_._1 == 1L)}")
  }

  test("prioritySample: weight-proportional, deterministic, top-k plan, weight guard") {
    // 10k rows, weights 1 vs 10 on two halves: the heavy half should
    // dominate a k=500 sample roughly 10:1 (PPS property)
    val df = spark.range(10000).select(col("id").as("k"),
      when(col("id") % 2 === 0, 10L).otherwise(1L).as("w"))
    val got = Sampling.prioritySample(df, col("k"), col("w"), k = 500)
      .as[(Long, Long)].collect()
    assert(got.length == 500)
    val heavy = got.count(_._2 == 10L)
    assert(heavy > 400, s"heavy half underrepresented: $heavy/500")
    // deterministic under repartitioning
    val again = Sampling.prioritySample(df.repartition(13), col("k"), col("w"), k = 500)
      .as[(Long, Long)].collect()
    assert(got.map(_._1).sorted.toSeq == again.map(_._1).sorted.toSeq)
    // per-partition top-k merge, not a global sort
    val plan = Sampling.prioritySample(df, col("k"), col("w"), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"rank is a global sort:\n$plan")
    // non-positive weights fail fast
    val bad = Seq((1L, 0L)).toDF("k", "w")
    val ex = intercept[Exception] {
      Sampling.prioritySample(bad, col("k"), col("w"), k = 1).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("positive"))
  }

  test("prioritySamplePerKey: naive per-stratum replica, bounded-heap plan, weight guard") {
    // three strata of very different sizes; weights favor high ids
    val df = spark.range(3000).select(col("id").as("k"),
      when(col("id") % 7 === 0, "small").when(col("id") % 3 === 0, "mid")
        .otherwise("big").as("dom"),
      (col("id") % 50 + 1).as("w"))
    val got = Sampling.prioritySamplePerKey(df, col("dom"), col("k"), col("w"), k = 20)
      .as[(Long, String, Long)].collect()
    assert(got.groupBy(_._2).view.mapValues(_.length).toMap ==
      Map("small" -> 20, "mid" -> 20, "big" -> 20))
    // naive driver-side replica: same md5 uniform, same division, same
    // per-stratum rank
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      d.map(b => f"${b & 0xff}%02x").mkString
    }
    val rows = df.as[(Long, String, Long)].collect()
    val expected = rows.groupBy(_._2).toSeq.flatMap { case (_, rs) =>
      rs.sortBy { case (k0, _, w0) =>
        (java.lang.Long.parseLong(md5hex(k0.toString).take(13), 16).toDouble / w0, k0)
      }.take(20).toSeq
    }.toSet
    assert(got.toSet == expected)
    // deterministic under repartitioning
    val again = Sampling.prioritySamplePerKey(df.repartition(13), col("dom"),
      col("k"), col("w"), k = 20).as[(Long, String, Long)].collect()
    assert(got.toSet == again.toSet)
    // the rank filter pushes into a map-side bounded heap: the exchange
    // never carries more than k rows per stratum per map partition
    val plan = Sampling.prioritySamplePerKey(df, col("dom"), col("k"), col("w"), k = 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no bounded-heap group limit:\n$plan")
    // non-positive weights fail fast
    val bad = Seq((1L, "d", 0L)).toDF("k", "dom", "w")
    val ex = intercept[Exception] {
      Sampling.prioritySamplePerKey(bad, col("dom"), col("k"), col("w"), k = 1).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("positive"))
  }

  test("importanceWeights: naive replica; target-domain docs score higher") {
    // two "domains": a-docs share vocabulary, b-docs share another
    val docs = (
      (0 until 20).map(i => (i.toLong, "tgt", s"alpha beta gamma delta w$i epsilon zeta")) ++
      (20 until 40).map(i => (i.toLong, "other", s"red green blue cyan x$i magenta yellow"))
    ).toDF("id", "dom", "text")
    val target = docs.where(col("dom") === "tgt")
    val got = Sampling.importanceWeights(docs, target, col("id"), col("text"),
        buckets = 512)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap

    // the selection property: every target-domain doc outscores every
    // other-domain doc
    val tgtMin = (0L until 20L).map(got(_)._2).min
    val otherMax = (20L until 40L).map(got(_)._2).max
    assert(tgtMin > otherMax, s"tgtMin=$tgtMin otherMax=$otherMax")

    // naive driver-side replica of the full integer arithmetic
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      d.map(b => f"${b & 0xff}%02x").mkString
    }
    def bucket(f: String): Long = java.lang.Long.parseLong(md5hex(f).take(8), 16) % 512
    def feats(text: String): Seq[String] = {
      val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      t ++ t.sliding(2).filter(_.length == 2).map(_.mkString(" "))
    }
    def bitlen(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong
    val all = docs.as[(Long, String, String)].collect()
    val tb = all.filter(_._2 == "tgt").flatMap(r => feats(r._3)).groupBy(bucket)
      .view.mapValues(_.length.toLong).toMap
    val rb = all.flatMap(r => feats(r._3)).groupBy(bucket)
      .view.mapValues(_.length.toLong).toMap
    val (nt, nr) = (tb.values.sum, rb.values.sum)
    val expected = all.map { case (id0, _, tx) =>
      val fs = feats(tx)
      val s = fs.map(f => bitlen(tb.getOrElse(bucket(f), 0L) + 1)
                        - bitlen(rb.getOrElse(bucket(f), 0L) + 1)).sum
      id0 -> ((fs.length.toLong, s + fs.length * (bitlen(nr) - bitlen(nt))))
    }.toMap
    assert(got == expected)
  }

  test("entropyProfile: hand-computed bits, edge docs, naive replica, zero exchange") {
    // bitlen(3)=2: "a a b" -> runs (a:2, b:1) -> 2*(2-2) + 1*(2-1) = 1
    // "a b c" all distinct -> 3*(2-1) = 3; "a a a" -> 3*(2-2) = 0
    val docs = Seq((1L, "a a b"), (2L, "a b c"), (3L, "a a a"),
      (4L, ""), (5L, "   "), (6L, "X x")).toDF("doc_id", "text")
    val got = TextAnalysis.entropyProfile(docs, col("doc_id"), col("text"))
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, 3L, 2L, 1L), (2L, 3L, 3L, 3L), (3L, 3L, 1L, 0L),
      (4L, 0L, 0L, 0L), (5L, 0L, 0L, 0L), (6L, 2L, 1L, 0L))) // lowercased: x x
    // naive replica over the real corpus: explode + two groupBys
    val corpus = graft.sources.Tables(spark, "/root/testdata/sf0.001").documents
    val fast = TextAnalysis.entropyProfile(corpus, col("doc_id"), col("text"))
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    def bl(x: Long) = java.lang.Long.toBinaryString(x).length.toLong
    val naive = corpus.select(col("doc_id"),
        explode_outer(graft.ops.Stateless.tokens(col("text"))).as("tok"))
      .as[(Long, Option[String])].collect().groupBy(_._1).map { case (id, rows) =>
        val ts = rows.flatMap(_._2)
        val n = ts.length.toLong
        val hist = ts.groupBy(identity).map(_._2.length.toLong)
        (id, n, hist.size.toLong, hist.map(c => c * (bl(n) - bl(c))).sum)
      }.toSeq.sorted
    assert(fast == naive && fast.size == 500)
    // the signal is one narrow scan: NO exchange anywhere in the plan
    val plan = TextAnalysis.entropyProfile(corpus, col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"entropyProfile shuffles:\n$plan")
  }

  test("topTokensPerGroup: counts ranked, ties broken by token asc") {
    val docs = Seq(
      ("g1", "b b b a a c"),
      ("g1", "a"),           // a:3, b:3 tie -> a ranks first
      ("g2", "z z y")
    ).toDF("grp", "text")
    val got = TextAnalysis.topTokensPerGroup(docs, col("grp"), col("text"), k = 2)
      .orderBy("grp", "rk").as[(String, String, Long, Long)].collect()
    assert(got.toSeq == Seq(
      ("g1", "a", 3L, 1L), ("g1", "b", 3L, 2L),
      ("g2", "z", 2L, 1L), ("g2", "y", 1L, 2L)))
  }

  test("dedupLines: first occurrence kept in order; empties and custom sep; zero exchange") {
    val docs = Seq(
      (1L, "nav\nbody one\nnav\nbody two\nnav\nfooter"),   // boilerplate nav repeats
      (2L, "a\n\nb\n\na"),                                  // repeated EMPTY line collapses too
      (3L, "unique only"),                                  // no sep at all: identity
      (4L, "x\nx\nx\nx")).toDF("id", "text")
    val got = TextAnalysis.dedupLines(docs, col("id"), col("text"))
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "nav\nbody one\nbody two\nfooter", 6L, 4L),
      (2L, "a\n\nb", 5L, 3L),
      (3L, "unique only", 1L, 1L),
      (4L, "x", 4L, 1L)))
    // custom separator
    val sepGot = TextAnalysis.dedupLines(
        Seq((1L, "p. q. p. r")).toDF("id", "text"), col("id"), col("text"), sep = ". ")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(sepGot == Seq((1L, "p. q. r", 4L, 3L)))
    // scale shape: narrow — no exchange anywhere in the plan
    val plan = TextAnalysis.dedupLines(docs, col("id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"dedupLines must be zero-exchange:\n$plan")
  }

  test("tokenDrift: hand-computed movement, one-sided tokens, zero drift on identical corpora") {
    val a = Seq((1L, "x x y")).toDF("id", "text")
    val b = Seq((2L, "x y y z")).toDF("id", "text")
    // TA=3, TB=4: x |2·4−1·3|=5, y |1·4−2·3|=2, z |0·4−1·3|=3
    val got = TextAnalysis.tokenDrift(a, b, col("text"), col("text"))
      .select(col("token"), col("n_a"), col("n_b"), col("move").cast("long"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(("x", 2L, 1L, 5L), ("y", 1L, 2L, 2L), ("z", 0L, 1L, 3L)), s"got $got")
    // identical corpora: TA=TB, n_a=n_b -> every move is exactly 0
    val same = TextAnalysis.tokenDrift(a, a, col("text"), col("text"))
      .agg(max(col("move")).cast("long")).head.getLong(0)
    assert(same == 0L)
  }

  test("tokenDrift: scale-invariant on proportionally identical corpora; vocab-sized join only") {
    // B = A duplicated 3x: identical distributions at different sizes —
    // the cross-normalization must report zero movement everywhere
    val a = Seq((1L, "p q q"), (2L, "r")).toDF("id", "text")
    val b = (0 until 3).map(i => a.withColumn("id", col("id") + lit(i * 10L)))
      .reduce(_ unionByName _)
    val moved = TextAnalysis.tokenDrift(a, b, col("text"), col("text"))
      .where(col("move") =!= 0).count()
    assert(moved == 0, "proportionally identical corpora must have zero TV movement")
    // plan: the totals ride broadcast nested-loop cross joins; the only
    // non-broadcast join is the vocab-keyed full outer
    val plan = TextAnalysis.tokenDrift(a, b, col("text"), col("text"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), s"totals must broadcast:\n$plan")
    assert(plan.contains("FullOuter"), s"vocab join must be full outer:\n$plan")
  }

  test("tokenDrift == tokenDriftCounts over a persisted baseline (standing-monitor path)") {
    val a = Seq((1L, "x x y")).toDF("id", "text")
    val b = Seq((2L, "x y y z")).toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_driftbase").toString
    TextAnalysis.vocabCounts(a, col("text")).write.mode("overwrite").parquet(dir)
    val standing = TextAnalysis.tokenDriftCounts(
      spark.read.parquet(dir), TextAnalysis.vocabCounts(b, col("text")))
      .select(col("token"), col("n_a"), col("n_b"), col("move").cast("long"))
      .as[(String, Long, Long, Long)].collect().toSet
    val direct = TextAnalysis.tokenDrift(a, b, col("text"), col("text"))
      .select(col("token"), col("n_a"), col("n_b"), col("move").cast("long"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(standing == direct, s"$standing vs $direct")
    assertThrows[IllegalArgumentException] {
      TextAnalysis.tokenDriftCounts(a, TextAnalysis.vocabCounts(b, col("text")))
    }
  }

  // ---- quotaFillStream ----

  test("quotaFillStream: in-key-order delivery equals the batch prefix-sum truncation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    // (dom, key, tokens): budgets cross mid-batch for "a", exactly at a
    // boundary for "b"; "c" never fills. Batches are key-contiguous
    // ranges (the replay regime) but internally unsorted.
    val batches = Seq(
      Seq(("a", 1L, 40L), ("b", 2L, 50L), ("a", 3L, 30L)),
      Seq(("a", 5L, 40L), ("b", 4L, 50L), ("c", 6L, 10L)),   // a crosses at key 5
      Seq(("a", 7L, 1L), ("b", 8L, 0L), ("c", 9L, 20L)))     // b exactly full: 8 rejected
    val budget = 100L
    val in = MemoryStream[(String, Long, Long)]
    val out = Sampling.quotaFillStream(in.toDF().toDF("dom", "key", "n"),
      col("dom"), col("key"), col("n"), budget)
    val q = out.writeStream.format("memory").queryName("quota_fill_test")
      .outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("quota_fill_test")
      .as[(String, Long, Long, Long)].collect().toSet
    // batch replay: per domain in key order, admit while exclusive prefix < budget
    val all = batches.flatten
    val want = all.groupBy(_._1).flatMap { case (dom, rs) =>
      var cum = 0L
      rs.sortBy(_._2).flatMap { case (_, k, t) =>
        val o = if (cum < budget) Some((dom, k, t, cum)) else None
        cum += t
        o
      }
    }.toSet
    assert(got == want, s"got=$got want=$want")
    // a's key 5 overflows the line and is the LAST admitted; key 7 rejected
    assert(got.contains(("a", 5L, 40L, 70L)) && !got.exists(r => r._1 == "a" && r._2 == 7L))
    // b filled exactly: the zero-token row at the line is rejected
    assert(!got.exists(r => r._1 == "b" && r._2 == 8L))
    // c stayed under budget: everything admitted
    assert(got.count(_._1 == "c") == 2)
  }

  test("quotaFillStream: per-domain budget overrides, default for the rest") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(String, Long, Long)]
    val out = Sampling.quotaFillStream(in.toDF().toDF("dom", "key", "n"),
      col("dom"), col("key"), col("n"), budget = 100L,
      budgets = Map("small" -> 10L, "big" -> 1000L))
    val q = out.writeStream.format("memory").queryName("quota_map_test")
      .outputMode("append").start()
    try {
      in.addData(("small", 1L, 10L), ("small", 2L, 10L),
        ("big", 3L, 500L), ("big", 4L, 500L),
        ("other", 5L, 90L), ("other", 6L, 90L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("quota_map_test")
      .select("dom", "key").as[(String, Long)].collect().toSet
    // small: 10-budget admits only key 1; big: 1000 admits both;
    // other: default 100 admits key 5 and the line-crossing key 6
    assert(got == Set(("small", 1L), ("big", 3L), ("big", 4L),
      ("other", 5L), ("other", 6L)), s"got $got")
  }

  test("quotaFillStream: zero budget admits nothing; guard rejects negatives") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(String, Long, Long)]
    val out = Sampling.quotaFillStream(in.toDF().toDF("dom", "key", "n"),
      col("dom"), col("key"), col("n"), 0L)
    val q = out.writeStream.format("memory").queryName("quota_zero_test")
      .outputMode("append").start()
    try { in.addData(("a", 1L, 5L)); q.processAllAvailable() } finally q.stop()
    assert(spark.table("quota_zero_test").count() == 0)
    assertThrows[IllegalArgumentException] {
      Sampling.quotaFillStream(Seq(("a", 1L, 1L)).toDF("dom", "key", "n"),
        col("dom"), col("key"), col("n"), -1L)
    }
  }
  test("hashedBow: multiplicity preserved, same token same bucket, power-of-two guard") {
    val docs = Seq(
      (1L, "spark spark scan"),
      (2L, "spark"),
      (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.hashedBow(docs, col("doc_id"), col("text"), buckets = 16)
      .as[(Long, Long, Long)].collect().toSeq
    // empty doc emits nothing; counts carry multiplicity
    assert(out.forall { case (_, b, _) => b >= 0 && b < 16 })
    val byDoc = out.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(byDoc == Map(1L -> 3L, 2L -> 1L))
    // "spark" hashes identically wherever it appears
    val sparkBucketDoc2 = out.filter(_._1 == 2L).map(_._2).head
    assert(out.filter(_._1 == 1L).map(_._2).contains(sparkBucketDoc2))
    val doc1SparkCnt = out.filter(r => r._1 == 1L && r._2 == sparkBucketDoc2)
      .map(_._3).sum
    assert(doc1SparkCnt >= 2L) // the two sparks share their bucket
    assertThrows[IllegalArgumentException] {
      TextAnalysis.hashedBow(docs, col("doc_id"), col("text"), buckets = 100)
    }
  }
  test("coordinatedSample: join of samples == sample of join; monotone ramp-up") {
    val a = spark.range(2000).select(col("id").as("k"), (col("id") * 2).as("av"))
    val b = spark.range(0, 4000).select((col("id") % 2000).as("k"), col("id").as("bv"))
    val sA = Sampling.coordinatedSample(a, col("k"), 64, 8)
    val sB = Sampling.coordinatedSample(b, col("k"), 64, 8)
    val joinOfSamples = sA.join(sB, "k")
      .select($"k", $"av", $"bv").as[(Long, Long, Long)].collect().toSet
    val sampleOfJoin = Sampling.coordinatedSample(
        a.join(b, "k"), col("k"), 64, 8)
      .select($"k", $"av", $"bv").as[(Long, Long, Long)].collect().toSet
    assert(joinOfSamples == sampleOfJoin)
    assert(joinOfSamples.nonEmpty)
    // a key either survives with ALL its rows or vanishes entirely
    val keptKeys = sB.select($"k").distinct().as[Long].collect().toSet
    val perKey = b.as[(Long, Long)].collect().groupBy(_._1)
    assert(sB.count() == keptKeys.toSeq.map(k => perKey(k).length.toLong).sum)
    // growing keep only ADDS keys
    val wider = Sampling.coordinatedSample(a, col("k"), 64, 16)
      .select($"k").as[Long].collect().toSet
    assert(sA.select($"k").as[Long].collect().toSet.subsetOf(wider))
    assertThrows[IllegalArgumentException] {
      Sampling.coordinatedSample(a, col("k"), 100, 8)
    }
  }
  test("jaccardJoin: exact pairs == brute force at several thresholds; prefix filter never drops") {
    val rnd = new scala.util.Random(23)
    val vocab = Seq.tabulate(40)(i => s"w$i")
    val random = Seq.tabulate(60) { i =>
      val n = 3 + rnd.nextInt(8)
      (i.toLong, rnd.shuffle(vocab).take(n).mkString(" "))
    }
    // near-duplicate block: shared cores with 0-2 token edits, the
    // regime where the length and positional prefix filters sit exactly
    // on their keep/drop boundaries — a filter that over-prunes by one
    // rank or one token shows up here as a missing pair
    val nearDups = (0 until 20).map { i =>
      val core = rnd.shuffle(vocab).take(6)
      val edited = core.drop(rnd.nextInt(3)) ++ rnd.shuffle(vocab).take(rnd.nextInt(3))
      Seq((100L + 2 * i, core.mkString(" ")),
        (101L + 2 * i, edited.distinct.mkString(" ")))
    }.flatten
    val docs = random ++ nearDups
    val df = docs.toDF("id", "text")
    val sets = docs.map { case (i, t) => i -> t.split(" ").toSet }.toMap
    for (t <- Seq(0.3, 0.4, 0.5, 0.8)) {
      val got = Dedup.jaccardJoin(df, col("id"), split(col("text"), " "), t)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      val t1e4 = math.round(t * 10000)
      val want = (for {
        a <- sets.keys; b <- sets.keys if a < b
        c = (sets(a) & sets(b)).size
        if c.toLong * 10000 >= t1e4 * (sets(a).size + sets(b).size - c)
      } yield (a, b)).toSet
      assert(got == want, s"threshold $t")
    }
    // inter/n_a/n_b are the exact set cardinalities
    val row = Dedup.jaccardJoin(df, col("id"), split(col("text"), " "), 0.3)
      .as[(Long, Long, Long, Long, Long)].collect().headOption
    row.foreach { case (a, b, c, na, nb) =>
      assert(c == (sets(a) & sets(b)).size && na == sets(a).size && nb == sets(b).size)
    }
    assertThrows[IllegalArgumentException] {
      Dedup.jaccardJoin(df, col("id"), split(col("text"), " "), 0.0)
    }
  }

  test("chiSquareTokens: exact 2x2 chi-square ppm, positive associations only") {
    // 6 docs, 2 labels; 'alpha' is a perfect discriminator of label a,
    // 'common' appears everywhere (r = N, filtered), 'beta' appears in
    // one doc per label (no association, diff = 0, excluded), 'neg'
    // appears ONLY in label b docs (negative association for a)
    val docs = Seq(
      (1L, "a", "alpha common beta"), (2L, "a", "alpha common"),
      (3L, "a", "alpha common"),
      (4L, "b", "common beta neg"), (5L, "b", "common neg"),
      (6L, "b", "common neg")).toDF("id", "lab", "text")
    val got = TextAnalysis.chiSquareTokens(docs, col("id"), col("text"),
        col("lab"), topK = 5, minDocs = 1L)
      .select(col("label"), col("token"), col("n_docs"), col("chi2_ppm"), col("rnk"))
      .as[(String, String, Long, Long, Long)].collect().toSet
    // alpha vs a: O11=3 O10=0 O01=0 O00=3, chi2 = 6*(9-0)^2/(3*3*3*3) = 6
    // exactly; same table for neg vs b
    assert(got == Set(
      ("a", "alpha", 3L, 6000000L, 1L),
      ("b", "neg", 3L, 6000000L, 1L)))
  }

  test("chiSquareTokens: minDocs floor, deterministic tie-break, topK cut") {
    // two tokens with IDENTICAL tables tie on chi2 — rank must break by
    // token ascending, deterministically
    val docs = Seq(
      (1L, "a", "x1 x2"), (2L, "a", "x1 x2"), (3L, "a", "rare"),
      (4L, "b", "z"), (5L, "b", "z"), (6L, "b", "z")).toDF("id", "lab", "text")
    val all = TextAnalysis.chiSquareTokens(docs, col("id"), col("text"),
        col("lab"), topK = 1, minDocs = 2L)
      .select(col("label"), col("token"), col("rnk"))
      .as[(String, String, Long)].collect().toSet
    // 'rare' (1 doc) is under minDocs; x1/x2 tie for label a -> x1 wins
    // rank 1 and topK=1 cuts x2; z wins label b
    assert(all == Set(("a", "x1", 1L), ("b", "z", 1L)))
    assertThrows[IllegalArgumentException] {
      TextAnalysis.chiSquareTokens(docs, col("id"), col("text"), col("lab"),
        topK = 0)
    }
  }
}
