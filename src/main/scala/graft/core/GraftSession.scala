package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Replaces the reference's JobManager/TaskManager bootstrap
  * (reference: jobmanager/api.py, taskmanager/task_executor.py) — on Spark
  * the cluster runtime, scheduling, shuffle transport, checkpointing and
  * state backends are provided by the platform, so "starting the engine"
  * is just configuring a SparkSession. [[local]] is the one place that
  * builds it: every main, the benchmark and the tests start here, so
  * the session that is benched and oracle-checked is the one tested.
  *
  * Scale notes (100 TB target):
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  *    replace any hand-tuned parallelism (reference: scheduler.py bin-packing).
  *  - shuffle.partitions defaults to the local core count here; on a real
  *    cluster this should be ~2-3x total executor cores (or left to AQE's
  *    coalescing with a high initial value).
  *  - Timezone pinned to UTC so event-time window math is stable across
  *    environments.
  *  - Fixed per-stage buffers (broadcast blocks, Tungsten pages) are
  *    sized to the data moved, not to the heap: each stage and task
  *    reserves one whole buffer however few rows it holds, and at small
  *    batches that headroom was a third of all allocation. A cluster
  *    with GB-sized broadcasts or multi-GB aggregation tasks should
  *    raise them again.
  */
object GraftSession {

  /** STATIC conf (build-time only — ignored once the first session
    * exists): the default 100-entry generated-class cache thrashes in
    * any process running >100 distinct plans; a 160-query bench
    * recompiled generated classes on every repeat late in the run
    * (measured: 2-3x inflated medians for whichever queries landed
    * after the cache filled; raising it took the suite 215->173 s).
    * [[local]] is the only session builder, so it is the only setter.
    */
  private val CodegenCacheMaxEntries = "4000"

  /** Spark 4.x class name (the 3.x one lived one package up). See the
    * config comment in [[local]] for why the FileSystem-based manager
    * is the right one here.
    */
  val CheckpointFileManagerClass: String =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  /** Default parallelism knob; mirrors `Config.PARALLELISM`
    * (reference: common/config.py) but resolved from the host.
    */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cores: Int = defaultCores, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      // graft sessions ship with the kernel SQL functions registered
      // (simhash64, minhash_signature, word_shingles, cosine_similarity,
      // rolling_fingerprint); externally-built sessions can opt in via
      // spark.sql.extensions=graft.functions.GraftExtensions
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheMaxEntries)
      // index lookups push `col IN (query vocabulary)` into parquet;
      // past this threshold Spark silently degrades the pushed filter
      // to [min, max] — which spans the whole key space for a
      // scattered vocabulary and decodes entire postings tables
      // (measured 2.3x on the trigram index's 188-gram read). Query
      // vocabularies are bounded (maxQueryTerms/maxQueryGrams), so a
      // generous literal count is safe.
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1000")
      // Streaming checkpoint logs through the FileSystem API, not
      // FileContext: without the native Hadoop library (this image has
      // none), FileContext's rename/create path FORKS A SHELL per
      // operation (readLink + chmod via Hadoop Shell.execCommand —
      // confirmed by stack sampling under walCommit), costing ~35-45 ms
      // per offsets/commits log write and per state-store delta commit.
      // The FileSystem manager does plain java renames: measured
      // walCommit 46 -> 9 ms, commitOffsets 46 -> 9 ms on the
      // MemoryStream floor probe. Both managers implement the same
      // rename-based atomic contract; on HDFS either is correct, and on
      // object stores Spark ignores this knob's benefit anyway.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        CheckpointFileManagerClass)
      .config("spark.sql.session.timeZone", "UTC")
      // older testdata generations wrote events.parquet as TIMESTAMP(NANOS),
      // which Spark's reader rejects without this conf; harmless for the
      // current timestamp[us] generation (Tables.events adapts per schema).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Fixed per-stage buffers sized to the data moved, not to Spark's
      // cluster defaults. Both are SparkContext confs: like
      // CodegenCacheMaxEntries they apply only when a JVM builds its
      // first context (perfbench restarts the session every round, so
      // they apply there).
      // TorrentBroadcast.blockifyObject allocates at least one whole
      // block per broadcast, and every stage broadcasts its task
      // binary: at the 4 MB default that was ~760 MB of a 4.3 GB
      // batch-mix pass (626 MB for 147 task binaries on the
      // dag-scheduler thread, 133 MB for broadcast joins) and 914 MB
      // of corpus-admit. Task binaries and the broadcast build sides
      // here are KBs to a few MB, so 256 KB blocks waste little.
      .config("spark.broadcast.blockSize", "256k")
      // Every hash-aggregate fast map, BytesToBytesMap and sorter takes
      // one whole Tungsten page up front, even for a few rows; Spark
      // sizes the page from heap / cores (16 MB at -Xmx3g local[4],
      // 64 MB at -Xmx8g local[4]), ~680 MB of the batch-mix pass.
      // 1 MB is safe: the page table holds 8192 pages, so one task can
      // still hold 8 GB of pages (at least the whole heap of every
      // local JVM here: 3 GB bench, <= 8 GB suite), and a record larger
      // than a page gets a page of its own size (MemoryConsumer.
      // allocatePage takes max(pageSize, required)).
      .config("spark.buffer.pageSize", "1m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** RocksDB keyed-state backend — the reference's
    * `Config.STATE_BACKEND=rocksdb` (reference: common/config.py:25,
    * taskmanager/state/rocksdb_backend.py:20-165, ~150 lines of manual
    * pickling/snapshotting) is one config key on Spark; state snapshots,
    * changelog checkpointing and recovery are native. Call before starting
    * stateful streaming queries. The default (in-memory HDFSBackedStateStore)
    * matches the reference's InMemoryStateBackend.
    */
  def useRocksDBStateStore(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark
  }

  /** Tune the session for a latency-sensitive STATEFUL streaming query
    * whose steady-state key cardinality is roughly `distinctKeys`.
    *
    * Streaming disables AQE, and every shuffle partition of a stateful
    * query is a state-store instance committed per micro-batch — so a
    * partition count sized for batch data volume (core count, or a
    * cluster's 2-3x cores) pays per-batch state-store overhead on mostly
    * empty partitions. Measured on this container (50-key running agg,
    * update mode): ~630 ms/batch at 32 partitions vs ~260 ms at 8. The
    * rule here: enough partitions that each holds ~8 keys, capped at core
    * count, so small-cardinality jobs get the tuned floor by default.
    *
    * Call BEFORE starting the query — Spark pins a stateful query's
    * partitioning in its checkpoint at first start, so a later conf change
    * does not apply to an existing checkpoint.
    */
  def forStreaming(spark: SparkSession, distinctKeys: Int): SparkSession = {
    require(distinctKeys > 0, "distinctKeys must be positive")
    // distinctKeys / 8 + 1 (not (k + 7) / 8, which overflows Int near MaxValue)
    val parts = math.max(1, math.min(defaultCores, distinctKeys / 8 + (if (distinctKeys % 8 == 0) 0 else 1)))
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    spark
  }
}
