package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._
import graft.sources.Tables
import graft.EntryHelpers._

/** [[SparkEntry.queries]] chunk 3/4 (q200_cusum_stream … q137_decon_screen_stream),
  * in the contract's declaration order — split out of SparkEntry purely
  * for navigability; SparkEntry concatenates the chunks unchanged.
  */
private[graft] object EntryQueriesC {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q200_cusum_stream" -> ((s, d) => {
      // CONTINUOUS CUSUM — Timeseries.cusumStream: q195's drift alarm
      // live. Per-key state (s, max, breaches, first breach) persists
      // in a SwapStore; each event-time-ordered micro-batch folds in
      // via the same clamped recurrence (batch events sorted, fold
      // seeded from the stored accumulator), exactly-once under the
      // ledger. The store starts COLD (empty state) and all events
      // arrive in 6 contiguous event-time slices, so the grown state
      // must equal q195's one-shot scan — its oracle gates the
      // lifecycle.
      val store = Fixtures.once("q200_store", d) {
        val p = graft.core.TempDirs.create("graft_q200_store") + "/cusum"
        val ev = Tables(s, d).events.select(col("user_id"), col("ts"),
          col("event_id"), (dec(col("value")) * 100).cast("long").as("cents"))
        Timeseries.initCusumStore(ev.where(lit(false)), Seq("user_id"),
          col("ts"), col("event_id"), col("cents"), 5000L, 20000L, p)
        withShufflePartitions(s, 8) {
          val stage = screenReplayDir(s"$d#q200", ev, unix_micros(col("ts")), 6)
          val stream = graft.streaming.Replay.orderedStream(s, stage, ev.schema)
          val q = Timeseries.cusumStream(s, stream, Seq("user_id"),
            col("ts"), col("event_id"), col("cents"), 5000L, 20000L, p,
            ephemeralOk = true)
          try q.processAllAvailable() finally q.stop()
        }
        p
      }
      Timeseries.readCusumStore(s, store)
        .select(col("user_id"), col("n"), col("max_cusum"),
          col("n_breach"), col("first_breach_us"))
    }),
    "q224_mad_monitor_stream" -> ((s, d) => {
      // CONTINUOUS ROBUST OUTLIER MONITOR — Quantiles.madMonitorStream:
      // q186's median/MAD screen live. The per-type (median, MAD)
      // bounds come from the even-day REFERENCE slice (a standing
      // batch profile, SwapStore-persisted — q132's baseline posture;
      // fixed between rebuilds, never dragged along by the drift being
      // hunted); the odd-day events stream through in 3 slices and
      // each micro-batch's |x − median| > 3·MAD flags fold into
      // per-type counters under the ledger (exactly-once; pure sums,
      // so no ordered-delivery contract). The profile broadcasts onto
      // each batch scan — per-trigger work is batch-sized, zero corpus
      // shuffle. Oracle replays the profile with q186's rank
      // convention, then the same flags over the odd-day union.
      val store = Fixtures.once("q224_store", d) {
        val p = graft.core.TempDirs.create("graft_q224_store") + "/mad"
        val ev = Tables(s, d).events.select(col("event_type"),
          (dayBucket(col("ts")) % 2).as("par"),
          col("ts"), (dec(col("value")) * 100).cast("long").as("cents"))
        Quantiles.initMadMonitor(
          Quantiles.madProfile(ev.where(col("par") === 0),
            Seq("event_type"), col("cents")), p)
        withShufflePartitions(s, 8) {
          val odd = ev.where(col("par") === 1)
          val stage = screenReplayDir(s"$d#q224", odd, unix_micros(col("ts")), 3)
          val stream = graft.streaming.Replay.orderedStream(s, stage, odd.schema)
          val q = Quantiles.madMonitorStream(s, stream, Seq("event_type"),
            col("cents"), p, ephemeralOk = true)
          try q.processAllAvailable() finally q.stop()
        }
        p
      }
      Quantiles.readMadMonitor(s, store)
        .select(col("event_type"), col("median"), col("mad"),
          col("n_seen"), col("n_flagged"))
    }),
    "q199_winsorize" -> ((s, d) =>
      // PER-GROUP WINSORIZATION — Quantiles.winsorize: every lineitem's
      // price cents clamped into its supplier's exact [p5, p95] band —
      // robust feature normalization before training, tails capped not
      // dropped. Both bounds from the shared ≤6-scan bisection passes,
      // one group-keyed join against the group-sized bounds table.
      // Oracle replays q121's inclusive-rank percentiles + the clamp.
      Quantiles.winsorize(
        ScanLayout.fanOut(Tables(s, d).lineitem
          .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
            col("l_extendedprice"))).select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"), col("l_suppkey"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("cents")),
        Seq("l_suppkey"), col("cents"), 5, 95, out = "cents_w")),
    "q196_ewma_fold" -> ((s, d) =>
      // ORDERED SEQUENTIAL FOLD — Timeseries.ewmaHalf: integer EWMA
      // s_i = (s_{i-1} + x_i) div 2 per user in (ts, event_id) order.
      // Unlike q195's CUSUM there is NO closed scan form (each step
      // truncates), so this gates the foldOrdered primitive: one keyed
      // exchange into a sorted collect, the fold runs in a codegen'd
      // higher-order aggregate. Oracle: DuckDB list_reduce over the
      // same ordered list — both sides fold left-to-right in exact
      // integer cents.
      Timeseries.ewmaHalf(Tables(s, d).events, Seq("user_id"),
        col("ts"), col("event_id"), (dec(col("value")) * 100).cast("long"))),
    "q195_cusum" -> ((s, d) =>
      // CUSUM DRIFT ALARM — Timeseries.cusum: the clamped sequential
      // recurrence s_i = max(0, s_{i-1} + (x_i - target)) per user,
      // computed as a SCAN (running sum minus clamped running min of
      // it) — two windows over one per-key sort, exact integer cents,
      // no iteration. Reports max excursion, breach count, first
      // breach time. Oracle replays the same closed form.
      Timeseries.cusum(Tables(s, d).events, Seq("user_id"),
        col("ts"), col("event_id"),
        (dec(col("value")) * 100).cast("long"),
        target = 5000L, threshold = 20000L)),
    "q194_k_anonymize" -> ((s, d) =>
      // K-ANONYMITY RELEASE GATE — Privacy.kAnonymize: each customer
      // takes the finest generalization level (nation+segment+balance
      // bucket → nation+segment → segment) whose quasi group reaches
      // k=8; outliers failing every level suppress. ONE corpus shuffle
      // to distinct quasi cells, level counts roll up from the cell
      // frame, one join back — not a shuffle per ladder rung. Oracle
      // replays the three counts and the same CASE pick.
      Privacy.kAnonymize(Tables(s, d).customer,
        Seq("nation" -> col("c_nationkey"),
          "seg" -> col("c_mktsegment"),
          "bal" -> floor(col("c_acctbal") / 2000.0).cast("long")),
        Seq(Seq("nation", "seg", "bal"), Seq("nation", "seg"), Seq("seg")),
        k = 8)
        .select(col("c_custkey"), col("lvl"), col("grp_n"))),
    "q225_l_diversity" -> ((s, d) =>
      // L-DIVERSITY RELEASE GATE — Privacy.lDiversify: q194's ladder
      // with the homogeneity attack closed. k-anonymity bounds group
      // SIZE only — a k-big cell whose members all share one market
      // segment still discloses it; distinct l-diversity additionally
      // requires ≥ l distinct sensitive values, so each customer takes
      // the finest level (nation+balance bucket → nation) whose group
      // reaches BOTH k=8 and l=3 segments, homogeneous cells escalate
      // like too-small ones, and rows failing every level suppress.
      // Same one-shuffle cell-frame ladder as q194, cells at
      // (quasi..., sensitive) grain. Oracle replays both floors and
      // the finest-first CASE pick.
      Privacy.lDiversify(Tables(s, d).customer,
        Seq("nation" -> col("c_nationkey"),
          "bal" -> floor(col("c_acctbal") / 2000.0).cast("long")),
        col("c_mktsegment"),
        Seq(Seq("nation", "bal"), Seq("nation")),
        k = 8, l = 3)
        .select(col("c_custkey"), col("lvl"), col("grp_n"), col("grp_l"))),
    "q229_rl_diversity" -> ((s, d) =>
      // RECURSIVE (c,l)-DIVERSITY — Privacy.rlDiversify: q225's floor
      // strengthened against SKEW (Machanavajjhala et al.): l distinct
      // segments in a cell can still be 99% one segment; r(2,4)
      // additionally requires the top count to stay under c=2 times
      // the rank->=4 tail of the cell's descending count vector —
      // exact integer arithmetic, so the oracle replays it verbatim
      // with window functions. Same one-shuffle cell-frame ladder;
      // each level adds one cell-sized window. Fewer than l distinct
      // values empties the tail, so r(c,l) subsumes q225's floor.
      Privacy.rlDiversify(Tables(s, d).customer,
        Seq("nation" -> col("c_nationkey"),
          "bal" -> floor(col("c_acctbal") / 2000.0).cast("long")),
        col("c_mktsegment"),
        Seq(Seq("nation", "bal"), Seq("nation")),
        k = 10, l = 4, c = 2)
        .select(col("c_custkey"), col("lvl"), col("grp_n"),
          col("grp_s1"), col("grp_tail"))),
    "q239_t_closeness" -> ((s, d) =>
      // T-CLOSENESS — Privacy.tCloseness: the ladder's last standard
      // rung. Diversity (q225/q229) bounds how many sensitive values a
      // cell holds and how skewed they are; t-closeness bounds how far
      // the cell's DISTRIBUTION drifts from the global one — here each
      // customer's balance-thousand bucket (an ordered domain), where
      // the Earth Mover's Distance is the exact prefix-sum closed form
      // Σ|prefix(cnt·N − g·ns)| / ((m−1)·ns·N). Integer counts + the
      // rational t = 3/20 clear every denominator, so the test and the
      // reported ⌊10⁶·EMD⌋ are exact and the oracle replays them
      // verbatim with window prefix sums. One cell-frame shuffle plus
      // a (groups × domain) window per level, never row-sized.
      Privacy.tCloseness(Tables(s, d).customer,
        Seq("nation" -> col("c_nationkey"), "seg" -> col("c_mktsegment")),
        floor(col("c_acctbal") / 1000.0).cast("long"),
        Seq(Seq("nation", "seg"), Seq("seg")),
        k = 10, tNum = 3, tDen = 20)
        .select(col("c_custkey"), col("lvl"), col("grp_n"), col("emd_ppm"))),
    "q245_t_closeness_categorical" -> ((s, d) =>
      // CATEGORICAL T-CLOSENESS — Privacy.tClosenessCategorical: the
      // paper's other distance. With no order on the sensitive domain
      // (market segment), EMD degenerates to the variational distance
      // ½·Σ|p−q|; integer counts + rational t clear denominators as in
      // q239, and a group's ABSENT domain values contribute their full
      // global mass WITHOUT a (groups × domain) cross join — one
      // partial aggregate cheaper per level than the ordered form.
      // Oracle replays the scaled TVD and the ppm floor division.
      Privacy.tClosenessCategorical(Tables(s, d).customer,
        Seq("nation" -> col("c_nationkey"),
          "bal" -> floor(col("c_acctbal") / 2000.0).cast("long")),
        col("c_mktsegment"),
        Seq(Seq("nation", "bal"), Seq("nation")),
        k = 8, tNum = 1, tDen = 5)
        .select(col("c_custkey"), col("lvl"), col("grp_n"), col("tvd_ppm"))),
    "q193_fuzzy_vocab_join" -> ((s, d) => {
      // EDIT-DISTANCE SELF-JOIN — Fuzzy.editSelfJoin at k=2 over the
      // corpus+catalog vocabulary: every unordered word pair within
      // levenshtein 2, via FastSS deletion-neighborhood candidates +
      // exact verify, NEVER the |V|² cross join the oracle runs. The
      // typo-tolerant linkage primitive (vocab canonicalization,
      // entity-name near-miss screens).
      val p = Tables(s, d).part
      val words = p.select(explode(split(col("p_name"), " ")).as("w"))
        .unionByName(p.select(explode(split(col("p_type"), " ")).as("w")))
        .unionByName(p.select(explode(split(col("p_brand"), " ")).as("w")))
        .unionByName(Tables(s, d).documents
          .select(explode(split(lower(col("text")), " ")).as("w")))
        .where(length(col("w")) > 0).select(lower(col("w")).as("w"))
      Fuzzy.editSelfJoin(words, col("w"), maxDistance = 2)
    }),
    "q198_skyline_stream" -> ((s, d) => {
      // CONTINUOUS FRONTIER MAINTENANCE — Frontier.skylineStream:
      // skyline distributes over union (SKY(A∪B) = SKY(SKY(A)∪B)) and
      // dominated rows can never rejoin, so the standing state IS the
      // frontier — per-trigger work is frontier+batch-sized no matter
      // how many rows streamed through. Store seeds from the even
      // partkeys, the odd half arrives in 4 ledgered micro-batches;
      // the grown frontier must equal q192's one-shot skyline, so its
      // NOT EXISTS oracle gates the whole lifecycle.
      val store = Fixtures.once("q198_store", d) {
        val p = graft.core.TempDirs.create("graft_q198_store") + "/sky"
        val rows = Tables(s, d).part.select(col("p_brand"), col("p_partkey"),
          col("p_size"), dec(col("p_retailprice")).as("price"))
        Frontier.initSkylineStore(rows.where(col("p_partkey") % 2 === 0),
          Seq("p_brand"), "p_size", "price", p)
        withShufflePartitions(s, 8) {
          val stage = screenReplayDir(s"$d#q198",
            rows.where(col("p_partkey") % 2 === 1), col("p_partkey"), 4)
          val stream = graft.streaming.Replay.orderedStream(s, stage, rows.schema)
          val q = Frontier.skylineStream(s, stream,
            Seq("p_brand"), "p_size", "price", p, ephemeralOk = true)
          try q.processAllAvailable() finally q.stop()
        }
        p
      }
      Frontier.readSkylineStore(s, store)
        .select(col("p_brand"), col("p_partkey"), col("p_size"),
          col("price").cast("double").as("price"))
    }),
    "q192_skyline" -> ((s, d) =>
      // PARETO FRONTIER per brand — Frontier.skyline2d: the parts not
      // dominated on (size max, price min) within their brand. NOT the
      // O(n²) dominance self-join: one hash aggregate to (brand, size)
      // minima, a per-brand running min over that aggregate-sized
      // staircase, one broadcast join back. Price compares in
      // DECIMAL(18,2) on both sides (exact, per the oracle-parity
      // conventions). Oracle is the naive NOT EXISTS dominance filter.
      Frontier.skyline2d(
        Tables(s, d).part.select(col("p_brand"), col("p_partkey"),
          col("p_size"), dec(col("p_retailprice")).as("price")),
        Seq("p_brand"), "p_size", "price")
        .withColumn("price", col("price").cast("double"))),
    "q107_retention" -> ((s, d) =>
      // weekly cohort retention: users cohorted by first-signup week,
      // counted active in each later week — the retention triangle.
      // Both per-user passes aggregate on user_id, so the lineup join
      // reuses their partitioning (no third corpus exchange)
      Cohorts.retention(Tables(s, d).events, col("user_id"),
        col("event_type"), col("ts"), anchorType = "signup")),
    "q118_retention_stream" -> ((s, d) => {
      // q107's STREAMING twin made oracle-visible: replay events as an
      // EVENT-TIME-ORDERED micro-batched file stream (8 contiguous ms
      // slices, strictly ascending file mtimes — FileStreamSource
      // processes oldest-first, so each user's earliest signup arrives
      // in the earliest batch containing any of their signups and the
      // pinned cohort equals the batch operator's global first-signup
      // week). By retentionStream's parity contract (CohortsSpec) the
      // final complete-mode triangle equals Cohorts.retention, so the
      // oracle IS q107's.
      // user-count-sized state (~1.5k keys at sf0.1): pin the streaming
      // shuffle small (forStreaming rule), restore after
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val out = Cohorts.retentionStream(eventsReplayStream(s, d),
          col("user_id"), col("event_type"), col("ts"), anchorType = "signup")
        val q = out.writeStream.format("memory").queryName("graft_q118_gate")
          .outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table("graft_q118_gate")
    }),
    "q119_funnel_stream" -> ((s, d) => {
      // q106's STREAMING twin made oracle-visible: the per-user state
      // machine over the same event-time-ordered replay as q118
      // (FunnelSpec's in-order parity regime). The machine only ever
      // ADVANCES, so the final snapshot needs no trigger ordering:
      // max(steps_completed) per user over the update log, plus the
      // users whose machine never left step 0 (they never emit) filled
      // in from one static read of the replay input. Oracle = q106's.
      val steps = Seq("view", "click", "purchase")
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val out = Funnel.stepsStream(eventsReplayStream(s, d),
          col("user_id"), col("event_type"), col("ts"), steps)
        val q = out.writeStream.format("memory").queryName("graft_q119_updates")
          .outputMode("update").start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      val advanced = s.table("graft_q119_updates")
        .groupBy(col("user_id"))
        .agg(max(col("steps_completed")).as("steps_completed"))
      val entered = s.read.parquet(s"${eventsReplayDir(s, d)}/in")
        .where(col("event_type").isin(steps: _*))
        .select(col("user_id")).distinct()
      entered.join(advanced, Seq("user_id"), "left")
        .select(col("user_id"),
          coalesce(col("steps_completed"), lit(0L)).as("steps_completed"),
          (coalesce(col("steps_completed"), lit(0L)) === steps.size).as("converted"))
    }),
    "q122_window_stream" -> ((s, d) => {
      // q21's STREAMING twin made oracle-visible: watermarked tumbling
      // windows in APPEND output mode — each (hour, event_type) window
      // emits exactly once, when the watermark passes its end (the
      // fire-on-watermark path, reference stateful.py:198-247; q21 itself
      // covers the window MATH, this covers the FIRING). The replay
      // carries a far-future sentinel event that advances the final
      // watermark so the last real windows flush (processAllAvailable
      // is not end-of-stream). The sentinel guard is a predicate ON ts
      // (see sentinelCutoff) — a filter on any other column would be
      // pushed below the EventTimeWatermark node and drop the sentinel
      // before its event time registers. Delivery is event-time-ordered
      // and the delay is 0 s, so no real row is ever late-dropped — the
      // append output set equals the batch tumbling aggregate and the
      // oracle is q21's. State is ~720 hourly windows × 5 types: pin
      // the streaming shuffle small (forStreaming rule), restore after.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val stream = graft.streaming.Replay.orderedStream(s,
          sentinelReplayDir(s, d), Tables(s, d).events.select(replayCols: _*).schema)
        val out = stream.withWatermark("ts", "0 seconds")
          .where(col("ts") < sentinelCutoff)
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            sum(dec(col("value"))).cast("double").as("sum_v"))
          .select(unix_millis(col("window.start")).as("win_start_ms"),
            col("event_type"), col("cnt"), col("sum_v"))
        val q = out.writeStream.format("memory").queryName("graft_q122_windows")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table("graft_q122_windows")
    }),
    "q128_sliding_stream" -> ((s, d) => {
      // q22's STREAMING twin made oracle-visible — completes the window
      // family's streaming oracles (q122 tumbling, q126 session, this
      // sliding): every event lands in 3 overlapping hourly windows
      // (20-minute slide), each firing once when the watermark passes
      // its end; same sentinel flush and ts-predicate guard as q122.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val stream = graft.streaming.Replay.orderedStream(s,
          sentinelReplayDir(s, d), Tables(s, d).events.select(replayCols: _*).schema)
        val out = stream.withWatermark("ts", "0 seconds")
          .where(col("ts") < sentinelCutoff)
          .groupBy(window(col("ts"), "1 hour", "20 minutes"), col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            sum(dec(col("value"))).cast("double").as("sum_v"))
          .select(unix_millis(col("window.start")).as("win_start_ms"),
            col("event_type"), col("cnt"), col("sum_v"))
        val q = out.writeStream.format("memory").queryName("graft_q128_sliding")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table("graft_q128_sliding")
    }),
    "q126_session_stream" -> ((s, d) => {
      // q23's STREAMING twin made oracle-visible: per-user session
      // windows in append mode — the one windowed path whose state
      // MERGES (adjacent sessions coalesce when a bridging event
      // arrives), unlike q122's fixed tumbling buckets. Sessions close
      // when the watermark passes session end + gap; the same
      // far-future sentinel flushes the final open sessions, guarded by
      // the same ts predicate (pushdown note at sentinelCutoff). With
      // event-time-ordered delivery and delay 0 no event is late, so
      // the append output equals the batch session aggregate — oracle
      // = q23's.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val stream = graft.streaming.Replay.orderedStream(s,
          sentinelReplayDir(s, d), Tables(s, d).events.select(replayCols: _*).schema)
          // ms truncation before the watermark — q23's precision note;
          // slices are contiguous ms ranges, so truncation preserves the
          // event-time-ordered delivery regime
          .withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
        val out = stream.withWatermark("ts", "0 seconds")
          .where(col("ts") < sentinelCutoff)
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(unix_millis(col("session_window.start")).as("session_start_ms"),
            col("user_id"), col("n_events"))
        val q = out.writeStream.format("memory").queryName("graft_q126_sessions")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table("graft_q126_sessions")
    }),
    "q123_running_agg_stream" -> ((s, d) => {
      // q08's STREAMING twin made oracle-visible: the reference's
      // AggregateOperator emits a refreshed per-key value after every
      // input (stateful.py:265-342) — on Spark that is an UPDATE-mode
      // streaming aggregation whose (min, count) state the aggregate
      // itself maintains incrementally; no custom state op. The memory
      // sink keeps the full update LOG; the final snapshot is recovered
      // ordering-free: n only grows, so max(n) is each key's last
      // update, and the running min's final value is the min over the
      // log. Stream == batch on ANY delivery order — unlike
      // q118/q119 this twin needs no in-order regime, which is the
      // point: a commutative running aggregate is the easy case, and
      // the gate shows it. Oracle = q08's.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val out = graft.streaming.StreamOps.runningAgg(eventsReplayStream(s, d),
          Seq(col("user_id"), col("event_type")),
          Seq(min(col("event_id")).as("first_event_id"), count(lit(1)).as("n")))
        val q = out.writeStream.format("memory").queryName("graft_q123_updates")
          .outputMode("update").start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table("graft_q123_updates").groupBy(col("user_id"), col("event_type"))
        .agg(min(col("first_event_id")).as("first_event_id"), max(col("n")).as("n"))
    }),
    "q124_interval_join_stream" -> ((s, d) => {
      // q24's STREAMING twin made oracle-visible: a real stream-stream
      // interval inner join — the reference's flagship stateful operator
      // (JoinOperator, stateful.py:345-465: per-key buffers matched
      // within ±bound, evicted behind the watermark). Both sides are
      // watermarked and the range condition is on the raw event-time
      // columns, so Spark derives the state-eviction bounds the
      // reference computes by hand. An INNER join's output set is
      // delivery-order independent: eviction is provably conservative
      // (only rows no future input can match are dropped), so the
      // streamed result equals the batch interval join and the oracle
      // is q24's. The two sides are independent readStreams over the
      // same ordered slices — each trigger feeds one file per side.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        // 2 files per trigger, not 1: the in-order-delivery regime is
        // irrelevant to an inner join's output set, so fewer triggers
        // buy back per-batch state-commit overhead (each trigger pays
        // two state stores × 8 partitions) while 4 micro-batches still
        // exercise cross-batch join state
        def side() = s.readStream
          .schema(Tables(s, d).events.select(replayCols: _*).schema)
          .option("maxFilesPerTrigger", 2)
          .parquet(s"${eventsReplayDir(s, d)}/in")
        val p = side()
          .where(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"),
            col("user_id").as("p_user"), col("ts").as("p_ts"))
        val c = side()
          .where(col("event_type") === "click")
          .select(col("event_id").as("click_id"),
            col("user_id").as("c_user"), col("ts").as("c_ts"))
        val joined = graft.streaming.StreamOps.intervalJoin(
          p, "p_ts", "0 seconds", c, "c_ts", "0 seconds",
          col("p_user") === col("c_user"),
          "p_ts BETWEEN c_ts - INTERVAL 6 HOURS AND c_ts + INTERVAL 6 HOURS")
          .select(col("purchase_id"), col("click_id"),
            (ms(col("p_ts")) - ms(col("c_ts"))).as("delta_ms"))
        val q = joined.writeStream.format("memory").queryName("graft_q124_join")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table("graft_q124_join")
    }),
    "q222_interval_join_outer_stream" -> ((s, d) => {
      // q124's LEFT-OUTER form — the last untested streaming-join
      // semantics class, and the missing half of the reference's own
      // attribution example (stream_join.py:38-45): the purchases with
      // NO click within ±6 h, which an inner join silently discards.
      // A genuinely different state/firing contract: matched pairs
      // emit eagerly, but an unmatched left row emits (null click
      // side) only when the watermark proves no future click can
      // match it — so unlike q124 the output DEPENDS on watermark
      // progress, and the replay must end by advancing the clock past
      // the corpus. The sentinel slice does that; it must pass the
      // side filters (isin includes "__sentinel__") to reach the
      // watermark nodes, and is removed AFTER registering by a
      // predicate on the event-time column itself (ts predicates are
      // kept above the EventTimeWatermark node; a pushed event_type
      // filter would drop it before its event time counts — q122's
      // documented trap). The two sentinel rows match each other
      // (same user -1, same ts), so neither lingers as join state.
      // Oracle = q24's batch SQL as a LEFT join at the same µs bound.
      withShufflePartitions(s, 8) {
        def side() = s.readStream
          .schema(Tables(s, d).events.select(replayCols: _*).schema)
          .option("maxFilesPerTrigger", 2)
          .parquet(s"${sentinelReplayDir(s, d)}/in")
        val p = side()
          .where(col("event_type").isin("purchase", "__sentinel__"))
          .select(col("event_id").as("purchase_id"),
            col("user_id").as("p_user"), col("ts").as("p_ts"))
        val c = side()
          .where(col("event_type").isin("click", "__sentinel__"))
          .select(col("event_id").as("click_id"),
            col("user_id").as("c_user"), col("ts").as("c_ts"))
        val joined = graft.streaming.StreamOps.intervalJoinOuter(
          p, "p_ts", "0 seconds", c, "c_ts", "0 seconds",
          col("p_user") === col("c_user"),
          "p_ts BETWEEN c_ts - INTERVAL 6 HOURS AND c_ts + INTERVAL 6 HOURS",
          "left_outer")
          .where(col("p_ts") < sentinelCutoff)
          .select(col("purchase_id"), col("click_id"),
            (ms(col("p_ts")) - ms(col("c_ts"))).as("delta_ms"))
        val q = joined.writeStream.format("memory").queryName("graft_q222_join")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("graft_q222_join")
    }),
    "q227_interval_join_full_stream" -> ((s, d) => {
      // q222's FULL-OUTER form — both unmatched sides surface: the
      // purchases with no click (q222) AND the clicks that never
      // converted, each emitted with a NULL other side only on
      // watermark expiry. Completes the streaming interval-join
      // semantics family (inner q124, left q222, full here; right is
      // left with the sides swapped). The sentinel cutoff must accept
      // a NULL event time on EITHER side now — an unmatched click row
      // carries no p_ts, and filtering it on p_ts < cutoff alone
      // would silently drop exactly the rows this query exists to
      // keep. The two sentinel rows still pair with each other, so
      // neither lingers as state or leaks as an unmatched emission.
      // Oracle = the same µs-bound batch FULL join.
      withShufflePartitions(s, 8) {
        def side() = s.readStream
          .schema(Tables(s, d).events.select(replayCols: _*).schema)
          .option("maxFilesPerTrigger", 2)
          .parquet(s"${sentinelReplayDir(s, d)}/in")
        val p = side()
          .where(col("event_type").isin("purchase", "__sentinel__"))
          .select(col("event_id").as("purchase_id"),
            col("user_id").as("p_user"), col("ts").as("p_ts"))
        val c = side()
          .where(col("event_type").isin("click", "__sentinel__"))
          .select(col("event_id").as("click_id"),
            col("user_id").as("c_user"), col("ts").as("c_ts"))
        val joined = graft.streaming.StreamOps.intervalJoinOuter(
          p, "p_ts", "0 seconds", c, "c_ts", "0 seconds",
          col("p_user") === col("c_user"),
          "p_ts BETWEEN c_ts - INTERVAL 6 HOURS AND c_ts + INTERVAL 6 HOURS",
          "full_outer")
          .where((col("p_ts").isNull || col("p_ts") < sentinelCutoff) &&
            (col("c_ts").isNull || col("c_ts") < sentinelCutoff))
          .select(col("purchase_id"), col("click_id"),
            (ms(col("p_ts")) - ms(col("c_ts"))).as("delta_ms"))
        val q = joined.writeStream.format("memory").queryName("graft_q227_join")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("graft_q227_join")
    }),
    "q235_interval_join_right_stream" -> ((s, d) => {
      // q222's RIGHT-OUTER form — the never-converting clicks surface
      // with a NULL purchase side on watermark expiry, matched pairs
      // eagerly. With q124 (inner), q222 (left), and q227 (full) this
      // closes the streaming interval-join semantics family
      // literally, not by "swap the sides yourself": the right-outer
      // state contract holds the RIGHT side rows until the watermark
      // clears them, the mirror of q222's. The cutoff accepts a NULL
      // p_ts (the unmatched clicks carry none). Oracle = the batch
      // RIGHT join at the same µs bound.
      withShufflePartitions(s, 8) {
        def side() = s.readStream
          .schema(Tables(s, d).events.select(replayCols: _*).schema)
          .option("maxFilesPerTrigger", 2)
          .parquet(s"${sentinelReplayDir(s, d)}/in")
        val p = side()
          .where(col("event_type").isin("purchase", "__sentinel__"))
          .select(col("event_id").as("purchase_id"),
            col("user_id").as("p_user"), col("ts").as("p_ts"))
        val c = side()
          .where(col("event_type").isin("click", "__sentinel__"))
          .select(col("event_id").as("click_id"),
            col("user_id").as("c_user"), col("ts").as("c_ts"))
        val joined = graft.streaming.StreamOps.intervalJoinOuter(
          p, "p_ts", "0 seconds", c, "c_ts", "0 seconds",
          col("p_user") === col("c_user"),
          "p_ts BETWEEN c_ts - INTERVAL 6 HOURS AND c_ts + INTERVAL 6 HOURS",
          "right_outer")
          .where((col("p_ts").isNull || col("p_ts") < sentinelCutoff) &&
            col("c_ts") < sentinelCutoff)
          .select(col("purchase_id"), col("click_id"),
            (ms(col("p_ts")) - ms(col("c_ts"))).as("delta_ms"))
        val q = joined.writeStream.format("memory").queryName("graft_q235_join")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("graft_q235_join")
    }),
    "q129_restart_exactly_once" -> ((s, d) => {
      // The reference's flagship claim — EXACTLY-ONCE across a
      // mid-stream stop/restart (checkpoint_coordinator.py:55-311,
      // offset seek sources.py:137-166) — made oracle-visible. Phase A
      // stages only slices 0-4 of the event-time-ordered replay and
      // runs q122's tumbling aggregate into a FAULT-TOLERANT FILE sink
      // (append mode, parquet + _spark_metadata manifest) with an
      // explicit checkpointLocation, then STOPS after those 5 triggers
      // — mid-replay, with committed offsets AND partially-accumulated
      // window state (windows straddling the slice-4 boundary) in the
      // checkpoint. Phase B stages the remaining slices + sentinel and
      // starts an IDENTICAL query on the SAME checkpoint: the source
      // seeks past the 5 committed files, live window state is
      // restored, and the sink manifest admits each emitted window
      // exactly once. Reading the sink path back goes through the
      // manifest (MetadataLogFileIndex), so partial files from a torn
      // batch would be invisible. Oracle = q21's batch tumbling
      // aggregate — bit-equality across the restart IS the
      // exactly-once proof (a lost batch drops windows, a replayed one
      // double-counts, stale state corrupts the straddling windows).
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val stage = sentinelReplayDir(s, d)
        // fresh work dir PER INVOCATION: a restart cycle is only a
        // restart cycle the first time through a given checkpoint —
        // bench repeats must re-run both phases, not read a done sink
        val work = graft.core.TempDirs.create("graft_q129")
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$work/in"))
        def copySlices(r: Range): Unit = r.foreach { i =>
          // COPY_ATTRIBUTES keeps the staged mtimes, so delivery order
          // inside each phase stays event-time-ordered
          java.nio.file.Files.copy(
            java.nio.file.Paths.get(s"$stage/in/slice$i.parquet"),
            java.nio.file.Paths.get(s"$work/in/slice$i.parquet"),
            java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
        }
        val schema = Tables(s, d).events.select(replayCols: _*).schema
        def runPhase(): Unit = {
          val stream = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(s"$work/in")
          val out = stream.withWatermark("ts", "0 seconds")
            .where(col("ts") < sentinelCutoff)
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("cnt"),
              sum(dec(col("value"))).cast("double").as("sum_v"))
            .select(unix_millis(col("window.start")).as("win_start_ms"),
              col("event_type"), col("cnt"), col("sum_v"))
          val q = out.writeStream.format("parquet")
            .option("path", s"$work/out")
            .option("checkpointLocation", s"$work/ckpt")
            .outputMode("append").start()
          try q.processAllAvailable() finally q.stop()
        }
        copySlices(0 to 4); runPhase() // 5 triggers, then stop mid-replay
        copySlices(5 to 8); runPhase() // restart from the same checkpoint
        s.read.parquet(s"$work/out")
          .select(col("win_start_ms"), col("event_type"), col("cnt"), col("sum_v"))
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    }),
    "q130_late_drop_stream" -> ((s, d) => {
      // Deterministic LATE-DATA DROP made oracle-visible: the same 8
      // contiguous event-time slices, delivered OUT OF ORDER
      // (q130Order — quarters swapped pairwise, sentinel still last)
      // under a 240-hour-bounded out-of-orderness watermark. Slices
      // 0/1/4/5 each arrive two delivery positions behind a slice
      // ~270 h ahead, so each loses its oldest ~30 h of hourly windows
      // on arrival — the documented divergence from the reference's
      // late-data double-fire (stateful.py:186-242: it re-emits a
      // corrected window; Spark's append mode drops) pinned by an
      // oracle instead of prose. The dropped set is DETERMINISTIC
      // given the slice assignment: the late filter of the batch at
      // delivery position p uses watermark = (max event-time ms over
      // positions ≤ p−2) − 240 h (LAGGED one batch behind eviction —
      // SPARK-40925, pinned in StreamingSpec), a row is dropped iff
      // its hourly window's end ≤ that watermark, and both quantities
      // are computable in SQL from the slice ranges alone — the
      // oracle recomputes the kept set and its window counts exactly.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val stream = graft.streaming.Replay.orderedStream(s,
          shuffledReplayDir(s, d),
          Tables(s, d).events.select(replayCols: _*).schema)
        val out = stream.withWatermark("ts", "240 hours")
          .where(col("ts") < sentinelCutoff)
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .select(unix_millis(col("window.start")).as("win_start_ms"),
            col("event_type"), col("cnt"))
        val q = out.writeStream.format("memory").queryName("graft_q130_windows")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table("graft_q130_windows")
    }),
    "q135_dedup_stream" -> ((s, d) => {
      // StreamOps.dedup — the reference's deduplication example with
      // its state bug fixed (examples/stateful_deduplication.py:18-49
      // never persists state; SURVEY §2.7) — made oracle-visible under
      // the AT-LEAST-ONCE RE-DELIVERY regime it exists for: the replay
      // is events UNIONED with a +60 s echo of every click row (same
      // event_id, the redelivered copy), and dedup on event_id within
      // a 2 h watermark must drop every echo. Each echo arrives ≤60 s
      // of event time after its original under in-order delivery, and
      // the late-filter watermark lags ~90 h behind the slice head, so
      // the original's state is always alive when the echo lands —
      // every drop is deterministic and the output is exactly the
      // original events. Only id-stable columns are emitted (original
      // and echo differ in ts, and which of two same-batch copies
      // survives is an implementation choice). The 100 TB posture is
      // the WithinWatermark variant itself: state holds ~2 h of ids,
      // not the corpus's all-time id set (plain dropDuplicates' OOM
      // path); the standing exact-dedup screen for unbounded horizons
      // is DedupIndex.screenStream.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val stage = Fixtures.once("q135_replay", d) {
          val ev = Tables(s, d).events.select(replayCols: _*)
          val echoes = ev.where(col("event_type") === "click")
            .withColumn("ts", timestamp_micros(unix_micros(col("ts")) + 60000000L))
          graft.streaming.Replay.writeOrderedSlices(ev.unionByName(echoes),
            unix_millis(col("ts")),
            graft.core.TempDirs.create("graft_q135"))
        }
        val stream = graft.streaming.Replay.orderedStream(s, stage,
          Tables(s, d).events.select(replayCols: _*).schema)
        val out = graft.streaming.StreamOps.dedup(stream, "ts", "2 hours",
            Seq("event_id"))
          .select(col("event_id"), col("user_id"), col("event_type"))
        val q = out.writeStream.format("memory").queryName("graft_q135_dedup")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table("graft_q135_dedup")
    }),
    "q134_retention_restart" -> ((s, d) => {
      // q129's restart proof for CUSTOM KEYED STATE: q129 restarts a
      // BUILT-IN windowed aggregation (state Spark manages for the
      // window operator); this restarts the retention gate's
      // flatMapGroupsWithState machine (per-user anchor + seen-period
      // state, Cohorts.scala) mid-replay. Phase A delivers slices 0-4
      // in event-time order with an explicit checkpoint and STOPS —
      // thousands of users' custom state objects live only in the
      // checkpoint; phase B stages slices 5-7 and restarts. A
      // complete-mode memory sink is restart-legal (each trigger
      // rewrites the whole table, so the post-restart table is the
      // full result). Oracle = q107's: lost or reset per-user state
      // would mis-cohort every user whose activity straddles the stop.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val stage = eventsReplayDir(s, d)
        val work = graft.core.TempDirs.create("graft_q134")
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$work/in"))
        def copySlices(r: Range): Unit = r.foreach { i =>
          java.nio.file.Files.copy(
            java.nio.file.Paths.get(s"$stage/in/slice$i.parquet"),
            java.nio.file.Paths.get(s"$work/in/slice$i.parquet"),
            java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
        }
        val schema = Tables(s, d).events.select(replayCols: _*).schema
        def runPhase(): Unit = {
          val stream = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(s"$work/in")
          val out = Cohorts.retentionStream(stream,
            col("user_id"), col("event_type"), col("ts"), anchorType = "signup")
          val q = out.writeStream.format("memory").queryName("graft_q134_gate")
            .option("checkpointLocation", s"$work/ckpt")
            .outputMode("complete").start()
          try q.processAllAvailable() finally q.stop()
        }
        copySlices(0 to 4); runPhase() // stop with custom state checkpointed
        copySlices(5 to 7); runPhase() // restart: state must resume, not reset
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table("graft_q134_gate")
    }),
    "q133_retention_rocksdb" -> ((s, d) => {
      // q118's retention gate on the AT-SCALE state backend: RocksDB
      // (the reference's Config.STATE_BACKEND=rocksdb,
      // rocksdb_backend.py:20-165) instead of the in-memory default —
      // state lives off-heap/on-disk, so per-key state volume is
      // bounded by local disk, not executor heap: the backend a 100 TB
      // deployment's multi-billion-key state actually runs on. Same
      // replay, same operator, same oracle (q107's) — a green row here
      // puts the RocksDB path itself inside the official correctness
      // record rather than only in RecoverySpec.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProv = s.conf.get(provKey,
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      graft.core.GraftSession.useRocksDBStateStore(s)
      try {
        val out = Cohorts.retentionStream(eventsReplayStream(s, d),
          col("user_id"), col("event_type"), col("ts"), anchorType = "signup")
        val q = out.writeStream.format("memory").queryName("graft_q133_gate")
          .outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
      } finally {
        s.conf.set(provKey, prevProv)
        s.conf.set("spark.sql.shuffle.partitions", prevParts)
      }
      s.table("graft_q133_gate")
    }),
    "q120_line_scrub" -> ((s, d) => {
      // within-document repeated-line scrub (the RefinedWeb/Dolma
      // boilerplate filter), oracle-checked on a DETERMINISTIC
      // multi-line reconstruction: the single-line corpus text is
      // chunked into 2-word lines (the tiny vocabulary then repeats
      // lines verbatim, like scraped nav bars); the scrub keeps each
      // line's first occurrence. All narrow codegen'd expressions —
      // zero exchange end to end (dedupLines' contract, spec-asserted).
      val lined = Tables(s, d).documents
        .select(col("doc_id"),
          filter(split(col("text"), "\\s+"), t => t =!= "").as("__t"))
        .select(col("doc_id"),
          when(size(col("__t")) === 0, lit(""))
            .otherwise(array_join(transform(
              sequence(lit(0), (ceil(size(col("__t")) / lit(2.0)).cast("int") - 1)),
              j => array_join(slice(col("__t"), j * 2 + 1, lit(2)), " ")), "\n"))
            .as("text2"))
      TextAnalysis.dedupLines(lined, col("doc_id"), col("text2"))
    }),
    "q127_token_drift" -> ((s, d) => {
      // distribution drift between two corpus versions (here: md5-split
      // halves, q53's engine-portable split rule) — the top-50 tokens by
      // exact integer total-variation movement |n_a·TB − n_b·TA|. The
      // pre-training QA check for "did this scrape/dedup/tokenizer
      // change shift the data": vocab-sized join, corpus never shuffled,
      // DECIMAL(38,0) products so every engine agrees exactly
      val docs = Tables(s, d).documents
      TextAnalysis.tokenDrift(
        docs.where(vocabHalf < "8"), docs.where(vocabHalf >= "8"),
        col("text"), col("text"))
        .orderBy(col("move").desc, col("token").asc)
        .limit(50)
        // the operator's DECIMAL(38,0) movement is for 1e13-token
        // corpora; at the driver's SFs it fits BIGINT with 8 digits to
        // spare, and BOTH engines' casts fail loudly (ANSI / DuckDB
        // overflow) if a regime change ever breaks that — the q44/q54
        // pinned-exactness posture
        .withColumn("move", col("move").cast("long"))
    }),
    "q132_drift_baseline" -> ((s, d) => {
      // q127's STANDING form made oracle-visible: the reference-corpus
      // vocabulary counts are computed ONCE, PERSISTED to parquet, and
      // the drift check runs against the STORED baseline — the
      // build-once/check-many posture (DedupIndex/SpanIndex/Bm25Index's
      // family trait) that makes the monitor a standing QA gate: each
      // corpus version pays one narrow scan of ITSELF plus a read of
      // the vocab-sized baseline, never a re-scan of the reference
      // corpus. Same md5-split halves and output as q127, so any
      // roundtrip loss through the persisted counts (type widening,
      // token normalization, count drift) breaks the hash compare.
      val docs = Tables(s, d).documents
      val base = vocabBaseline(s, d)
      TextAnalysis.tokenDriftCounts(
        s.read.parquet(base).select(col("token"), col("n")),
        TextAnalysis.vocabCounts(docs.where(vocabHalf >= "8"), col("text")))
        .orderBy(col("move").desc, col("token").asc)
        .limit(50)
        .withColumn("move", col("move").cast("long"))
    }),
    "q131_groupwise_percentiles" -> ((s, d) =>
      // q121's MULTI-percentile form: p50+p90+p99 per supplier in the
      // SAME ≤6 bisection passes — each (group, pct) pair is a virtual
      // group, so adding percentiles adds histogram rows (groups × 3 ×
      // ≤4096), never corpus scans. The shared-pass machinery
      // (Quantiles.scala's explode + virtual-group rank arithmetic) is
      // the intricate path q121's single-pct query never exercises.
      Quantiles.exactPercentilesByKey(
        ScanLayout.fanOut(Tables(s, d).lineitem
          .select(col("l_suppkey"), col("l_extendedprice"))).select(col("l_suppkey"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("cents")),
        Seq("l_suppkey"), col("cents"), Seq(50, 90, 99))),
    "q125_table_fingerprint" -> ((s, d) =>
      // anti-entropy fingerprint per return-flag group: count + XOR +
      // modular sum of a 60-bit md5 row hash — two 100 TB replicas
      // compare with one scan each and a group-sized join, and only a
      // disagreeing group ever pays a row-level diff. Hash inputs are
      // engine-portable canonical forms (ints, cents, epoch ms, strings
      // — never raw doubles, whose formatting is engine-specific)
      Diff.fingerprint(
        Tables(s, d).lineitem.select(col("l_returnflag"), col("l_orderkey"),
          col("l_linenumber"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("cents"),
          unix_millis(col("l_shipdate").cast("timestamp")).as("ms_ship"),
          col("l_linestatus")),
        Seq("l_returnflag"),
        Seq("l_orderkey", "l_linenumber", "cents", "ms_ship", "l_linestatus"))),
    "q108_snapshot_diff" -> ((s, d) => {
      // lakehouse CDC: diff two deterministic versions of orders —
      // %11-keyed rows exist only in v2 (added), %13 only in v1
      // (removed), %7 get a changed o_custkey
      val o = Tables(s, d).orders
      val before = o.where(col("o_orderkey") % 11 =!= 0)
      val after = o.where(col("o_orderkey") % 13 =!= 0)
        .withColumn("o_custkey", col("o_custkey") +
          when(col("o_orderkey") % 7 === 0, 1000000L).otherwise(0L))
      Diff.snapshots(before, after, Seq("o_orderkey"))
    }),
    "q106_funnel" -> ((s, d) =>
      // ordered-funnel completion per user (view -> click -> purchase,
      // each strictly after the last): greedy earliest-match fold over
      // ONE user-keyed exchange of (t, step) pairs
      Funnel.steps(Tables(s, d).events, col("user_id"), col("event_type"),
        col("ts"), Seq("view", "click", "purchase"))),
    "q105_entropy" -> ((s, d) =>
      // token-entropy quality signal in integer bits — run-length
      // encoded from the sorted token array with builtin expressions:
      // ZERO exchange, one narrow codegen'd scan (q91's shape)
      TextAnalysis.entropyProfile(Tables(s, d).documents,
        col("doc_id"), col("text"))),
    "q104_hybrid_rrf" -> ((s, d) => {
      // hybrid retrieval: the BM25 lexical ranking (q102) and the
      // embedding cosine ranking (q39's shape, query vectors 0-2) fused
      // by reciprocal rank — consensus docs rise, single-list docs keep
      // their RRF tail weight; all integer, query-sized work only
      val t = Tables(s, d)
      val bm = Bm25Index.topK(t.documents, col("doc_id"), col("text"),
        bm25Queries(s), col("qid"), col("qtext"), k = 10)
        .select(col("qid"), col("doc_id"), col("rk"))
      val ann = Similarity.bruteForceTopK(
          t.embeddings.where(col("vec_id") < 3), t.embeddings,
          col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), 5)
        .select(col("query_id").as("qid"), col("cand_id").as("doc_id"), col("rk"))
      Fusion.rrf(Seq(bm, ann), k = 10)
    }),
    "q103_bm25_search" -> ((s, d) => {
      // the same retrieval THROUGH the standing inverted index (built
      // once per sf dir — q55's memoization pattern): the postings scan
      // is pruned to the query's terms by a pushed parquet In filter,
      // so the corpus-sized table is never fully read
      val idx = bm25Index(s, d)
      Bm25Index.search(s, bm25Queries(s), col("qid"), col("qtext"), idx, k = 10)
    }),
    "q100_dsir_weights" -> ((s, d) => {
      // DSIR-style domain-targeted selection: score every document by
      // how much its hashed-ngram distribution resembles the src0
      // sub-corpus (the "target domain"); integer bitlen surrogate for
      // the log ratio, two bounded broadcast maps, one narrow scan
      val docs = Tables(s, d).documents
      Sampling.importanceWeights(docs, docs.where(col("source") === "src0"),
          col("doc_id"), col("text"), buckets = 1024)
        .withColumnRenamed("id", "doc_id")
    }),
    "q96_overlap_join" -> ((s, d) => {
      // keyless interval-overlap join (two window sets from the event
      // stream) — Spark's native plan for this is a nested loop; the
      // binned form runs it as a hash join with exactly-once admission
      // in the first shared bin
      val ev = Tables(s, d).events
      val wa = ev.where(col("event_id") % 500 === 0)
        .select(col("event_id").as("a_id"), col("ts").as("a_start"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("a_end"))
      val wb = ev.where(col("event_id") % 700 === 0)
        .select(col("event_id").as("b_id"), col("ts").as("b_start"),
          (col("ts") + expr("INTERVAL 7 MINUTES")).as("b_end"))
      Joins.binnedOverlapJoin(wa, col("a_start"), col("a_end"),
          wb, col("b_start"), col("b_end"), binMs = 60000L)
        .select(col("a_id"), col("b_id"))
    }),
    "q95_corpus_report" -> ((s, d) => {
      // the per-source "data card" every training pipeline publishes:
      // doc/token volume, language spread, quality-gate pass count,
      // exact-dup volume, total quality score — one composition of the
      // proven components (tokenizer, fingerprint, classifier), one
      // corpus pass into a partial-aggregated groupBy
      val docs = Tables(s, d).documents
      val scored = Classifier.qualityClassify(docs, col("doc_id"), col("text"))
        .select(col("id"), col("score"), col("keep"))
      docs.select(col("doc_id"), col("source"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .join(scored, col("doc_id") === col("id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_quality_keep"),
          countDistinct(col("fp")).as("n_unique_texts"),
          sum(col("score")).as("score_sum"))
    }),
    "q94_nfc_fingerprint" -> ((s, d) => {
      // Unicode-normalized fingerprinting: plant decomposed sequences
      // (e + combining acute, i + combining diaeresis) on every doc and
      // fingerprint the NFC form — without normalization, canonically
      // equal text dedups as different. The oracle is DuckDB's own
      // nfc_normalize: two independent implementations of the normative
      // algorithm agreeing byte for byte on every document.
      val planted = concat(col("text"), lit(" café naïve"))
      val nfc = graft.functions.Kernels.nfc_normalize(planted)
      Tables(s, d).documents.select(col("doc_id"),
        length(planted).cast("long").as("n_raw"),
        length(nfc).cast("long").as("n_nfc"),
        md5(nfc.cast("binary")).as("fp"))
    }),
    "q93_range_join" -> ((s, d) => {
      // keyless point-in-interval join via bin-bucketing: every 500th
      // event opens a 10-minute window; which events fall inside each?
      // Spark would plan the raw predicate as a broadcast nested loop —
      // the bins turn it into an ordinary hash join (plan-asserted)
      val ev = Tables(s, d).events
      val windows = ev.where(col("event_id") % 500 === 0)
        .select(col("event_id").as("w_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("w_end"))
      Joins.binnedRangeJoin(ev.select(col("event_id"), col("ts")), col("ts"),
          windows, col("w_start"), col("w_end"), binMs = 60000L)
        .select(col("w_id"), col("event_id"), ms(col("ts")).as("ts_ms"))
    }),
    "q86_ivfpq_residual" -> ((s, d) => {
      // full FAISS-style residual IVF-PQ: candidates PQ-encoded on their
      // residual from the coarse centroid, queries probe with their own
      // per-cell residuals; codebook = salted deterministic sample
      val em = Tables(s, d).embeddings
      Similarity.ivfPqResidualTopK(em.where(col("vec_id") < 10), em,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 5, dim = 64, nCells = 16, nProbe = 4, m = 8, ksub = 16)
    }),
    "q85_lm_score_ref" -> ((s, d) => {
      // the CCNet-style flow: bigram LM TRAINED on the even-id reference
      // half, odd-id docs scored against it in one pass — including
      // deterministic out-of-vocabulary accounting
      val docs = Tables(s, d).documents
      TextAnalysis.lmSurprisalAgainst(
        docs.where(col("doc_id") % 2 === 1), col("doc_id"), col("text"),
        TextAnalysis.lmCounts(docs.where(col("doc_id") % 2 === 0), col("text")))
    }),
    "q84_event_pagerank" -> ((s, d) => {
      // PageRank over the per-user event-type transition graph, in
      // fixed-point integer arithmetic (3 iterations — the oracle unrolls
      // the same three exactly; every div is a floor div in both engines)
      val ev = Tables(s, d).events
      Graphs.pagerank(
          Graphs.transitionEdges(ev, col("user_id"), col("event_type"),
            col("ts"), col("event_id")),
          col("src"), col("dst"), iters = 3)
        .select(col("v").as("event_type"), col("rank_fp"))
    }),
    "q83_bpe_pairs" -> ((s, d) =>
      // first BPE training round: adjacent symbol-pair frequencies over
      // the char+marker decomposition, deterministically ranked (the
      // pair space is tiny — chars², so the global rank window is cheap)
      Bpe.pairCounts(Tables(s, d).documents, col("text"))
        .withColumn("rk", row_number()
          .over(Window.orderBy(col("cnt").desc, col("l"), col("r"))).cast("long"))
        .where(col("rk") <= 30)),
    "q82_span_screen_scrub" -> ((s, d) => {
      // admission-time scrub against the standing gram index (q80's
      // memoized even-id index): odd-id docs rebuilt with every span
      // already present in the indexed corpus removed
      val idx = spanIndex(s, d)
      SpanIndex.scrub(s, Tables(s, d).documents.where(col("doc_id") % 2 === 1),
        col("doc_id"), col("text"), idx, n = 8)
    }),
    "q81_lm_surprisal" -> ((s, d) =>
      // perplexity-style quality scoring: bigram LM trained on the corpus
      // in the same pass; surprisal in integer bits (bitlen ratios — no
      // transcendentals, so the oracle replays it exactly)
      TextAnalysis.lmSurprisal(Tables(s, d).documents, col("doc_id"), col("text"))),
    "q80_span_screen" -> ((s, d) => {
      // standing-substring-index screening: the gram index is built ONCE
      // over the even-id half of the corpus (memoized per sf dir — it is
      // a STANDING index, q55's pattern), then the odd-id half screens
      // against it: which spans of incoming docs already exist verbatim
      // in the indexed corpus
      val docs = Tables(s, d).documents
      val idx = spanIndex(s, d)
      SpanIndex.check(s, docs.where(col("doc_id") % 2 === 1),
        col("doc_id"), col("text"), idx, n = 8)
    }),
    "q79_semantic_dedup" -> ((s, d) => {
      // SemDeDup-style semantic dedup, composed end to end: banded
      // hyperplane LSH finds embedding near-dup PAIRS (q45's planted
      // corpus — every 20th vector gets a ±1% perturbed copy), pairs
      // cluster into semantic groups, and only each group's lowest id
      // survives; singletons pass through. Scale shape is the sum of its
      // proven parts: triples-only banding exchange, pair-graph-sized
      // clustering iteration, and a left_anti drop of non-canonical ids
      val em = Tables(s, d).embeddings
      val base = em.select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val planted = em.where(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 10000000L).as("id"),
          transform(col("embedding"), (x, i) =>
            x.cast("double") * (lit(1.0) + lit(0.01) * (i % 3 - 1).cast("double"))).as("v"))
      val corpus = base.union(planted)
      val pairs = Similarity.cosineNearDupPairs(corpus, col("id"), col("v"),
        dim = 64, bands = 8, rowsPerBand = 16, threshold = 0.95)
      val cc = Clusters.connectedComponents(pairs, col("id_a"), col("id_b"))
      corpus.join(cc.where(col("id") =!= col("cluster")).select(col("id")),
          Seq("id"), "left_anti")
        .select(col("id"))
    }),
    "q78_shuffle_rank" -> ((s, d) =>
      // deterministic training-order permutation: rank = position in
      // (md5(doc_id), doc_id) order via the distributed two-phase prefix
      // count — the oracle's naive global window must match exactly
      Sampling.shuffleRank(Tables(s, d).documents, col("doc_id"))
        .select(col("key").as("doc_id"), col("shuffle_rank"))),
    "q76_pq_topk" -> ((s, d) => {
      // product-quantization ANN: corpus encoded to 8 sub-codes against a
      // 16-codeword deterministic codebook, queries (vec_id < 10) rank by
      // ADC squared-L2; the oracle replays codebook, encode, and ADC
      val em = Tables(s, d).embeddings
      Similarity.pqTopK(em.where(col("vec_id") < 10), em,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 5, dim = 64, m = 8, ksub = 16)
    }),
    "q77_ivfpq_topk" -> ((s, d) => {
      // FAISS-style IVF-PQ composition: coarse cosine cells restrict each
      // query to 4 probed cells; candidates rank by PQ ADC within them
      val em = Tables(s, d).embeddings
      Similarity.ivfPqTopK(em.where(col("vec_id") < 10), em,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 5, dim = 64, nCells = 16, nProbe = 4, m = 8, ksub = 16)
    }),
    "q72_crosscorpus_embedding" -> ((s, d) => {
      // vector analogue of q71: near-dup JOIN between the base embedding
      // corpus and a second corpus of perturbed copies (cosine ≈ 0.99997
      // to their sources — same planted construction as q45, but as two
      // DISJOINT corpora through the A×B banding). Seeded hyperplane
      // kernels band both sides identically; miss < 1e-10 at this cosine
      val em = Tables(s, d).embeddings
      val base = em.select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val planted = em.where(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 10000000L).as("id"),
          transform(col("embedding"), (x, i) =>
            x.cast("double") * (lit(1.0) + lit(0.01) * (i % 3 - 1).cast("double"))).as("v"))
      Similarity.cosineNearDupJoin(base, col("id"), col("v"),
          planted, col("id"), col("v"),
          dim = 64, bands = 8, rowsPerBand = 16, threshold = 0.95)
        .select(col("id_a"), col("id_b"))
    }),
    "q71_crosscorpus_neardup" -> ((s, d) => {
      // dataset-overlap analysis: near-dup JOIN between two disjoint
      // corpora (even-id vs odd-id docs) — the A×B banding form, not the
      // q52 self-join; at 16 bands × 2 rows a true pair at jaccard 0.8
      // misses with probability < 1e-7, so LSH+verify equals the
      // brute-force cross-join oracle
      val docs = Tables(s, d).documents
      Dedup.minhashLshJoin(
        ScanLayout.fanOut(docs.where(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("text"))), col("doc_id"), col("text"),
        ScanLayout.fanOut(docs.where(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("text"))), col("doc_id"), col("text"),
        shingleN = 3, numHashes = 32, bands = 16, rowsPerBand = 2,
        threshold = 0.8)
    }),
    "q70_bloom_screen" -> ((s, d) => {
      // ingestion gate: screen the full corpus against the already-
      // ingested two-thirds. The Bloom prefilter routes definite-new rows
      // around the exact anti join and cannot change the result (no false
      // negatives), so the oracle is the plain anti join
      val docs = Tables(s, d).documents
      Dedup.bloomScreen(
        docs.where(col("doc_id") % 3 =!= 0), col("doc_id"),
        docs.select(col("doc_id"), col("source")), col("doc_id"))
    }),

    // ---- round 5: REAL codecs (JDK-bundled ImageIO / javax.sound) ----
    "q68_image_decode" -> ((s, d) => {
      // real PNG pipeline: deterministic pixels → JDK PNG ENCODE →
      // distributed DECODE via ImageIO → per-image statistics. PNG is
      // lossless, so DuckDB replays the pixel formula without a codec and
      // the hash compare verifies the whole encode→decode roundtrip
      // (width/height come from the DECODED container, not metadata)
      import s.implicits._
      val ids = Tables(s, d).embeddings.select(col("vec_id")).as[Long]
      Multimodal.decodeImages(Multimodal.syntheticPngMediaFor(ids), dim = 16)
        .select(col("media_id"), col("width"), col("height"), col("mean_intensity"))
    }),
    "q69_audio_decode" -> ((s, d) => {
      // real WAV pipeline: deterministic PCM16 samples → RIFF encode →
      // distributed decode via javax.sound.sampled → exact-integer-ratio
      // statistics (no sqrt — cross-engine bit-exact)
      import s.implicits._
      val ids = Tables(s, d).embeddings.select(col("vec_id")).as[Long]
      Multimodal.decodeAudio(Multimodal.syntheticWavFor(ids), dim = 16)
        .select(col("media_id"), col("n_samples"), col("mean_abs"), col("mean_square"))
    }),

    // ---- round 10: the CONTINUOUS standing-index forms, oracle-visible.
    // Every screener/searcher below is per-row independent given the
    // standing index, so the union over an N-micro-batch replay equals
    // the batch operator over the whole input (the parity contract each
    // index spec asserts); the oracle is therefore the batch oracle. ----
    "q136_lsh_screen_stream" -> ((s, d) => {
      // DedupIndex.screenStream: continuous MinHash-LSH admission control
      // — odd-id docs arrive in 4 micro-batches and screen against the
      // standing index of the even-id corpus (q71's cross-corpus shape,
      // through the persisted index per batch). At 16 bands × 2 rows a
      // true pair at jaccard 0.8 misses with probability < 1e-7, so the
      // brute-force cross oracle is exact.
      val docs = Tables(s, d).documents
      val idx = Fixtures.once("q136_index", d) {
        val p = graft.core.TempDirs.create("graft_q136_idx")
        DedupIndex.build(Tables(s, d).documents.where(col("doc_id") % 2 === 0),
          col("doc_id"), col("text"), p,
          shingleN = 3, numHashes = 32, bands = 16, rowsPerBand = 2)
        p
      }
      withShufflePartitions(s, 8) {
        val stage = screenReplayDir(s"$d#q136",
          docs.where(col("doc_id") % 2 === 1).select(col("doc_id"), col("text")),
          col("doc_id"), 4)
        val stream = graft.streaming.Replay.orderedStream(s, stage,
          docs.select(col("doc_id"), col("text")).schema)
        collectScreenBatches(s) { onBatch =>
          DedupIndex.screenStream(s, stream, col("doc_id"), col("text"), idx,
            threshold = 0.8, shingleN = 3, numHashes = 32,
            bands = 16, rowsPerBand = 2)(onBatch)
        }
      }
    }),
    "q137_decon_screen_stream" -> ((s, d) => {
      // Decontamination.screenStream: each arriving training batch is
      // containment-checked against the standing benchmark set BEFORE
      // admission (q66's split and threshold — the oracle is q66's).
      val docs = Tables(s, d).documents
      withShufflePartitions(s, 8) {
        val stage = screenReplayDir(s"$d#q137",
          docs.where(col("doc_id") % 50 =!= 0).select(col("doc_id"), col("text")),
          col("doc_id"), 4)
        val stream = graft.streaming.Replay.orderedStream(s, stage,
          docs.select(col("doc_id"), col("text")).schema)
        collectScreenBatches(s) { onBatch =>
          Decontamination.screenStream(stream, col("doc_id"), col("text"),
            docs.where(col("doc_id") % 50 === 0), col("doc_id"), col("text"),
            n = 3, threshold = 0.3)(onBatch)
        }
      }
    }),
  )
}
