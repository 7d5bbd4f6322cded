package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Snapshot diff — the lakehouse CDC primitive: given two versions of a
  * keyed table, emit each key that was `added`, `removed`, or `changed`
  * (any non-key column differs, null-safe). Unchanged rows never leave
  * the join.
  *
  * Scale shape: one hash exchange per side on the key (the full-outer
  * sort-merge join Spark picks for two large sides; AQE splits skewed
  * keys), column comparison inline in the join output — no second
  * pass, no collect. Keys must be unique per snapshot (a duplicate key
  * makes "the row before/after" ambiguous) — checked fail-fast with
  * key-sized aggregates.
  */
object Diff {

  /** (keys..., change_type) for every key whose row changed between
    * `before` and `after`. Schemas must match exactly.
    */
  def snapshots(before: DataFrame, after: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "diff: at least one key column")
    require(before.columns.sameElements(after.columns),
      s"diff: schemas differ — before(${before.columns.mkString(",")}) vs " +
        s"after(${after.columns.mkString(",")})")
    keys.foreach(k => require(before.columns.contains(k), s"diff: no key column $k"))
    val dataCols = before.columns.filterNot(keys.contains).toSeq
    def checkUnique(df: DataFrame, side: String): Unit = {
      val dup = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
        .where(col("c") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"diff: $side snapshot has duplicate keys (e.g. ${dup.head}) — " +
          "a diff needs exactly one row per key per snapshot")
    }
    checkUnique(before, "before")
    checkUnique(after, "after")
    val b = before.select(keys.map(col) ++
      dataCols.map(c => col(c).as(s"__b_$c")) :+ lit(true).as("__b"): _*)
    val a = after.select(keys.map(col) ++
      dataCols.map(c => col(c).as(s"__a_$c")) :+ lit(true).as("__a"): _*)
    val anyChanged = dataCols.map(c => !(col(s"__b_$c") <=> col(s"__a_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    b.join(a, keys, "full_outer")
      .withColumn("change_type",
        when(col("__b").isNull, lit("added"))
          .when(col("__a").isNull, lit("removed"))
          .when(anyChanged, lit("changed"))
          .otherwise(lit("unchanged")))
      .where(col("change_type") =!= "unchanged")
      .select(keys.map(col) :+ col("change_type"): _*)
  }

  /** Apply a CDC changelog to a keyed snapshot — the lakehouse MERGE
    * (the batch form of the reference's stateful upsert-by-key pattern,
    * `taskmanager/operators/stateful.py` keyed state overwrite): for
    * each key the highest-`seqCol` change wins; a winning `deleteOp`
    * row deletes the key, any other winning op upserts the full row;
    * untouched snapshot rows pass through. Output schema = snapshot
    * schema.
    *
    * Scale shape: the changelog collapses to one winner per key via a
    * max-struct PARTIAL aggregate — the exchange carries one row per
    * (map partition, key), never the raw log (the per-key
    * `row_number` window form would shuffle every log row to one
    * partition per key and sort it). Then ONE hash exchange per side
    * into the full-outer join; AQE splits skewed keys. Ties on seq
    * resolve by the struct's lexicographic order over (seq, op,
    * data...), so reruns and other engines agree row-for-row.
    */
  def applyChangelog(snapshot: DataFrame, changes: DataFrame,
                     keys: Seq[String], seqCol: String, opCol: String,
                     deleteOp: String = "D"): DataFrame = {
    require(keys.nonEmpty, "applyChangelog: at least one key column")
    keys.foreach(k => require(snapshot.columns.contains(k),
      s"applyChangelog: snapshot has no key column $k"))
    val dataCols = snapshot.columns.filterNot(keys.contains).toSeq
    (keys ++ dataCols ++ Seq(seqCol, opCol)).foreach(c =>
      require(changes.columns.contains(c), s"applyChangelog: changes has no column $c"))
    val reservedHit = dataCols.intersect(Seq("__seq", "__op"))
    require(reservedHit.isEmpty,
      s"applyChangelog: data columns ${reservedHit.mkString(", ")} collide " +
        "with internal struct field names — rename them first")
    // one row per key per snapshot, same ambiguity argument as snapshots()
    val dup = snapshot.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
      .where(col("c") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"applyChangelog: snapshot has duplicate keys (e.g. ${dup.headOption.orNull}) — " +
        "a merge needs exactly one base row per key")
    val winner = changes
      .groupBy(keys.map(col): _*)
      .agg(max(struct(col(seqCol).as("__seq") +: col(opCol).as("__op") +:
        dataCols.map(c => col(c)): _*)).as("__w"))
      .select(keys.map(col) ++ (col("__w.__op").as("__op") +:
        dataCols.map(c => col(s"__w.$c").as(s"__c_$c"))): _*)
    val snap = snapshot.select(keys.map(col) ++
      dataCols.map(c => col(c).as(s"__s_$c")) :+ lit(true).as("__in_snap"): _*)
    snap.join(winner, keys, "full_outer")
      // a winning delete removes the key even when it only ever existed
      // in the log (insert-then-delete inside one batch)
      .where(col("__op").isNull || col("__op") =!= lit(deleteOp))
      .select(keys.map(col) ++ dataCols.map(c =>
        when(col("__op").isNotNull, col(s"__c_$c"))
          .otherwise(col(s"__s_$c")).as(c)): _*)
  }

  /** Incremental maintenance of a materialized keyed aggregate from a
    * row-level changelog — refresh a "materialized view" of per-key
    * count + sums WITHOUT rescanning the base table (reference
    * capability: the GUI aggregate over re-ingested files,
    * `taskmanager/operators/files.py` — re-executed from scratch there;
    * here the refresh touches only changed keys).
    *
    * `view` holds one row per key: the key columns, `cntCol` (row
    * count) and one sum column per measure. `changes` is a row-level
    * changelog in the Flink/Debezium convention: `opCol` ∈ {+I, +U}
    * (row arrives with AFTER values) or {-D, -U} (row retracts with
    * BEFORE values) — an update is the -U/+U pair. Output is the
    * refreshed view, row-for-row equal to re-aggregating the base with
    * the changelog applied: touched keys get their count/sums shifted,
    * keys whose count reaches zero disappear, brand-new keys appear,
    * untouched keys pass through byte-identical.
    *
    * Count/sum (and avg = sum/cnt, derivable) are the self-maintainable
    * aggregates under the full retraction protocol; min/max are NOT
    * maintainable under deletes (a retracted maximum needs that key's
    * surviving rows re-read). Under an INSERT-ONLY changelog they are:
    * pass `mins`/`maxs` pairs and the view's min/max columns fold
    * monotonically (`least`/`greatest` against the batch extremes) —
    * with an in-plan guard that raises on ANY retraction op, so a
    * delete sneaking into a supposedly append-only stream fails loudly
    * instead of silently corrupting the extremes.
    *
    * Scale shape: the changelog first collapses to ONE delta row per
    * touched key via a partial aggregate — the exchange carries
    * changelog-keys, never the log. The merge deliberately avoids the
    * full-outer join (which would hash-exchange the entire view): with
    * `broadcastDeltas` (default) it is two narrow broadcast passes over
    * the view — a left-outer merge for existing keys, plus a key-only
    * semi scan that shrinks the "which delta keys already exist"
    * question to a delta-sized frame so brand-new keys attach via a
    * small anti join — and the view NEVER shuffles (zero
    * `Exchange hashpartitioning`, asserted in DiffSpec). A 100 TB view
    * with a million-row nightly changelog does a million-key broadcast
    * and two narrow scans. With `broadcastDeltas = false` (deltas too
    * big to broadcast) the same shape runs as shuffled joins.
    */
  def maintainAgg(view: DataFrame, changes: DataFrame, keys: Seq[String],
                  opCol: String, cntCol: String,
                  sums: Seq[(String, String)],
                  broadcastDeltas: Boolean = true,
                  mins: Seq[(String, String)] = Nil,
                  maxs: Seq[(String, String)] = Nil): DataFrame = {
    require(keys.nonEmpty, "maintainAgg: at least one key column")
    val insertOnly = mins.nonEmpty || maxs.nonEmpty
    (keys ++ Seq(cntCol) ++ (sums ++ mins ++ maxs).map(_._1)).foreach(c =>
      require(view.columns.contains(c), s"maintainAgg: view has no column $c"))
    (keys ++ Seq(opCol) ++ (sums ++ mins ++ maxs).map(_._2)).foreach(c =>
      require(changes.columns.contains(c), s"maintainAgg: changes has no column $c"))
    // the output carries exactly keys + cnt + maintained measures — an
    // extra view attribute would be silently DROPPED (and, in the
    // maintainAggStream lifecycle, deleted from the persisted view on
    // the first fold); only the declared aggregates are maintainable
    // here, so make the caller strip or widen explicitly
    val extras = view.columns.filterNot(c =>
      keys.contains(c) || c == cntCol || (sums ++ mins ++ maxs).exists(_._1 == c))
    require(extras.isEmpty,
      s"maintainAgg: view has non-maintained columns ${extras.mkString(", ")} — " +
        "drop them or carry them in a separate attribute table")
    val ops = Seq("+I", "+U", "-U", "-D")
    // with min/max aboard, a retraction is unanswerable (the retracted
    // extreme would need the key's surviving rows re-read) — raise
    // in-plan instead of silently corrupting the extremes
    val sign =
      if (insertOnly)
        when(col(opCol).isin("+I", "+U"), lit(1L))
          .otherwise(raise_error(concat(lit(
            "maintainAgg: min/max maintenance requires an insert-only " +
              s"changelog (+I/+U), got "),
            coalesce(col(opCol), lit("null")))))
      else
        when(col(opCol).isin("+I", "+U"), lit(1L))
          .when(col(opCol).isin("-U", "-D"), lit(-1L))
          .otherwise(raise_error(concat(lit(
            s"maintainAgg: $opCol must be one of ${ops.mkString(", ")}, got "),
            coalesce(col(opCol), lit("null")))))
    val viewCols = (sums ++ mins ++ maxs).map(_._1)
    require(viewCols.distinct.size == viewCols.size,
      s"maintainAgg: a view column appears under more than one aggregate: " +
        viewCols.diff(viewCols.distinct).mkString(", "))
    val deltas0 = changes
      .select(keys.map(col) ++ (sign.as("__sign") +:
        (sums ++ mins ++ maxs).map(_._2).distinct.map(col)): _*)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__sign")).as("__dcnt"),
        (sums.map { case (s, m) => sum(col("__sign") * col(m)).as(s"__d_$s") } ++
          mins.map { case (s, m) => min(col(m)).as(s"__d_$s") } ++
          maxs.map { case (s, m) => max(col(m)).as(s"__d_$s") }): _*)
    val deltas = if (broadcastDeltas) broadcast(deltas0) else deltas0
    def negErr = raise_error(concat(
      lit("maintainAgg: count went negative for key "),
      concat_ws(",", keys.map(k => col(k).cast("string")): _*),
      lit(" — changelog retracts rows absent from the view")))
    // existing keys: untouched rows pass through, touched rows shift.
    // The net-negative guard (a retraction the view's count cannot
    // absorb) lives INSIDE the count projection and references both
    // join sides, so it cannot be pushed below the join and never
    // evaluates on rows the join shape would have excluded.
    val mergedCnt = col("__vcnt") + coalesce(col("__dcnt"), lit(0L))
    val merged = view
      .select(keys.map(col) ++ (col(cntCol).cast("long").as("__vcnt") +:
        (sums ++ mins ++ maxs).map { case (s, _) => col(s).as(s"__v_$s") }): _*)
      .join(deltas, keys, "left_outer")
      .select(keys.map(col) ++ (
        when(mergedCnt < 0, negErr.cast("long")).otherwise(mergedCnt)
          .as(cntCol) +:
        (sums.map { case (s, _) =>
          // exact arithmetic: long/decimal measures stay exact through +
          (col(s"__v_$s") + coalesce(col(s"__d_$s"), lit(0))).as(s)
        } ++
          // least/greatest skip nulls, so an untouched key (null delta)
          // keeps its view extreme unchanged
          mins.map { case (s, _) => least(col(s"__v_$s"), col(s"__d_$s")).as(s) } ++
          maxs.map { case (s, _) => greatest(col(s"__v_$s"), col(s"__d_$s")).as(s) })): _*)
    // brand-new keys: delta keys absent from the view. The "which delta
    // keys exist" semi scan is broadcast-pruned and delta-sized, so the
    // anti join runs between two small frames. A net-negative NEW key
    // (more retractions than inserts for a key the view never had) is
    // the same invalid-changelog class; its guard must only see keys
    // that SURVIVED the anti join, so the predicate carries a
    // nondeterministic conjunct as a deliberate pushdown barrier.
    val present = view.select(keys.map(col): _*)
      .join(if (broadcastDeltas) broadcast(deltas0.select(keys.map(col): _*))
            else deltas0.select(keys.map(col): _*), keys, "left_semi")
    val fresh = deltas.join(
        if (broadcastDeltas) broadcast(present) else present, keys, "left_anti")
      .where(when(rand() >= -1 && col("__dcnt") < 0, negErr.cast("boolean"))
        .otherwise(lit(true)))
      .select(keys.map(col) ++ (col("__dcnt").as(cntCol) +:
        (sums ++ mins ++ maxs).map { case (s, _) => col(s"__d_$s").as(s) }): _*)
    merged.unionByName(fresh, allowMissingColumns = false)
      .where(col(cntCol) > 0)
  }

  /** Persist the initial materialized view for the continuous
    * [[maintainAggStream]] lifecycle — a [[graft.core.SwapStore]]:
    * view rows and the last-applied changelog batch id live inside ONE
    * swap unit, so content and ledger can never disagree after a crash.
    */
  def initView(view: DataFrame, path: String): Unit =
    graft.core.SwapStore.init(view, path)

  /** The current view under [[maintainAggStream]]. */
  def readView(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    graft.core.SwapStore.read(spark, path)

  /** Apply one changelog batch to the persisted view — [[maintainAgg]]
    * plus the exactly-once ledger: a re-delivered batch (id ≤ the
    * ledger's last_batch, the foreachBatch restart case) is a no-op, so
    * replays converge instead of double-applying.
    */
  def applyChangelogBatch(spark: org.apache.spark.sql.SparkSession,
                          changes: DataFrame, path: String, keys: Seq[String],
                          opCol: String, cntCol: String,
                          sums: Seq[(String, String)], batchId: Long,
                          broadcastDeltas: Boolean = true): Unit =
    graft.core.SwapStore.fold(spark, path, batchId) { cur =>
      maintainAgg(cur, changes, keys, opCol, cntCol, sums, broadcastDeltas)
    }

  /** Continuous materialized-view maintenance: a streaming row-level
    * changelog folds into the persisted view once per micro-batch —
    * the Delta-MERGE-shaped lakehouse loop expressed as
    * [[maintainAgg]] + foreachBatch. Work per trigger is
    * batch-collapse + two narrow scans of the current view (the
    * maintainAgg shape); the base table never exists here at all —
    * the view IS the state. Exactly-once under foreachBatch's
    * at-least-once redelivery via the in-swap ledger
    * (DiffSpec: re-applying a batch is a no-op).
    */
  def maintainAggStream(spark: org.apache.spark.sql.SparkSession,
                        changeStream: DataFrame, path: String,
                        keys: Seq[String], opCol: String, cntCol: String,
                        sums: Seq[(String, String)],
                        broadcastDeltas: Boolean = true,
                        checkpoint: Option[String] = None,
                        ephemeralOk: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.core.SwapStore.writerStream(changeStream, path, checkpoint, ephemeralOk) {
      (batch, bid) =>
        applyChangelogBatch(spark, batch, path, keys, opCol, cntCol,
          sums, bid, broadcastDeltas)
    }

  /** Build SCD-2 (slowly-changing-dimension type 2) history from a
    * changelog: every version row gets a half-open validity interval —
    * `seqCol` is valid_from, `valid_to` is the NEXT version's seq for
    * the same key (null = still current), plus an `is_current` flag.
    *
    * Scale shape: one keyed exchange (the lead window partitions by
    * key and sorts each key's versions in place); no self-join, no
    * second corpus pass. Requires (keys, seq) unique — a tie makes
    * "the next version" ambiguous — checked fail-fast with a key-sized
    * aggregate.
    */
  def scd2(changelog: DataFrame, keys: Seq[String], seqCol: String): DataFrame = {
    require(keys.nonEmpty, "scd2: at least one key column")
    (keys :+ seqCol).foreach(k => require(changelog.columns.contains(k),
      s"scd2: changelog has no column $k"))
    Seq("valid_to", "is_current").foreach(c => require(!changelog.columns.contains(c),
      s"scd2: input already has a $c column — rename it first"))
    val dup = changelog.groupBy((keys :+ seqCol).map(col): _*)
      .agg(count(lit(1)).as("c")).where(col("c") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"scd2: duplicate (key, $seqCol) version rows (e.g. ${dup.headOption.orNull}) — " +
        "version order within a key must be total")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(seqCol))
    changelog
      .withColumn("valid_to", lead(col(seqCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Incrementally maintain an SCD-2 history with a new changelog
    * slice — the lakehouse "merge into dimension" step, and [[scd2]]'s
    * fold form: close each affected key's current row at its batch's
    * first new version, chain the batch's versions among themselves,
    * union. `scd2Apply(scd2(prefix), suffix) == scd2(prefix ∪ suffix)`
    * whenever the slice respects the IN-ORDER CONTRACT: per key, every
    * new version's `seqCol` must exceed the key's current valid_from
    * (checked fail-fast — which also makes an accidental double-apply
    * of the same slice fail loudly instead of corrupting intervals;
    * out-of-order history repair is a rebuild, not an apply).
    *
    * Scale shape: the history side is touched by ONE join against the
    * batch's per-key first-version table (batch-key-sized — broadcast
    * by default, matching [[applyChangelogBatch]]'s convention), so
    * the standing history never shuffles and never re-enters a window;
    * only the batch itself pays the keyed window exchange. That is the
    * difference from re-running [[scd2]] at 100 TB: per-fold cost is
    * batch-sized, not history-sized.
    */
  def scd2Apply(history: DataFrame, changes: DataFrame, keys: Seq[String],
                seqCol: String, broadcastChanges: Boolean = true): DataFrame = {
    require(keys.nonEmpty, "scd2Apply: at least one key column")
    (keys :+ seqCol).foreach(k => require(changes.columns.contains(k),
      s"scd2Apply: changes has no column $k"))
    Seq("valid_to", "is_current").foreach(c => require(history.columns.contains(c),
      s"scd2Apply: history lacks $c — not an scd2() output"))
    Seq("valid_to", "is_current", "__first_new", "__cur_from").foreach(c =>
      require(!changes.columns.contains(c),
        s"scd2Apply: changes already has a $c column — rename it first"))
    val dup = changes.groupBy((keys :+ seqCol).map(col): _*)
      .agg(count(lit(1)).as("c")).where(col("c") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"scd2Apply: duplicate (key, $seqCol) rows in the slice (e.g. ${dup.headOption.orNull})")
    val current = history.where(col("is_current"))
      .select(keys.map(col) :+ col(seqCol).as("__cur_from"): _*)
    val viol = changes.join(current, keys)
      .where(col(seqCol) <= col("__cur_from")).limit(1).collect()
    require(viol.isEmpty,
      s"scd2Apply: out-of-order version (e.g. ${viol.headOption.orNull}) — every new " +
        s"$seqCol must exceed its key's current valid_from (a replayed slice trips this too)")
    val firstNew0 = changes.groupBy(keys.map(col): _*)
      .agg(min(col(seqCol)).as("__first_new"))
    val firstNew = if (broadcastChanges) broadcast(firstNew0) else firstNew0
    val closed = history.join(firstNew, keys, "left")
      .withColumn("valid_to",
        when(col("is_current") && col("__first_new").isNotNull, col("__first_new"))
          .otherwise(col("valid_to")))
      .withColumn("is_current", col("is_current") && col("__first_new").isNull)
      .drop("__first_new")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(seqCol))
    val appended = changes
      .withColumn("valid_to", lead(col(seqCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
    closed.unionByName(appended)
  }

  /** Continuous SCD-2 maintenance: each micro-batch of version rows
    * folds into a PERSISTED history ([[graft.core.SwapStore]]) via
    * [[scd2Apply]] — the dimension table a streaming lakehouse keeps
    * current. Exactly-once rides on the store's ledger: a re-delivered
    * foreachBatch id no-ops BEFORE [[scd2Apply]] runs, so its loud
    * double-apply guard only ever fires on a genuine contract breach,
    * never on a replay. Seed the store with an scd2-shaped table
    * (e.g. `SwapStore.init(Diff.scd2(emptyChangelog, ...), path)`).
    * Same durable-checkpoint requirement as every store that outlives
    * one query (warned loudly), same single-writer contract.
    */
  def scd2Stream(spark: org.apache.spark.sql.SparkSession,
                 changeStream: DataFrame, path: String, keys: Seq[String],
                 seqCol: String, broadcastChanges: Boolean = true,
                 checkpoint: Option[String] = None,
                 ephemeralOk: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.core.SwapStore.writerStream(changeStream, path, checkpoint, ephemeralOk) {
      (batch, bid) =>
        graft.core.SwapStore.fold(spark, path, bid)(hist =>
          scd2Apply(hist, batch, keys, seqCol, broadcastChanges))
    }

  /** Continuous point-in-time attach: [[temporalJoin]] per micro-batch
    * of facts against the LIVE persisted dimension history
    * ([[scd2Stream]]'s store). Each batch re-reads the store, so a
    * version fold landing between triggers is visible to the next
    * batch and not to the previous one — attach-at-PROCESSING-time
    * semantics, the shape a training pipeline uses to stamp documents
    * with the metadata as the catalog knew it on arrival (event-time
    * backfill against the FINAL history is the batch [[temporalJoin]];
    * the two agree only for facts arriving after their version did).
    * The store swap's missing-path window retries like every consumer;
    * `onBatch` must be idempotent under replay.
    */
  def temporalJoinStream(spark: org.apache.spark.sql.SparkSession,
                         factStream: DataFrame, dimPath: String,
                         keys: Seq[String], factTs: String, validFrom: String,
                         validTo: String, carry: Seq[String])
                        (onBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.core.SwapStore.readerStream(factStream) { batch =>
      onBatch(temporalJoin(batch, graft.core.SwapStore.read(spark, dimPath),
        keys, factTs, validFrom, validTo, carry))
    }

  /** Look up the dimension version valid at each fact's time: for every
    * fact row, the dim row with the greatest `validFrom` ≤ fact ts that
    * still covers it (`ts < validTo`, null validTo = open-ended) — the
    * SCD-2 companion of [[scd2]], and the point-in-time join a training
    * pipeline uses to attach "the metadata as of this document's crawl".
    * Carried columns are null when no version covers the fact.
    *
    * Scale shape: same union-plus-window frame as `Joins.asofJoin` —
    * ONE keyed exchange total, no join node at all (a per-key
    * interval join would be quadratic in versions; a broadcast needs a
    * small dim). Dim rows with a null key or null `validFrom` are
    * dropped up front (SQL equality semantics: NULL matches nothing);
    * facts keep left-join behavior. (keys, validFrom) must be unique —
    * checked fail-fast — so the as-of winner is deterministic.
    */
  def temporalJoin(facts: DataFrame, dim: DataFrame, keys: Seq[String],
                   factTs: String, validFrom: String, validTo: String,
                   carry: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "temporalJoin: at least one key column")
    require(carry.nonEmpty, "temporalJoin: name the dim columns to attach")
    (keys :+ factTs).foreach(c => require(facts.columns.contains(c),
      s"temporalJoin: facts has no column $c"))
    (keys ++ Seq(validFrom, validTo) ++ carry).foreach(c =>
      require(dim.columns.contains(c), s"temporalJoin: dim has no column $c"))
    val reserved = Seq("_ts", "_side", "_v")
    require(facts.columns.intersect(reserved).isEmpty,
      s"temporalJoin: facts uses reserved column names: ${reserved.mkString(", ")}")
    carry.foreach(c => require(!facts.columns.contains(c),
      s"temporalJoin: carry column $c collides with a facts column — alias it in dim"))
    require(!carry.contains("__vt"),
      "temporalJoin: __vt is reserved inside the carry struct")
    val dup = dim.groupBy((keys :+ validFrom).map(col): _*)
      .agg(count(lit(1)).as("c")).where(col("c") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"temporalJoin: dim has duplicate (key, $validFrom) versions " +
        s"(e.g. ${dup.headOption.orNull}) — the as-of winner would be ambiguous")

    val dimPrepped = dim
      .where(keys.map(col(_).isNotNull).reduce(_ && _) && col(validFrom).isNotNull)
      .select(keys.map(col) ++ Seq(col(validFrom).as("_ts"), lit(0).as("_side"),
        struct(col(validTo).as("__vt") +: carry.map(col): _*).as("_v")): _*)
    val vType = dimPrepped.schema("_v").dataType
    val factFields = facts.schema.fields.toSeq
    // keys stay REAL on both sides (they drive the window partitioning);
    // only the non-key fact payload is nulled on the dim side
    val factSide = facts.select(
      factFields.map(f => col(f.name)) ++
        Seq(col(factTs).as("_ts"), lit(1).as("_side"),
          lit(null).cast(vType).as("_v")): _*)
    val dimSide = dimPrepped.select(
      factFields.map(f =>
        if (keys.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)) ++
        Seq(col("_ts"), col("_side"), col("_v")): _*)

    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_ts"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the as-of winner, then the validity check turns an expired version
    // (gapped history: key deleted, never re-versioned) back into a miss
    val covered = col("_v").isNotNull &&
      (col("_v.__vt").isNull || col("_ts") < col("_v.__vt"))
    factSide.unionByName(dimSide)
      .withColumn("_v", last(col("_v"), ignoreNulls = true).over(w))
      .where(col("_side") === 1)
      .select(factFields.map(f => col(f.name)) ++
        carry.map(c => when(covered, col(s"_v.$c")).as(c)): _*)
  }

  /** Order-independent per-group content fingerprint — the anti-entropy
    * primitive for replica/version sync (the Merkle-tree idea behind
    * Dynamo-style repair, applied per partition-group): two tables agree
    * on a group iff all three of (row count, XOR, modular sum) of a
    * per-row hash agree. Comparing two 100 TB replicas then costs one
    * scan of each plus a group-sized fingerprint join — no sort, no
    * shuffle of data rows, no row-by-row diff unless a group already
    * disagrees (then [[snapshots]] scoped to that group finds the rows).
    *
    * The row hash is the first 15 hex digits (60 bits) of md5 over the
    * U+0001-joined canonical strings of `cols` — 15 digits so the
    * value is always a positive BIGINT in every engine (16 would
    * overflow a signed 64-bit int), and each NULL becomes the U+0002
    * sentinel so it is distinguishable from the empty string (a column
    * whose data contains a literal U+0002 collides — documented edge,
    * irrelevant for real text). XOR alone is blind to any row repeated an
    * EVEN number of times (x ^ x = 0) — the count and the sum mod 2^62
    * close that hole (sum is also commutative, so the whole fingerprint
    * is partition- and order-invariant by construction).
    *
    * Scale shape: ONE scan, full map-side partial aggregation of all
    * three measures, one group-sized exchange. Callers pick `cols` with
    * engine-portable string forms (integers, strings, epoch ticks —
    * not raw doubles, whose formatting is engine-specific).
    */
  def fingerprint(df: DataFrame, keys: Seq[String],
                  cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "fingerprint: at least one content column")
    (keys ++ cols).foreach(c => require(df.columns.contains(c),
      s"fingerprint: no column $c"))
    require(keys.intersect(cols).isEmpty,
      s"fingerprint: ${keys.intersect(cols).mkString(",")} in both keys and cols")
    val canonical = cols.map(c => coalesce(col(c).cast("string"), lit("\u0002")))
    val h = conv(substring(md5(concat_ws("\u0001", canonical: _*)), 1, 15), 16, 10)
      .cast("long")
    val grouped = if (keys.isEmpty)
      df.select(h.as("__h")).groupBy()
    else
      df.select(keys.map(col) :+ h.as("__h"): _*).groupBy(keys.map(col): _*)
    grouped.agg(
      count(lit(1)).as("n"),
      expr("bit_xor(__h)").as("xor_fp"),
      (sum(col("__h").cast("decimal(38,0)")) % lit(BigDecimal(2L << 61)))
        .cast("long").as("sum_fp"))
  }
}
