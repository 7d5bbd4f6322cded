package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental JOIN-view maintenance — the missing half of the
  * materialized-view family: [[Diff.maintainAgg]] keeps an AGGREGATE
  * view current under a changelog; this keeps an EQUI-JOIN view
  * current under insert-only CDC on BOTH sides, without ever
  * re-running the join over the full tables.
  *
  * The delta algebra (insert-only): with per-batch inserts ΔL, ΔR,
  *
  *   (L ∪ ΔL) ⋈ (R ∪ ΔR) = L⋈R ∪ ΔL⋈(R ∪ ΔR) ∪ L⋈ΔR
  *
  * so the view grows by exactly two delta-sized joins per batch —
  * the arriving rows against the OTHER side's standing table (plus
  * the in-batch ΔL⋈ΔR, folded into the first term). Deletes/updates
  * are the keyed-aggregate path ([[Diff.maintainAggStream]] /
  * [[Diff.scd2Stream]]); a join view under retraction needs
  * per-row multiplicity bookkeeping this deliberately does not carry.
  *
  * Storage/atomicity ride [[graft.core.Catalog]]: `left`, `right`,
  * and `view` are three stores under ONE manifest swap, so a crash
  * mid-fold can never leave the view inconsistent with the sides it
  * was derived from — and savepoints, time travel, replication, and
  * the writer lease all apply to the join view for free.
  *
  * Scale shape per trigger: the deltas BROADCAST (batch-sized) onto
  * scans of the standing sides — the stored tables are read but never
  * shuffled, and nothing corpus-sized exchanges. The standing-side
  * scan per trigger is the price of generality; at extreme table
  * sizes, key-partition the stores (the bucketed-index posture) so
  * the scan prunes to the delta's key range.
  */
object JoinView {

  private def requireDisjoint(left: DataFrame, right: DataFrame,
                              keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "JoinView: at least one key column")
    keys.foreach { k =>
      require(left.columns.contains(k) && right.columns.contains(k),
        s"JoinView: key '$k' must exist on both sides")
    }
    val clash = left.columns.filterNot(keys.contains)
      .intersect(right.columns.filterNot(keys.contains))
    require(clash.isEmpty,
      s"JoinView: non-key columns collide across sides (${clash.mkString(", ")}) " +
        "— alias them apart; the view carries keys ++ left ++ right")
  }

  /** Stand up the catalog: the initial sides and their join as three
    * stores behind one manifest. Empty initial sides (`df.limit(0)`)
    * start a from-scratch continuous build.
    */
  def init(spark: SparkSession, base: String, left0: DataFrame,
           right0: DataFrame, keys: Seq[String]): Unit = {
    requireDisjoint(left0, right0, keys)
    graft.core.Catalog.init(base, Map(
      "left" -> left0, "right" -> right0,
      "view" -> left0.join(right0, keys)))
  }

  /** The three Catalog folds for one CDC batch: rows with `isLeft`
    * true fold into `left` via `projectLeft` (and symmetrically for
    * the right side); the view grows by the two delta joins. Feed to
    * [[graft.core.Catalog.ingest]] / [[graft.core.Catalog.ingestStream]]
    * — mid-ingest reads of `left`/`right` resolve through the
    * pre-swap manifest, so both delta joins see the OLD standing
    * sides regardless of fold order (the Catalog's atomicity point is
    * exactly what makes the algebra's L and R well-defined).
    */
  def folds(spark: SparkSession, base: String, keys: Seq[String],
            isLeft: Column,
            projectLeft: DataFrame => DataFrame,
            projectRight: DataFrame => DataFrame)
      : Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
    "left" -> ((cur: DataFrame, b: DataFrame) =>
      cur.unionByName(projectLeft(b.where(isLeft)))),
    "right" -> ((cur: DataFrame, b: DataFrame) =>
      cur.unionByName(projectRight(b.where(!isLeft)))),
    "view" -> ((cur: DataFrame, b: DataFrame) =>
      cur.unionByName(
        delta(spark, base, keys, isLeft, projectLeft, projectRight)(b)
          .select(cur.columns.map(col): _*))))

  /** The batch's contribution to the join view — ΔL ⋈ (R ∪ ΔR) ∪
    * L ⋈ ΔR, deltas broadcast, standing sides scan-only. Public so
    * DERIVED stores can fold the same delta under the same manifest
    * swap: appending `("agg", (cur, b) => cur ∪ aggregate(delta(...)(b)))`
    * to [[folds]] maintains a join-plus-aggregate view that can never
    * tear from the join it summarizes (q234's composition).
    */
  def delta(spark: SparkSession, base: String, keys: Seq[String],
            isLeft: Column,
            projectLeft: DataFrame => DataFrame,
            projectRight: DataFrame => DataFrame)(b: DataFrame): DataFrame = {
    val dl = projectLeft(b.where(isLeft))
    val dr = projectRight(b.where(!isLeft))
    val lOld = graft.core.Catalog.read(spark, base, "left")
    val rOld = graft.core.Catalog.read(spark, base, "right")
    broadcast(dl).join(rOld.unionByName(dr), keys)
      .unionByName(lOld.join(broadcast(dr), keys))
  }

  /** The current join view (keys ++ left columns ++ right columns). */
  def read(spark: SparkSession, base: String): DataFrame =
    graft.core.Catalog.read(spark, base, "view")

  // ======== banded, retraction-capable variant (full CDC) ========
  //
  // Two limits of the insert-only form above fall together here:
  //
  //  RETRACTIONS. Sides and view are kept as Z-MULTISETS — every
  //  distinct row carries a signed count `__mult` — so the delta
  //  algebra closes over deletes and updates: a changelog row signs
  //  ±1 (the `+I/+U/-U/-D` convention of [[Diff.maintainAgg]]),
  //  joins MULTIPLY counts, merges ADD them, and a row retires when
  //  its count reaches zero. Out-of-order CDC (a delete replayed
  //  before its insert) nets correctly because negative counts are
  //  retained in the stores and only filtered at read time.
  //
  //  BATCH-SIZED FOLDS. A Catalog generation is a full replacement,
  //  so the insert-only form's per-fold cost grows with accumulated
  //  view size (the scenario-45 finding). Here each logical table is
  //  HASH-BANDED into `bands` sibling Catalog stores (`left__b000`…,
  //  `right__…`, `view__…`) sharing one manifest: a batch folds ONLY
  //  the bands its keys land in, each a band-sized merge, and the
  //  untouched bands' generations ride the manifest swap unchanged.
  //  Per-fold cost is (touched bands) × (band size) — size `bands`
  //  so a band holds a bounded row target and the cost is flat in
  //  total view size. The standing-side scans of the delta joins
  //  prune the same way: ΔL only matches right rows in ΔL's own key
  //  bands, so only those band stores are read. Atomicity, savepoints,
  //  time travel, replication, and the writer lease are inherited
  //  from the Catalog untouched — bands are ordinary stores.

  /** Signed-count column carried by every banded store. */
  val MultCol = "__mult"

  private def bandStore(side: String, b: Int): String = f"${side}__b$b%03d"

  private def bandOf(keys: Seq[String], bands: Int): Column =
    pmod(hash(keys.map(col): _*), lit(bands))

  /** Collapse a plain table to its Z-multiset (distinct rows + count). */
  private def counted(df: DataFrame): DataFrame =
    df.groupBy(df.columns.map(col): _*).agg(count(lit(1)).as(MultCol))

  /** cur ⊎ delta over Z-multisets: counts add, zero-count rows retire. */
  private def mergeCounted(cur: DataFrame, delta: DataFrame): DataFrame = {
    val cols = cur.columns.filterNot(_ == MultCol)
    cur.unionByName(delta.select(cur.columns.map(col): _*))
      .groupBy(cols.map(col): _*)
      .agg(sum(col(MultCol)).as(MultCol))
      .where(col(MultCol) =!= 0)
  }

  /** Equi-join of Z-multisets: counts multiply. */
  private def joinCounted(l: DataFrame, r: DataFrame, keys: Seq[String]): DataFrame =
    l.withColumnRenamed(MultCol, "__ml")
      .join(r.withColumnRenamed(MultCol, "__mr"), keys)
      .withColumn(MultCol, col("__ml") * col("__mr"))
      .drop("__ml", "__mr")

  // (bands, keys) is immutable after initCdc — cached per base so the
  // per-trigger hot path never re-reads the meta store (the module's
  // latency is job-count-bound, like index search)
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Seq[String])]()

  private def cdcMeta(spark: SparkSession, base: String): (Int, Seq[String]) =
    metaCache.computeIfAbsent(base, { _ =>
      val r = graft.core.Catalog.read(spark, base, "meta").head()
      (r.getInt(0), r.getString(1).split(' ').toSeq)
    })

  /** Union of one side's band stores for the given band ids, resolved
    * through ONE manifest read; an empty id set yields an empty frame
    * of the right schema.
    */
  /** Union of one side's band stores out of a pre-resolved store map;
    * an empty id set yields an empty frame of the right schema (band 0
    * always exists and is always in the map).
    */
  private def unionBands(stores: Map[String, DataFrame], side: String,
                         ids: Seq[Int]): DataFrame =
    if (ids.isEmpty) stores(bandStore(side, 0)).limit(0)
    else ids.map(b => stores(bandStore(side, b))).reduce(_ unionByName _)

  /** The batch's SIGNED view delta, Δview = ΔL⋈R ⊎ ΔL⋈ΔR ⊎ L⋈ΔR —
    * the counted join is BILINEAR (mult(R⊎ΔR) = mult(R) + mult(ΔR)
    * and join counts multiply), so merging ΔR into R before the join
    * would only add a shuffle; all summation is left to the per-band
    * view merge. The plan is SHUFFLE-FREE: three broadcast joins of
    * the batch-sized deltas onto band-pruned standing scans and a
    * union (PlanQualitySpec pins it) — the only exchange in the whole
    * fold pipeline is the band-sized view merge itself.
    */
  private[graft] def cdcDelta(spark: SparkSession, base: String,
                              keys: Seq[String], bands: Int,
                              dl: DataFrame, lIds: Seq[Int],
                              dr: DataFrame, rIds: Seq[Int]): DataFrame = {
    val standing = graft.core.Catalog.readSome(spark, base,
      ((if (lIds.isEmpty) Seq(0) else lIds).map(bandStore("right", _)) ++
       (if (rIds.isEmpty) Seq(0) else rIds).map(bandStore("left", _))).distinct)
    val rOld = unionBands(standing, "right", lIds)
    val lOld = unionBands(standing, "left", rIds)
    joinCounted(broadcast(dl), rOld, keys)
      .unionByName(joinCounted(broadcast(dl), dr, keys))
      .unionByName(joinCounted(lOld, broadcast(dr), keys))
  }

  /** Stand up the banded catalog: `left0`/`right0` (plain tables; bag
    * semantics — duplicates become counts) become `bands` band stores
    * per side plus the banded initial join and a tiny `meta` store,
    * all behind one manifest. Size `bands` for the TARGET view scale:
    * per-fold cost is touched-bands × band-size, so aim for a band
    * row target (e.g. view_rows / 10⁶ rounded up to a power of two).
    */
  def initCdc(spark: SparkSession, base: String, left0: DataFrame,
              right0: DataFrame, keys: Seq[String], bands: Int): Unit = {
    requireDisjoint(left0, right0, keys)
    require(bands >= 1 && bands <= 4096, "JoinView.initCdc: 1 <= bands <= 4096")
    keys.foreach(k => require(!k.contains(' '),
      s"JoinView.initCdc: key '$k' must not contain spaces (meta encoding)"))
    (left0.columns ++ right0.columns).distinct.foreach { c =>
      require(c != MultCol && !c.startsWith("__m"),
        s"JoinView.initCdc: column '$c' collides with the reserved __mult/__ml/__mr namespace")
    }
    val l = counted(left0).persist()
    val r = counted(right0).persist()
    val v = joinCounted(l, r, keys).persist()
    try {
      import spark.implicits._
      val meta = Seq((bands, keys.mkString(" "))).toDF("bands", "keys")
      val stores = Map("meta" -> meta) ++ (0 until bands).flatMap { b =>
        Seq(bandStore("left", b) -> l.where(bandOf(keys, bands) === b),
            bandStore("right", b) -> r.where(bandOf(keys, bands) === b),
            bandStore("view", b) -> v.where(bandOf(keys, bands) === b))
      }
      graft.core.Catalog.init(base, stores)
      // overwrite, don't just seed: re-initializing the same path with
      // different bands/keys in one JVM must not serve the stale tuple
      metaCache.put(base, (bands, keys))
      ()
    } finally { l.unpersist(); r.unpersist(); v.unpersist() }
  }

  /** Apply one CDC batch: rows sign ±1 via `opCol` (`+I`/`+U` insert,
    * `-U`/`-D` retract — any other value raises in-plan), project to
    * their side via `leftProj`/`rightProj` (aliased column lists over
    * the batch), and fold into ONLY the touched band stores under one
    * manifest swap. Deltas are batch-sized and broadcast; the standing
    * sides are read band-pruned and never shuffled. Deterministic in
    * the batch, so a crash replay converges on the same store set.
    *
    * `derived` composes DERIVED stores under the SAME manifest swap
    * (the q234 pattern, retraction-capable): each `(name, fold)` folds
    * its store from the batch's SIGNED view delta — the persisted
    * Δview with the `__mult` column, counts ±, exactly what an
    * aggregate needs to add AND retract — and is applied only when the
    * delta is non-empty. The store must already exist
    * ([[graft.core.Catalog.addStore]]). RETIRE CONTRACT for derived
    * aggregates: drop a group only when EVERY aggregated measure is
    * zero — under out-of-order CDC a group legitimately transits
    * net-count 0 with a nonzero sum (delete-before-insert of a
    * different-valued row), and an n-only retire drops live in-flight
    * state (JoinViewSpec pins the regression).
    */
  def ingestCdc(spark: SparkSession, base: String, batchId: Long,
                batch: DataFrame, isLeft: Column, opCol: String,
                leftProj: Seq[Column], rightProj: Seq[Column],
                derived: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Nil): Unit =
    ingestCdcImpl(spark, base, batchId, batch, isLeft, opCol,
      leftProj, rightProj, derived, failAfter = Int.MaxValue)

  /** [[ingestCdc]] with [[graft.core.Catalog.ingestImpl]]'s crash
    * injection point, for the atomicity specs.
    */
  private[graft] def ingestCdcImpl(spark: SparkSession, base: String, batchId: Long,
                batch: DataFrame, isLeft: Column, opCol: String,
                leftProj: Seq[Column], rightProj: Seq[Column],
                derived: Seq[(String, (DataFrame, DataFrame) => DataFrame)],
                failAfter: Int): Unit = {
    if (batchId <= graft.core.Catalog.lastBatch(spark, base)) return
    val (bands, keys) = cdcMeta(spark, base)
    val sign = when(col(opCol).isin("+I", "+U"), lit(1L))
      .when(col(opCol).isin("-U", "-D"), lit(-1L))
      .otherwise(raise_error(concat(
        lit(s"JoinView.ingestCdc: $opCol must be one of +I, +U, -U, -D, got "),
        coalesce(col(opCol), lit("null")))))
    def delta(rows: DataFrame, proj: Seq[Column]): DataFrame = {
      val d = rows.select(proj :+ sign.as(MultCol): _*)
      val cols = d.columns.filterNot(_ == MultCol)
      d.groupBy(cols.map(col): _*).agg(sum(col(MultCol)).as(MultCol))
        .where(col(MultCol) =!= 0)
    }
    val dl = delta(batch.where(isLeft), leftProj).persist()
    val dr = delta(batch.where(!isLeft), rightProj).persist()
    val band = bandOf(keys, bands)
    def idsOf(d: DataFrame): Seq[Int] =
      d.select(band.as("b")).distinct().collect().map(_.getInt(0)).toSeq.sorted
    val lIds = idsOf(dl)
    val rIds = idsOf(dr)
    // Δview = ΔL ⋈ (R ⊎ ΔR) ⊎ L ⋈ ΔR, every standing read pruned to
    // the delta's own bands (equal keys hash to equal bands)
    // ONE manifest resolve covers both standing-side reads
    val dv = cdcDelta(spark, base, keys, bands, dl, lIds, dr, rIds).persist()
    val vIds = idsOf(dv)
    def bandFold(d: DataFrame, b: Int): (DataFrame, DataFrame) => DataFrame =
      (cur, _) => mergeCounted(cur, d.where(band === b))
    val folds =
      lIds.map(b => bandStore("left", b) -> bandFold(dl, b)) ++
      rIds.map(b => bandStore("right", b) -> bandFold(dr, b)) ++
      vIds.map(b => bandStore("view", b) -> bandFold(dv, b)) ++
      (if (vIds.isEmpty) Nil // empty view delta: derived stores unchanged
       else derived.map { case (name, fold) =>
         name -> ((cur: DataFrame, _: DataFrame) => fold(cur, dv))
       })
    try {
      // a fully self-cancelling batch still advances the shared ledger
      // (an identity fold of the tiny meta store) so its re-delivery
      // stays a no-op
      val effective = if (folds.isEmpty)
        Seq("meta" -> ((cur: DataFrame, _: DataFrame) => cur)) else folds
      graft.core.Catalog.ingestImpl(spark, base, batchId, batch, effective, failAfter)
    } finally { dl.unpersist(); dr.unpersist(); dv.unpersist() }
  }

  /** [[ingestCdc]] as a continuous stream (the shared ledger makes
    * replays exactly-once, as everywhere).
    */
  def ingestCdcStream(spark: SparkSession, stream: DataFrame, base: String,
                      isLeft: Column, opCol: String,
                      leftProj: Seq[Column], rightProj: Seq[Column],
                      checkpoint: Option[String] = None,
                      ephemeralOk: Boolean = false,
                      derived: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.core.SwapStore.writerStream(stream, base, checkpoint, ephemeralOk) { (b, bid) =>
      ingestCdc(spark, base, bid, b, isLeft, opCol, leftProj, rightProj, derived)
    }

  /** The current view with counts — one row per DISTINCT joined row
    * plus its multiplicity (reads prune nothing: the view is all
    * bands; filter before calling when a slice is wanted).
    */
  def readCdcCounted(spark: SparkSession, base: String): DataFrame = {
    val (bands, _) = cdcMeta(spark, base)
    val names = (0 until bands).map(bandStore("view", _))
    val some = graft.core.Catalog.readSome(spark, base, names)
    names.map(some).reduce(_ unionByName _)
      .where(col(MultCol) > 0)
  }

  /** The current view as a plain bag (counts expanded back to rows).
    * The working index lives in the `__m` namespace [[initCdc]] guards,
    * so it can never clobber a user column.
    */
  def readCdc(spark: SparkSession, base: String): DataFrame = {
    val v = readCdcCounted(spark, base)
    v.withColumn("__midx", explode(sequence(lit(1L), col(MultCol))))
      .drop("__midx", MultCol)
  }
}
