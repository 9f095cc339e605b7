package graft.lake

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incrementally maintained aggregate view over a [[LakeTable]]'s CDC log
  * — the lake twin of the reference's derived-graph pattern (a grafter
  * pipeline re-running `make-graph` folds over changed rows,
  * pipeline.clj's transform-then-load loop) recast as delta-driven view
  * maintenance: the view is itself a LakeTable keyed by the group, and
  * each `maintain` call folds exactly the base snapshots in
  * `(viewFrontier, baseHead]` into it.
  *
  * Semantics: `SELECT groups…, count(*) AS cnt, sum(exprᵢ) AS nameᵢ
  * [, aggⱼ AS nameⱼ] FROM base-current-state GROUP BY groups…` — kept
  * equal to the full recompute after every maintain, under inserts,
  * updates (including group-migrating updates: a key whose update moves
  * it from group g₁ to g₂ retracts from g₁ and adds to g₂), and deletes.
  * Sum expressions are evaluated per base row and cast to LONG
  * (decomposable + exact across engines — the same rational-over-float
  * choice as [[graft.operators.TermStats]]); rows where the expression
  * is null contribute 0 (oracle form: `sum(coalesce(expr, 0))`).
  * Non-decomposable aggregates (min/max/count-distinct…) are declared
  * separately as `recomputed` — they cannot be retracted (a delete can
  * RAISE a min). Lists made ONLY of bare min/max and bare
  * `count(distinct col)` entries still fold decomposably: min/max via
  * the hybrid path (insert extremes fold via least/greatest; only a
  * retraction AT a stored extreme recomputes that ONE group),
  * `count(distinct key)` as an alias of `cnt` (one live row per key),
  * and `count(distinct other-col)` via an internal two-level stacked
  * view (see [[stackFor]]) — O(changed keys) per fold at every level.
  * Anything else switches maintenance to affected-group recompute:
  * every group the range touched is re-aggregated from the base as-of
  * the fold target — cost ∝ the SIZE of the affected groups, so with
  * few giant groups prefer expressing the view in the decomposable
  * forms above.
  *
  * Incremental step for range (from, to]:
  *  1. range winners: [[LakeTable.changesBetween]] rows, max-`_lsn`
  *     reduced per key across the range (one shuffle, O(changed keys));
  *  2. before-images: pre-range winners of those keys — tombstone
  *     winners included, because their lsn still guards against late
  *     lower-lsn resurrection. This is the honest price of exact
  *     retraction without writer-side preimage capture: ONE
  *     column-pruned merged scan of the base per maintain, off the
  *     ingest critical path (the upsert hot path never pays it; a
  *     writer-captured preimage log is the documented upgrade path, as
  *     in Delta's CDF);
  *  3. LWW fold, mirroring the base merge exactly: a range winner
  *     becomes current only if it out-lsns the pre-range winner — LATE
  *     (out-of-order) versions that lose to the current state contribute
  *     nothing, so view folds commute with however the feed was batched;
  *  4. group delta: ±(cnt, sums) contributions aggregated by group —
  *     bounded by the batch, zero-net groups dropped;
  *  5. merge: current view values for the affected groups joined to the
  *     delta; a group whose new cnt is 0 becomes a tombstone (`op = D`),
  *     so vanished groups leave the view exactly as deleted keys leave
  *     the base.
  *
  * Exactly-once: the view upsert's `epochId` IS the base snapshot id
  * `to`, so the view's `lastCommittedEpoch` is the maintenance frontier —
  * a crash-replayed maintain of an already-folded range is a no-op
  * (epoch check), and every step is deterministic (seeded nothing,
  * wall-clock nothing), so a replay that does run writes identical
  * bytes. Do not interleave manual upserts into the view table: its
  * epoch space belongs to the base's snapshot ids.
  *
  * Scale posture at 10^10 base rows: per-maintain work is
  * O(changed keys) + one key/group/sum-column-pruned base scan
  * (before-images) + O(affected groups) on the view side. The view read
  * in step 4 is FILE-PRUNED to the touched groups' buckets on
  * multi-file views ([[LakeTable.winnersForKeySubset]] behind a
  * file-count pre-gate — see [[viewCurrent]]), so million-group views
  * with small folds never pay an O(groups) scan. Lagging views catch up in
  * bounded `maxSnapshots` ranges without replaying the feed, and a view
  * that lagged past the base's retention horizon fails loudly
  * (changesBetween's expiry contract) instead of silently skipping —
  * rebuild via a fresh [[MatView.create]] + [[MatView.maintain]]
  * bootstrap.
  *
  * Execution mode: a fold whose input — the manifest rows of every file
  * it opens: the range, the base unless captured before-images spare
  * it, the view and its stacks — is at most
  * [[LakeTable.InterpretedMaxRows]] (200 k) runs with Spark's
  * interpreted evaluation, which compiles nothing; larger folds compile
  * as before. A small fold's cost is fixed per Spark action, and most of
  * it was code generation; each stack fold picks its own mode.
  */
final class MatView private (
    spark: SparkSession,
    /** The view's backing table (read via [[read]]; exposed for
      * maintenance ops — compaction, expiry — which are safe). */
    val table: LakeTable,
    base: LakeTable,
    groupCols: Seq[String],
    sums: Seq[(String, String)],
    recomputed: Seq[(String, String)]) extends Maintainable {

  import MatView.{CntCol, KeyCol}

  /** The view's key: the group tuple as canonical JSON. `ignoreNullFields`
    * must be OFF — the default omits null fields, which would collide
    * `(null, 1)` with `(1)`-shaped tuples under multi-column grouping.
    */
  private def gkey: Column =
    to_json(struct(groupCols.map(g => col(g).as(g)): _*),
      Map("ignoreNullFields" -> "false"))

  /** A ±(groups…, cnt, sums…[, mm values…]) contribution struct over
    * pre-evaluated value columns (`valPrefix` selects the after / before
    * side); `mmCount` rides the min/max hybrid path's raw values along
    * (sign-independent — the SIGN is readable from the struct's cnt). */
  private def contribStruct(prefix: String, sign: Int, mmCount: Int = 0): Column =
    struct(
      groupCols.map(g => col(s"$prefix$g").as(g)) ++
        (lit(sign.toLong).as(CntCol) +:
          sums.zipWithIndex.map { case ((n, _), i) =>
            (lit(sign.toLong) * col(s"$prefix$SumValPrefix$i")).as(n)
          }) ++
        (0 until mmCount).map(i =>
          col(s"$prefix$MmValPrefix$i").as(s"$MmValPrefix$i")): _*)

  private val SumValPrefix = "_sv_"
  private val MmValPrefix = "_mmv_"

  /** `recomputed` parsed for the decomposable-maintenance paths: every
    * entry a bare min/max (hybrid fold) or a bare `count(distinct col)`
    * (cnt-alias / internal stacked views), or None when ANY entry is
    * something else, which keeps the full affected-group recompute path.
    */
  private lazy val recAggs: Option[Seq[MatView.RecAgg]] =
    MatView.parseRecomputed(spark, recomputed, groupCols)

  /** Internal stacked views backing exact decomposable count-distinct —
    * the mv14 pattern made internal (one stack per `count(distinct x)`
    * with x ≠ the base key): v1 counts live base rows per (groups…, x),
    * so zero-net pairs tombstone out, and v2 sums v1's live non-null-x
    * pairs per group, which IS `count(distinct x)`. Both levels fold
    * O(changed keys) — the fold cost the affected-group recompute path
    * pays in full-group re-aggregation becomes two decomposable folds.
    * `count(distinct key)` needs no stack at all: the current state
    * holds exactly one live row per key, so it equals `cnt`.
    * Created lazily under the view's own aux dir (self-healing: a view
    * created before stacking existed bootstraps its stack, pinned to
    * the next fold's target, on first use). v1 buckets like the BASE
    * (pair cardinality scales with base keys), v2 like the view.
    */
  private val stackCache =
    scala.collection.mutable.Map.empty[String, (MatView, MatView)]
  private def stackFor(cd: MatView.CdAgg): (MatView, MatView) =
    stackCache.getOrElseUpdate(cd.name, {
      val r1 = s"${table.root}/aux/cd-${cd.name}-pairs"
      val r2 = s"${table.root}/aux/cd-${cd.name}-counts"
      val v1 =
        if (table.fs.exists(s"$r1/meta")) MatView.load(spark, r1, base, fs = table.fs)
        else MatView.create(spark, r1, base, groupCols :+ cd.xcol,
          numBuckets = base.numBuckets, fs = table.fs)
      val v2 =
        if (table.fs.exists(s"$r2/meta")) MatView.load(spark, r2, v1.table, fs = table.fs)
        else MatView.create(spark, r2, v1.table, groupCols,
          sums = Seq(cd.name -> s"IF(`${cd.xcol}` IS NOT NULL, 1L, 0L)"),
          numBuckets = table.numBuckets, fs = table.fs)
      (v1, v2)
    })

  /** File count of the last fold's view-side current read (step 4/5) —
    * observability for the pruned path (specs pin that a small fold on a
    * multi-file view opens a strict subset). */
  private[graft] var lastViewReadFiles: Int = -1

  /** Current view rows projected to `names` (the key rides along),
    * FILE-PRUNED to the fold's touched groups when their key set is
    * bounded: the group keys are collected driver-side (`gdeltaCk` is
    * checkpointed and bounded by the batch) and the read opens only
    * those keys' buckets' bloom-surviving files
    * ([[LakeTable.winnersForKeySubset]], whose selectivity gate serves
    * the plain full scan whenever pruning can't skip much — e.g. a
    * few-file sandbox view). Callers key-restrict by joining on
    * [[MatView.KeyCol]], satisfying the subset contract. Million-group
    * views with small folds stop paying an O(groups) view scan per
    * maintain; a fold touching more keys than the cap reads most
    * buckets anyway, so the full merged read is the better plan there.
    */
  private def viewCurrent(gdelta: DataFrame, names: Seq[String])
      : (DataFrame, DataFrame) = {
    // metadata-only pre-gate: probing costs a checkpoint job + a driver
    // collect per fold, which measured ~10-25% of a whole sandbox fold —
    // pure overhead on a small view whose handful of files the ≥80%
    // selectivity gate would keep anyway. Only a view with enough live
    // files for pruning to plausibly win pays the probe at all.
    if (table.liveFiles().size < MatView.MinPrunedViewFiles) {
      lastViewReadFiles = -1
      return (gdelta, table.read())
    }
    val ck = gdelta.localCheckpoint() // bounded: touched groups
    val probe = ck.select(col(KeyCol))
      .limit(MatView.MaxPrunedViewKeys + 1).collect()
      .map(_.getString(0)).toSeq
    val df =
      if (probe.nonEmpty && probe.length <= MatView.MaxPrunedViewKeys)
        table.winnersForKeySubset(probe, columns = names)
          .filter(!col(LakeTable.TombCol))
          .drop(LakeTable.LsnCol, LakeTable.TombCol)
      else table.read()
    lastViewReadFiles = df.inputFiles.length
    (ck, df)
  }

  /** Fold this view forward until its frontier reaches `target`,
    * EXACT-as-of: bootstrap and range ends are pinned ≤ target even if
    * the base head has advanced past it — the lockstep driver for
    * internal stacks (their state must be read at the PARENT fold's
    * target, never at a fresher base head). */
  private[lake] def maintainTo(target: Long): Unit = {
    var f = table.lastCommittedEpoch
    while (f < target && maintainImpl(Int.MaxValue, pin = target).isDefined)
      f = table.lastCommittedEpoch
  }

  /** Pre-evaluate the min/max INNER expressions per row (cast to the
    * view's stored column type so decomposable folds compare and union
    * against stored extremes exactly). */
  private def withMmVals(images: DataFrame,
                         mm: Seq[(String, Boolean, String)]): DataFrame =
    mm.zipWithIndex.foldLeft(images) { case (df, ((n, _, inner), i)) =>
      df.withColumn(s"$MmValPrefix$i",
        expr(inner).cast(table.currentSchema.sparkSchema(n).dataType))
    }

  /** Groups the last maintain re-aggregated from base (0 on every
    * insert-only or below-extreme fold on the min/max hybrid path; every
    * touched group on the legacy path) — observability for the specs and
    * smoke probes. */
  private[graft] var lastRecomputedGroups: Long = -1L

  /** Output column names in view-schema order (after the groups). */
  private def aggNames: Seq[String] =
    CntCol +: (sums.map(_._1) ++ recomputed.map(_._1))

  /** The full aggregate list — cnt, decomposable sums, recompute aggs —
    * used by the bootstrap and by affected-group recomputes. */
  private def fullAggs: Seq[Column] =
    count(lit(1)).as(CntCol) +:
      (sums.map { case (n, e) =>
        sum(coalesce(expr(e).cast(LongType), lit(0L))).as(n)
      } ++ recomputed.map { case (n, e) => expr(e).as(n) })

  /** Pre-evaluate the sum expressions (null → 0, cast LONG) so both join
    * sides expose plain value columns the contribution structs can share.
    */
  private def withSumVals(images: DataFrame): DataFrame =
    sums.zipWithIndex.foldLeft(images) { case (df, ((_, e), i)) =>
      df.withColumn(s"$SumValPrefix$i", coalesce(expr(e).cast(LongType), lit(0L)))
    }

  /** Base columns the view actually reads: groups + every attribute the
    * sum/recompute expressions reference — the projection handed to the
    * pruned winner merges. */
  private def neededBaseCols: Seq[String] = {
    val fromExprs = (sums ++ recomputed).flatMap { case (_, e) =>
      spark.sessionState.sqlParser.parseExpression(e).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head
      }
    }
    (groupCols ++ fromExprs).distinct
  }

  /** Fold base snapshots `(viewFrontier, min(baseHead, frontier +
    * maxSnapshots)]` into the view; returns the new frontier if anything
    * was folded. First call on a fresh view bootstraps with a full
    * recompute at the base head (one groupBy — no changelog replay, so
    * it also works on tables whose early history was expired).
    */
  def maintain(maxSnapshots: Int = Int.MaxValue): Option[Long] = {
    require(maxSnapshots > 0, s"maxSnapshots must be positive: $maxSnapshots")
    maintainImpl(maxSnapshots, Long.MaxValue)
  }

  private def maintainImpl(maxSnapshots: Int, pin: Long): Option[Long] = {
    base.refresh()
    val from = table.lastCommittedEpoch
    val head = math.min(base.currentSnapshotId, pin)
    if (head < 0 || head <= from) return None

    // the decomposable-recompute parse, needed by bootstrap and fold
    // alike: mm rides the hybrid min/max fold, cd the cnt-alias /
    // stacked-view fold; a None parse keeps the legacy recompute path
    val parsed0: Seq[MatView.RecAgg] =
      if (recomputed.nonEmpty) recAggs.getOrElse(Seq.empty) else Seq.empty
    val stacked0 = parsed0.collect {
      case c: MatView.CdAgg if c.xcol != base.keyCol => c
    }
    // SIZE GATE for the stacked fold: per fold the stack pays two extra
    // table commits (v1, v2), a fixed floor that measured SLOWER than
    // legacy affected-group recompute on a 4 M-row base (ViewSmoke
    // distinct 5.4 vs distinct_legacy 4.4 s/fold) — the stack's
    // O(changed keys) asymptotics only beat the recompute's
    // O(affected-group size) once re-aggregating the groups costs more
    // than the commit floor. Manifest row count (driver-side metadata,
    // an upper bound on any group's size) is the proxy: small bases take
    // the legacy recompute, large bases — where a giant group would make
    // recompute a per-fold full-base scan — take the stack. Existing
    // stacks keep being used (no flapping; a spec or a shrunken table
    // never strands a maintained stack).
    val useStacks = stacked0.isEmpty ||
      LakeTable.rowsIn(base.liveFiles()) >= MatView.StackMinBaseRows ||
      stackCache.nonEmpty ||
      table.fs.exists(s"${table.root}/aux/cd-${stacked0.head.name}-pairs/meta")
    val aggsParsed: Seq[MatView.RecAgg] = if (useStacks) parsed0 else Seq.empty
    val mm: Seq[(String, Boolean, String)] =
      aggsParsed.collect { case MatView.MmAgg(n, m, e) => (n, m, e) }
    val cds: Seq[MatView.CdAgg] = aggsParsed.collect { case c: MatView.CdAgg => c }
    val stacked = cds.filter(_.xcol != base.keyCol)

    if (from < 0) { // bootstrap: full recompute at head (projected —
      // the scan never reads columns the view doesn't aggregate; pinned
      // to `head` so a concurrent base writer can't smear the snapshot)
      // internal count-distinct stacks bootstrap first, pinned to the
      // same head, so later folds find them at the view's frontier
      stacked.foreach { cd =>
        val (v1, v2) = stackFor(cd)
        v1.maintainTo(head)
        v2.maintainTo(v1.table.currentSnapshotId)
      }
      interpretedWhenSmall(base.liveFiles()) {
        val full = base.mergedWinners(Some(head), neededBaseCols)
          .filter(!col(LakeTable.TombCol))
          .groupBy(groupCols.map(col): _*)
          .agg(fullAggs.head, fullAggs.tail: _*)
        val cols: Seq[Column] =
          Seq(lit("I").as("op"), gkey.as(KeyCol), lit(head).as("lsn")) ++
            groupCols.map(col) ++ aggNames.map(col)
        table.upsert(full.select(cols: _*), epochId = head, reduce = false,
          summary = Map("matview" -> "bootstrap"))
      }
      return Some(head)
    }

    // the fold target never trails an internal stack's frontier: a crash
    // between a stack fold and the main upsert may have left the stack
    // ahead, and the main fold must read stack state AT its own target —
    // flooring `to` at the stack frontier restores lockstep (bounded by
    // `head`, since stacks only ever fold to past pins ≤ head)
    val to0 = math.min(head, from + maxSnapshots.toLong)
    val to =
      if (stacked.isEmpty) to0
      else math.max(to0,
        stacked.map(cd => stackFor(cd)._1.table.lastCommittedEpoch).max)
    // min/max entries ride the HYBRID path: extremes are decomposable
    // under inserts (least/greatest against the stored value), and only
    // a retraction AT a group's stored extreme forces that one group's
    // re-aggregation — an insert-only fold never touches the base at
    // all. count(distinct col) entries ride the same fold: the value is
    // the base `cnt` when col IS the key (one live row per key), else
    // it is read from the internal stack maintained in lockstep here,
    // BEFORE this fold picks its execution mode — each stack fold picks
    // its own from its own input.
    val hybrid = aggsParsed.nonEmpty
    if (hybrid) stacked.foreach { cd =>
      val (v1, v2) = stackFor(cd)
      v1.maintainTo(to)
      v2.maintainTo(v1.table.currentSnapshotId)
    }
    // 2. before-images (the input of step 3): pre-range winners of the
    // changed keys, tombstone winners INCLUDED — their lsn must keep
    // guarding against late lower-lsn resurrection, exactly as in the
    // base's own merge. Writer-captured preimages
    // ([[LakeTable.beforeImages]]) serve this O(range) with NO base scan
    // when the ingest ran with `capturePreimages` — the
    // batch-proportional fold. Otherwise ONE left join does both the key
    // restriction and the pairing, with the merge PROJECTED to the
    // view-relevant columns — a (source, n_tok) view over a token-array
    // table never drags the arrays through it.
    val captured = base.beforeImages(from, to, neededBaseCols)
    // the files the fold opens: the range, the base unless a capture
    // serves the before-images (its files hold at most one row per range
    // key and are not in the manifest) and no recompute merges it, and
    // the view-side reads. The base is sized at its head, whose live set
    // is already folded: sizing it as-of `from` would time-travel, and a
    // range past the retention horizon must still fail on its changelog
    // read, as it always has.
    val mergesBase = captured.isEmpty || mm.nonEmpty || !hybrid && recomputed.nonEmpty
    val reads = base.changedFiles(from, to) ++
      (if (mergesBase) base.liveFiles() else Nil) ++
      table.liveFiles() ++ stacked.flatMap(cd => stackFor(cd)._2.table.liveFiles())
    interpretedWhenSmall(reads) {
      val contribs = contributions(from, to, captured, mm, hybrid)
      if (hybrid) foldHybrid(contribs, from, to, mm, cds, stacked)
      else if (recomputed.nonEmpty) foldRecompute(contribs, from, to)
      else foldDecomposable(contribs, from, to)
    }
    Some(to)
  }

  private def interpretedWhenSmall[T](reads: Seq[FileEntry])(body: => T): T =
    LakeTable.interpretedWhenSmall(Seq(spark, base.spark), reads)(body)

  /** Steps 1–3 for range (from, to]: the signed ±(groups…, cnt, sums…[,
    * mm values…]) contribution rows of every key whose visible state the
    * range changed, given the writer-`captured` before-images if any. */
  private def contributions(from: Long, to: Long, captured: Option[DataFrame],
      mm: Seq[(String, Boolean, String)], hybrid: Boolean): DataFrame = {
    val key = base.keyCol
    def withVals(df: DataFrame): DataFrame =
      if (hybrid) withMmVals(withSumVals(df), mm) else withSumVals(df)
    // 1. after-images: per-key winner WITHIN the range (tombstones ride
    // along). This is only a candidate — late data means a range winner
    // can still lose to the pre-range state on lsn (step 3). The range
    // read projects to the view-relevant columns before the winner agg —
    // like the before-image merge, the changelog scan never hauls
    // payload the view doesn't aggregate.
    val delta = base.changesBetween(from, to).select(
      (key +: (neededBaseCols :+ LakeTable.LsnCol :+ LakeTable.TombCol))
        .distinct.map(col): _*)
    val payload = delta.columns.filterNot(_ == key).toSeq
    val rangeW = withVals(delta
      .groupBy(col(key))
      .agg(max_by(struct(payload.map(col): _*), col(LakeTable.LsnCol)).as("_w"))
      .select(col(key) +: payload.map(c => col(s"_w.$c").as(c)): _*))
    val beforeAll = withVals(
      captured.getOrElse(base.mergedWinners(Some(from), neededBaseCols)))
    val bCols = beforeAll.columns.filterNot(_ == key).toSeq
    val joined = rangeW.join(
      beforeAll.select(col(key) +: bCols.map(c => col(c).as(s"_b_$c")): _*),
      Seq(key), "left")
    // 3. the fold mirrors the merge's LWW rule: the range winner becomes
    // current ONLY if it out-lsns the pre-range winner; otherwise the
    // key's visible state is unchanged and it contributes nothing. Plus
    // (new winner) and minus (retracted before-image) ride ONE pass as
    // signed contribution structs.
    val blsn = col(s"_b_${LakeTable.LsnCol}")
    joined
      .filter(blsn.isNull || col(LakeTable.LsnCol) > blsn)
      .select(explode(array(
        when(!col(LakeTable.TombCol), contribStruct("", +1, mm.size)),
        when(blsn.isNotNull && !col(s"_b_${LakeTable.TombCol}"),
          contribStruct("_b_", -1, mm.size)))).as("_c"))
      .filter(col("_c").isNotNull)
      .select(col("_c.*"))
  }

  /** HYBRID fold: per group, fold cnt/sum deltas decomposably AND track
    * the inserted-side / retracted-side extremes of every min/max agg.
    * Zero-net groups are KEPT when any extreme value moved (a value-only
    * update can shift a min without touching cnt or sums). */
  private def foldHybrid(contribs: DataFrame, from: Long, to: Long,
      mm: Seq[(String, Boolean, String)], cds: Seq[MatView.CdAgg],
      stacked: Seq[MatView.CdAgg]): Unit = {
    val insRet: Seq[Column] = mm.zipWithIndex.flatMap { case ((n, isMin, _), i) =>
      val v = col(s"$MmValPrefix$i")
      val ins = when(col(CntCol) > 0, v)
      val ret = when(col(CntCol) < 0, v)
      Seq((if (isMin) min(ins) else max(ins)).as(s"_ins_$n"),
        (if (isMin) min(ret) else max(ret)).as(s"_ret_$n"))
    }
    val aggs = (sum(CntCol).as(CntCol) +:
      sums.map(s => sum(s._1).as(s._1))) ++ insRet
    // with count-distinct entries, EVERY contribution group is kept: a
    // zero-net (cnt, sums, extremes) fold can still move a distinct
    // count (one key's x retracted, another's inserted), and contrib
    // groups are bounded by the batch anyway
    val touched =
      if (cds.nonEmpty) lit(true)
      else mm.map(m => col(s"_ins_${m._1}").isNotNull ||
          col(s"_ret_${m._1}").isNotNull)
        .foldLeft(sums.map(s => col(s._1) =!= 0)
          .foldLeft(col(CntCol) =!= 0)(_ || _))(_ || _)
    val gdelta = contribs
      .groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .filter(touched)
      .withColumn(KeyCol, gkey)
    val curCols: Seq[Column] =
      Seq(col(KeyCol), col(CntCol).as("_oc")) ++
        sums.map(s => col(s._1).as(s"_o_${s._1}")) ++
        mm.map(m => col(m._1).as(s"_om_${m._1}"))
    val (gdeltaCk, cur0) = viewCurrent(gdelta,
      (CntCol +: sums.map(_._1)) ++ mm.map(_._1))
    val cur = cur0.select(curCols: _*)
    // a group needs recomputing ONLY when a retraction's value reaches
    // its stored extreme (removing the possible last witness of the
    // min/max) — or, defensively, when a retraction exists with no
    // stored row to compare against. Groups whose cnt reaches 0 are
    // tombstoned outright, no recompute needed.
    val needRec =
      if (mm.isEmpty) lit(false)
      else mm.map { case (n, isMin, _) =>
        val ret = col(s"_ret_$n"); val stored = col(s"_om_$n")
        ret.isNotNull && (stored.isNull ||
          (if (isMin) ret <= stored else ret >= stored))
      }.reduce(_ || _)
    val classified0 = gdeltaCk.join(cur, Seq(KeyCol), "left")
      .withColumn("_newCnt", coalesce(col("_oc"), lit(0L)) + col(CntCol))
      .withColumn("_rec", needRec && col("_newCnt") =!= 0)
      .localCheckpoint() // bounded: distinct touched groups
    // non-key count-distinct values come from the stacks (already
    // folded to `to`): one small left join per cd against the stack's
    // per-group counts — never a base re-aggregation
    val classified = stacked.foldLeft(classified0) { case (df, cd) =>
      df.join(stackFor(cd)._2.table.read()
          .select(col(KeyCol), col(cd.name).as(s"_nd_${cd.name}")),
        Seq(KeyCol), "left")
    }
    lastRecomputedGroups = classified0.filter(col("_rec")).count()
    val decCols: Seq[Column] =
      Seq(when(col("_newCnt") === 0, "D").otherwise("U").as("op"),
        col(KeyCol), lit(to).as("lsn")) ++
        groupCols.map(col) ++
        Seq(col("_newCnt").as(CntCol)) ++
        sums.map(s =>
          (coalesce(col(s"_o_${s._1}"), lit(0L)) + col(s._1)).as(s._1)) ++
        mm.map { case (n, isMin, _) =>
          // least/greatest skip nulls: a fresh group takes the inserted
          // extreme, an untouched-extreme group keeps the stored one
          val comb = if (isMin) least(col(s"_om_$n"), col(s"_ins_$n"))
            else greatest(col(s"_om_$n"), col(s"_ins_$n"))
          when(col("_newCnt") === 0, lit(null)).otherwise(comb).as(n)
        } ++
        cds.map { cd =>
          // count(distinct key) IS the live row count; other columns'
          // counts come from the stack join (0 for a live group whose
          // pairs are all-null-x — count distinct ignores nulls)
          val v: Column =
            if (cd.xcol == base.keyCol) col("_newCnt")
            else coalesce(col(s"_nd_${cd.name}"), lit(0L))
          when(col("_newCnt") === 0, lit(null)).otherwise(v).as(cd.name)
        }
    val decRows = classified.filter(!col("_rec")).select(decCols: _*)
    val rows =
      if (lastRecomputedGroups == 0) decRows
      else {
        val recKeys = classified.filter(col("_rec"))
          .select(col(KeyCol) +: groupCols.map(col): _*)
        decRows.unionByName(recomputeRows(recKeys, to))
      }
    table.upsert(rows, epochId = to, reduce = false,
      summary = Map("matview" -> s"($from,$to] hybrid"))
    classified0.unpersist()
    gdeltaCk.unpersist()
  }

  /** View rows for the groups `keys` (KeyCol + groups) re-aggregated from
    * the base as-of `to`; a group with no live base row left becomes a
    * tombstone. */
  private def recomputeRows(keys: DataFrame, to: Long): DataFrame = {
    val rec = base.mergedWinners(Some(to), neededBaseCols)
      .filter(!col(LakeTable.TombCol))
      .drop(LakeTable.LsnCol, LakeTable.TombCol)
      .withColumn(KeyCol, gkey)
      .join(keys.select(col(KeyCol)), Seq(KeyCol), "left_semi")
      .groupBy(col(KeyCol))
      .agg(fullAggs.head, fullAggs.tail: _*)
    val recCols: Seq[Column] =
      Seq(when(col(CntCol).isNull, "D").otherwise("U").as("op"),
        col(KeyCol), lit(to).as("lsn")) ++
        groupCols.map(col) ++ aggNames.map(col)
    keys.join(rec, Seq(KeyCol), "left").select(recCols: _*)
  }

  /** Affected-group recompute: non-decomposable aggregates (min/max/
    * distinct) cannot be retracted, so every group TOUCHED by the range —
    * including zero-net touches, whose min/max may still have moved — is
    * recomputed from the base as-of `to`. Cost ∝ the SIZE of the affected
    * groups (group-restricted scan), vs the decomposable path's cost ∝
    * changed keys: with few giant groups prefer sums-only views, with
    * many small groups this is cheap. */
  private def foldRecompute(contribs: DataFrame, from: Long, to: Long): Unit = {
    val affected = contribs.select(groupCols.map(col): _*).distinct()
      .withColumn(KeyCol, gkey)
      .localCheckpoint() // bounded: distinct touched groups
    val snap = table.upsert(recomputeRows(affected, to), epochId = to, reduce = false,
      summary = Map("matview" -> s"($from,$to] recompute"))
    // the delta holds exactly one row per affected group, and its footer
    // row count is already in the manifest — no counting job
    lastRecomputedGroups = snap.fold(0L)(s => LakeTable.rowsIn(s.addedData))
    affected.unpersist()
  }

  /** Decomposable fold: ±(cnt, sums) per group, merged into the current
    * view values of the touched groups only. */
  private def foldDecomposable(contribs: DataFrame, from: Long, to: Long): Unit = {
    lastRecomputedGroups = 0L // decomposable: never re-aggregates from base
    val gdelta = contribs
      .groupBy(groupCols.map(col): _*)
      .agg(sum(CntCol).as(CntCol),
        sums.map(s => sum(s._1).as(s._1)): _*)
      .filter(sums.map(s => col(s._1) =!= 0)
        .foldLeft(col(CntCol) =!= 0)(_ || _))
      .withColumn(KeyCol, gkey)
    // 4. merge into current view values (affected groups only) — the
    // view-side read file-pruned to the touched groups' buckets
    val curCols: Seq[Column] =
      Seq(col(KeyCol), col(CntCol).as("_oc")) ++
        sums.map(s => col(s._1).as(s"_o_${s._1}"))
    val (gdeltaCk, cur0) = viewCurrent(gdelta, CntCol +: sums.map(_._1))
    val cur = cur0.select(curCols: _*)
    val mergedCols: Seq[Column] =
      Seq(col(KeyCol)) ++ groupCols.map(col) ++
        Seq((coalesce(col("_oc"), lit(0L)) + col(CntCol)).as(CntCol)) ++
        sums.map(s =>
          (coalesce(col(s"_o_${s._1}"), lit(0L)) + col(s._1)).as(s._1))
    val merged = gdeltaCk.join(cur, Seq(KeyCol), "left").select(mergedCols: _*)
    val rowCols: Seq[Column] =
      Seq(when(col(CntCol) === 0, "D").otherwise("U").as("op"),
        col(KeyCol), lit(to).as("lsn")) ++
        groupCols.map(col) ++ Seq(col(CntCol)) ++ sums.map(s => col(s._1))
    table.upsert(merged.select(rowCols: _*), epochId = to, reduce = false,
      summary = Map("matview" -> s"($from,$to]"))
    gdeltaCk.unpersist()
  }

  /** Loop [[maintain]] to the base head; returns the final frontier
    * (−1 if the base is empty). */
  def catchUp(maxSnapshotsPerStep: Int = Int.MaxValue): Long = {
    var last = table.lastCommittedEpoch
    var step = maintain(maxSnapshotsPerStep)
    while (step.isDefined) { last = step.get; step = maintain(maxSnapshotsPerStep) }
    last
  }

  override def catchUpAll(): Unit = { catchUp(); () }

  /** Current view contents: (groups…, cnt, sums…). */
  def read(): DataFrame = table.read().drop(KeyCol)
}

object MatView {
  private[lake] val KeyCol = "_g"

  /** One parsed `recomputed` entry eligible for decomposable
    * maintenance: a bare min/max (hybrid fold) or a bare
    * `count(distinct col)` (cnt-alias when col is the base key, else the
    * internal stacked-view fold). */
  private[lake] sealed trait RecAgg
  private[lake] final case class MmAgg(name: String, isMin: Boolean,
      inner: String) extends RecAgg
  private[lake] final case class CdAgg(name: String, xcol: String) extends RecAgg

  /** Parse a `recomputed` list for the decomposable paths: Some(entries)
    * iff EVERY entry is a bare `min(expr)` / `max(expr)` (no DISTINCT,
    * no FILTER, one argument) or a bare `count(distinct col)` over a
    * single plain column that is neither a group column (distinct count
    * of a group col is degenerate) nor named like the view's `cnt`
    * (whose stack table would collide). Anything else — or any parse
    * failure — returns None, keeping the full affected-group recompute
    * path: the decomposable folds are an optimization, never a
    * semantics change. */
  private[lake] def parseRecomputed(spark: SparkSession,
      recomputed: Seq[(String, String)],
      groupCols: Seq[String]): Option[Seq[RecAgg]] = {
    if (recomputed.isEmpty) return None
    val parser = spark.sessionState.sqlParser
    val parsed: Seq[Option[RecAgg]] =
      recomputed.map { case (n, sql) =>
        try parser.parseExpression(sql) match {
          case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
              if !f.isDistinct && f.filter.isEmpty && f.arguments.size == 1 &&
                f.nameParts.size == 1 &&
                Set("min", "max").contains(f.nameParts.head.toLowerCase) =>
            Some(MmAgg(n, f.nameParts.head.equalsIgnoreCase("min"),
              f.arguments.head.sql))
          case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
              if f.isDistinct && f.filter.isEmpty && f.arguments.size == 1 &&
                f.nameParts.size == 1 &&
                f.nameParts.head.equalsIgnoreCase("count") =>
            f.arguments.head match {
              case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
                  if a.nameParts.size == 1 &&
                    !groupCols.contains(a.nameParts.head) &&
                    a.nameParts.head != CntCol =>
                Some(CdAgg(n, a.nameParts.head))
              case _ => None
            }
          case _ => None
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    if (parsed.forall(_.isDefined)) Some(parsed.map(_.get)) else None
  }

  /** Always-maintained row count per group (drives tombstoning). */
  val CntCol = "cnt"

  /** Driver-side cap on the collected touched-group key set that unlocks
    * the file-pruned view-side read (same bound philosophy as
    * [[JoinView.MaxPrunedKeys]]): 64k keys is a few MB on the driver; a
    * fold touching more groups than this reads most buckets anyway. */
  val MaxPrunedViewKeys = 65536

  /** Minimum live view files before a fold pays the pruning probe at
    * all (checkpoint + driver collect, measured 10-25% of a small
    * sandbox fold): below this the ≥80% selectivity gate would keep
    * nearly every file anyway, so the full merged read wins. */
  val MinPrunedViewFiles = 24

  /** Minimum base live rows (manifest metadata) before non-key
    * count-distinct maintenance switches from legacy affected-group
    * recompute to the internal stacked fold — below it the stack's two
    * extra commits per fold cost more than re-aggregating the groups
    * (measured crossover ~4 M rows on this hardware; set conservatively
    * above it). Mutable for tests and for cluster tuning via config
    * wrappers; existing stacks keep being used regardless. */
  private[graft] var StackMinBaseRows: Long = 16L * 1024 * 1024

  /** Create the view's backing table + persisted definition. `sums` are
    * `(outputName, sqlExpr)` pairs evaluated against base rows and cast
    * to LONG — maintained incrementally (retraction arithmetic).
    * `recomputed` are `(outputName, aggregateSqlExpr)` pairs — e.g.
    * `"min(n_tok)"`, `"max(element_at(tokens, 1))"`,
    * `"count(distinct doc_id)"` — for aggregates that CANNOT be
    * retracted; lists made only of bare min/max and bare
    * `count(distinct col)` ride the decomposable hybrid fold (see
    * [[MatView.maintain]] — count-distinct is maintained exactly via
    * the cnt-alias or an INTERNAL stacked view, the mv14 pattern:
    * `v1 = (groups…, x)` pair counts whose zero-net pairs tombstone
    * out, `v2` counts v1's live pairs per group — O(changed keys) at
    * both levels, MatViewSpec pins exactness and zero recompute).
    * Anything else switches maintenance to affected-group recompute
    * (cost note there).
    * Output column types for `recomputed` are resolved by planning the
    * aggregation against the base schema, so a non-aggregate or
    * ill-typed expression fails HERE, not at the first maintain.
    */
  def create(spark: SparkSession, viewRoot: String, base: LakeTable,
             groupCols: Seq[String], sums: Seq[(String, String)] = Seq.empty,
             recomputed: Seq[(String, String)] = Seq.empty,
             numBuckets: Int = 8, fs: LakeFs = null): MatView = {
    require(groupCols.nonEmpty, "at least one group column")
    val baseSchema = base.currentSchema.sparkSchema
    groupCols.foreach(g => require(baseSchema.fieldNames.contains(g),
      s"group column '$g' is not a base column " +
        s"(have: ${baseSchema.fieldNames.mkString(", ")})"))
    val outNames = groupCols ++ Seq(CntCol) ++ sums.map(_._1) ++ recomputed.map(_._1)
    require(outNames.distinct.size == outNames.size,
      s"view output names collide: ${outNames.mkString(", ")}")
    val recFields =
      if (recomputed.isEmpty) Seq.empty
      else {
        val probe = base.read().limit(0)
          .groupBy(groupCols.map(org.apache.spark.sql.functions.col): _*)
          .agg(expr(recomputed.head._2).as(recomputed.head._1),
            recomputed.tail.map { case (n, e) => expr(e).as(n) }: _*)
        recomputed.map { case (n, _) =>
          StructField(n, probe.schema(n).dataType, nullable = true)
        }
      }
    val fields =
      StructField(KeyCol, StringType, nullable = false) +:
        (groupCols.map(g => baseSchema(g).copy(nullable = true)) ++
          (StructField(CntCol, LongType, nullable = true) +:
            sums.map { case (n, _) => StructField(n, LongType, nullable = true) }) ++
          recFields)
    val table = LakeTable.create(spark, viewRoot, StructType(fields),
      keyCol = KeyCol, numBuckets = numBuckets, fs = fs)
    table.fs.createDirectories(s"$viewRoot/aux")
    table.fs.putStringAtomic(s"$viewRoot/aux/viewdef.json",
      defJson(groupCols, sums, recomputed), createOnly = false)
    new MatView(spark, table, base, groupCols, sums, recomputed)
  }

  /** Load an existing view from its persisted definition. */
  def load(spark: SparkSession, viewRoot: String, base: LakeTable,
           fs: LakeFs = null): MatView = {
    val table = LakeTable.load(spark, viewRoot, fs = fs)
    val n = mapper.readTree(table.fs.readString(s"$viewRoot/aux/viewdef.json"))
    import scala.jdk.CollectionConverters._
    def pairs(field: String): Seq[(String, String)] =
      Option(n.get(field)).map(_.elements().asScala
        .map(e => e.get(0).asText() -> e.get(1).asText()).toSeq)
        .getOrElse(Seq.empty)
    val groups = n.get("groups").elements().asScala.map(_.asText()).toSeq
    new MatView(spark, table, base, groups, pairs("sums"), pairs("recomputed"))
  }

  private val mapper = new ObjectMapper()

  private def defJson(groups: Seq[String], sums: Seq[(String, String)],
                      recomputed: Seq[(String, String)]): String = {
    val o = mapper.createObjectNode()
    val ga = o.putArray("groups")
    groups.foreach(ga.add)
    def put(field: String, ps: Seq[(String, String)]): Unit = {
      val sa = o.putArray(field)
      ps.foreach { case (name, e) =>
        val p = sa.addArray(); p.add(name); p.add(e)
      }
    }
    put("sums", sums)
    put("recomputed", recomputed)
    o.toString
  }
}
