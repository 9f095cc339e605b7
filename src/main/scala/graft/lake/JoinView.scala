package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incrementally maintained keyed LEFT-JOIN view over TWO [[LakeTable]]s
  * sharing a key — the CDC "record assembly" pattern: a training record
  * is the join of independently-ingested keyed tables (documents ⟕
  * quality scores, docs ⟕ embeddings), and re-joining the full tables
  * per refresh is a full-corpus shuffle every time. Here each maintain
  * folds only the keys either side's snapshot range touched.
  *
  * Semantics: `SELECT l.key, l.payload…, r.payload… FROM left l LEFT
  * JOIN right r USING (key)` over both tables' CURRENT merged states —
  * a view row exists iff the left row exists (left deletions tombstone
  * the view row; right deletions null the right columns).
  *
  * Incremental step:
  *  1. affected keys = distinct keys in the left range (fromL, toL] ∪
  *     the right range (fromR, toR] — even late-losing versions only
  *     cause an idempotent rewrite of an unchanged row, never a wrong
  *     one;
  *  2. current winners of those keys from BOTH sides as-of their fold
  *     targets (tombstones ride along on the left — they drive view
  *     tombstones);
  *  3. one bounded join (affected keys only) → upsert.
  *
  * Exactly-once across crashes WITHOUT a fused two-table transaction:
  * the fold targets ride in the view's own snapshot `summary`
  * (`jv.toL`/`jv.toR`), so a restarted maintainer re-derives its ranges
  * from the last COMMITTED view snapshot — a replay after a successful
  * commit sees empty ranges and no-ops; a crash before the commit left
  * nothing behind. The view's epochs are a plain counter.
  *
  * Scale posture: when the affected-key set is bounded (every steady-
  * state fold), both winner reads are FILE-PRUNED to the keys' buckets'
  * bloom-surviving files ([[LakeTable.winnersForKeySubset]]) — per-fold
  * IO scales with the batch, not the table. The full column-pruned
  * merged scans remain only for the bootstrap and for folds whose key
  * set exceeds [[JoinView.MaxPrunedKeys]] (where pruning wouldn't skip
  * much anyway). Both bases and the view bucket by the SAME key, so at
  * matching bucket counts the join is bucket-aligned. Views that lag
  * past either base's retention horizon fail loudly (changesBetween's
  * expiry contract). A fold whose input — the manifest rows of both
  * ranges and both sides' live files — is at most
  * [[LakeTable.InterpretedMaxRows]] (200 k) runs with Spark's
  * interpreted evaluation instead of compiled code (see there).
  */
final class JoinView private (
    spark: SparkSession,
    /** Backing table (maintenance ops — compaction, expiry — are safe). */
    val table: LakeTable,
    left: LakeTable,
    right: LakeTable,
    rightCols: Seq[String]) extends Maintainable {

  import JoinView.{SumLeft, SumRight}

  /** (leftFilesOpened, rightFilesOpened) by the last maintain's winner
    * reads — observability for the file-pruned fold path (specs pin that
    * a small-batch fold on a multi-file base opens a strict subset). */
  private[graft] var lastFoldFiles: Option[(Int, Int)] = None

  private def frontier(which: String): Long =
    table.snapshots.reverseIterator
      .flatMap(_.summary.get(which))
      .nextOption().map(_.toLong).getOrElse {
        // the frontiers live in upsert snapshot summaries; if maintenance
        // (compact + expireSnapshots) erased every one of them, a silent
        // −1 would RE-BOOTSTRAP over live view rows — stale rows whose
        // left key was deleted in the lost range would never be retracted
        require(table.currentSnapshotId < 0,
          "join-view frontier lost (all summary-carrying snapshots " +
            "expired) — rebuild the view from scratch instead of " +
            "re-bootstrapping over existing rows")
        -1L
      }

  /** Fold both bases forward to their heads (bounded per side by
    * `maxSnapshots`); returns the new (leftFrontier, rightFrontier) if
    * anything was folded.
    */
  def maintain(maxSnapshots: Int = Int.MaxValue): Option[(Long, Long)] = {
    require(maxSnapshots > 0, s"maxSnapshots must be positive: $maxSnapshots")
    left.refresh(); right.refresh()
    val key = left.keyCol
    val (fromL, fromR) = (frontier(SumLeft), frontier(SumRight))
    if (left.currentSnapshotId < 0) return None // no left rows → no view
    val toL = math.min(left.currentSnapshotId, fromL + maxSnapshots.toLong)
    val toR = math.min(right.currentSnapshotId, fromR + maxSnapshots.toLong)
    if (toL <= fromL && toR <= fromR) return None

    val bootstrap = fromL < 0 // a view always folds its left side first
    // the files the fold opens: both ranges (not read at bootstrap) and,
    // at most, both sides' live files (sized at each side's head — see
    // MatView's fold sizing)
    val reads =
      (if (bootstrap) Nil
       else left.changedFiles(fromL, toL) ++ right.changedFiles(fromR, toR)) ++
        left.liveFiles() ++ right.liveFiles()
    LakeTable.interpretedWhenSmall(Seq(spark, left.spark, right.spark), reads) {
      // 1. affected keys: every key either range touched. A fresh view
      // (frontier −1) bootstraps from the side's LIVE key set instead of
      // its changelog — same result, works on expired histories, and
      // skips dead keys (a tombstone for a row the view never had is
      // noise). A fresh RIGHT side contributes nothing to the key set:
      // right rows only matter where a left row exists, and at bootstrap
      // the left side enumerates those keys itself.
      val keyType = left.currentSchema.sparkSchema(key).dataType
      val none = spark.emptyDataFrame.select(lit(null).cast(keyType).as(key)).limit(0)
      val keysL =
        if (bootstrap) left.mergedWinners(Some(toL), Seq(key))
          .filter(!col(LakeTable.TombCol)).select(col(key))
        else if (toL > fromL) left.changesBetween(fromL, toL).select(col(key))
        else none
      val keysR =
        if (!bootstrap && toR > fromR) right.changesBetween(fromR, toR)
          .select(col(right.keyCol).cast(keyType).as(key))
        else none
      val keys = keysL.unionByName(keysR).distinct()
      // 2. current winners of the affected keys, each side as-of its fold
      // target. Left keeps tombstones (they become view tombstones).
      // ACCESS PATH: when the affected-key set is bounded (every steady-
      // state fold; the bootstrap and all-keys batches are not), ONE
      // action collects the keys driver-side; the winner reads open ONLY
      // the keys' buckets' files, bloom-skipped within each bucket
      // ([[LakeTable.winnersForKeySubset]]), and the collected keys, as a
      // local relation, restrict them — the fold's IO scales with the
      // BATCH, not the table. Beyond the cap the full merged scan is the
      // better plan anyway (most files would survive pruning), and the
      // key set is checkpointed instead.
      val probeRows = keys.limit(JoinView.MaxPrunedKeys + 1).collect()
      val probe = probeRows.map(_.get(0)).toSeq
      val prunable = probe.length <= JoinView.MaxPrunedKeys
      val affected =
        if (prunable) spark.createDataFrame(
          java.util.Arrays.asList(probeRows: _*), keys.schema)
        else keys.localCheckpoint() // bounded only by the tables
      val lwAll =
        if (probe.isEmpty) left.mergedWinners(Some(toL)).limit(0)
        else if (prunable) left.winnersForKeySubset(probe, Some(toL))
        else left.mergedWinners(Some(toL))
      val rwAll =
        if (probe.isEmpty) right.mergedWinners(Some(toR), rightCols).limit(0)
        else if (prunable) right.winnersForKeySubset(probe, Some(toR), rightCols)
        else right.mergedWinners(Some(toR), rightCols)
      lastFoldFiles = Some((lwAll.inputFiles.length, rwAll.inputFiles.length))
      // row restriction to the affected keys stays a semi-join either way
      // — winnersForKeySubset's contract: winners are exact only for the
      // probe keys, so pruned reads MUST be key-restricted before use
      val lw = lwAll
        .join(affected, Seq(key), "left_semi")
        .drop(LakeTable.LsnCol)
      val rw = rwAll
        .filter(!col(LakeTable.TombCol))
        .drop(LakeTable.LsnCol, LakeTable.TombCol)
        .join(affected.select(col(key).as(right.keyCol)),
          Seq(right.keyCol), "left_semi")
      // 3. bounded join + upsert. A key in `affected` with no left row was
      // never inserted (or expired history): emit nothing for it — the
      // view can't have a row to retract, because view rows only ever
      // came from left rows.
      val joined = lw.join(
        rw.select(col(right.keyCol).as(key) +: rightCols.map(col): _*),
        Seq(key), "left")
      val leftPayload =
        left.currentSchema.sparkSchema.fieldNames.filterNot(_ == key).toSeq
      // the view rows' lsn is the view's own (strictly increasing) epoch
      // — NOT max(toL, toR), which repeats when one base is static (a
      // later fold's rewrite would then TIE the old row in the view's
      // max_by merge and an arbitrary winner could resurrect stale
      // payloads or undead a deleted key)
      val epoch = table.lastCommittedEpoch + 1
      val outCols: Seq[Column] =
        Seq(when(col(LakeTable.TombCol), "D").otherwise("U").as("op"),
          col(key), lit(epoch).as("lsn")) ++
          leftPayload.map(col) ++ rightCols.map(col)
      table.upsert(joined.select(outCols: _*), epochId = epoch, reduce = false,
        summary = Map(SumLeft -> toL.toString, SumRight -> toR.toString))
      if (!prunable) affected.unpersist()
    }
    Some((toL, toR))
  }

  /** Loop [[maintain]] until both bases are drained. */
  def catchUp(maxSnapshotsPerStep: Int = Int.MaxValue): (Long, Long) = {
    var last = (frontier(SumLeft), frontier(SumRight))
    var step = maintain(maxSnapshotsPerStep)
    while (step.isDefined) { last = step.get; step = maintain(maxSnapshotsPerStep) }
    last
  }

  override def catchUpAll(): Unit = { catchUp(); () }

  /** Current view contents: key, left payload…, right payload…. */
  def read(): DataFrame = table.read()
}

object JoinView {
  private val SumLeft = "jv.toL"
  private val SumRight = "jv.toR"

  /** Driver-side cap on the collected affected-key set that unlocks the
    * file-pruned fold: 64k keys is a few MB on the driver (same bound
    * philosophy as [[graft.stream.DedupIngest.MaxProbeKeys]]); a fold
    * touching more keys than this reads most buckets anyway, so the full
    * merged scan is the better plan. */
  val MaxPrunedKeys = 65536

  /** Create the view over `left ⟕ right` on their (shared-name) keys.
    * `rightCols` selects which right payload columns ride along (default
    * all); name collisions with left columns are rejected — alias on the
    * right base's schema instead.
    */
  def create(spark: SparkSession, viewRoot: String,
             left: LakeTable, right: LakeTable,
             rightCols: Seq[String] = Seq.empty,
             numBuckets: Int = 0, fs: LakeFs = null): JoinView = {
    require(sameKeyType(left, right),
      s"key columns must share a type: ${left.keyCol} vs ${right.keyCol}")
    val ls = left.currentSchema.sparkSchema
    val rs = right.currentSchema.sparkSchema
    val rc =
      if (rightCols.nonEmpty) rightCols
      else rs.fieldNames.filterNot(_ == right.keyCol).toSeq
    rc.foreach(c => require(rs.fieldNames.contains(c),
      s"right column '$c' is not in the right base schema"))
    val collide = rc.toSet intersect ls.fieldNames.toSet
    require(collide.isEmpty,
      s"right columns collide with left schema: ${collide.mkString(", ")}")
    val fields = ls.fields.toSeq ++ rc.map(c => rs(c).copy(nullable = true))
    val buckets = if (numBuckets > 0) numBuckets else left.numBuckets
    val table = LakeTable.create(spark, viewRoot, StructType(fields),
      keyCol = left.keyCol, numBuckets = buckets, fs = fs)
    table.fs.createDirectories(s"$viewRoot/aux")
    val o = mapper.createObjectNode()
    val arr = o.putArray("rightCols")
    rc.foreach(arr.add)
    table.fs.putStringAtomic(s"$viewRoot/aux/joindef.json", o.toString,
      createOnly = false)
    new JoinView(spark, table, left, right, rc)
  }

  /** Load an existing join view from its persisted definition. Repeats
    * create()'s base validation: a load with swapped or wrong bases must
    * fail here, not silently null-fill the view on the next maintain.
    */
  def load(spark: SparkSession, viewRoot: String,
           left: LakeTable, right: LakeTable, fs: LakeFs = null): JoinView = {
    val table = LakeTable.load(spark, viewRoot, fs = fs)
    val n = mapper.readTree(table.fs.readString(s"$viewRoot/aux/joindef.json"))
    import scala.jdk.CollectionConverters._
    val rc = n.get("rightCols").elements().asScala.map(_.asText()).toSeq
    require(sameKeyType(left, right),
      s"key columns must share a type: ${left.keyCol} vs ${right.keyCol}")
    val rs = right.currentSchema.sparkSchema
    rc.foreach(c => require(rs.fieldNames.contains(c),
      s"persisted right column '$c' is not in the right base schema — " +
        "wrong (or swapped) base tables?"))
    val vs = table.currentSchema.sparkSchema
    (left.currentSchema.sparkSchema.fieldNames ++ rc).foreach(c =>
      require(vs.fieldNames.contains(c),
        s"base column '$c' is not in the view schema — wrong base tables?"))
    new JoinView(spark, table, left, right, rc)
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def sameKeyType(left: LakeTable, right: LakeTable): Boolean = {
    val lt = left.currentSchema.sparkSchema(left.keyCol).dataType
    val rt = right.currentSchema.sparkSchema(right.keyCol).dataType
    lt == rt
  }
}
