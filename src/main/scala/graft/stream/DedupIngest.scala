package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.lake.{LakeFs, LakeTable}
import graft.operators.DedupOps

/** Streaming near-dup ADMISSION CONTROL: a continuously-ingested corpus is
  * filtered against everything admitted so far — the dedup shape of a
  * live training-data pipeline (crawl batches arrive forever; a near-copy
  * of any previously-kept doc must not enter the corpus).
  *
  * The admitted set lives in a lake-resident SimHash index: a
  * [[graft.lake.LakeTable]] keyed by doc_id holding `(doc_id, simhash)` —
  * 16 hex chars per admitted doc, the column-pruned probe side. Per
  * micro-batch:
  *
  *  1. batch docs are SimHashed (one projection of the native kernel
  *     over the id-deduplicated BATCH only; tokenless docs hash to zero);
  *  2. vs-index rejection: the index scan is banded (4 substrings — a
  *     narrow projection of the 16-char hash, no recompute) and joined
  *     against the BROADCAST banded batch — the pigeonhole candidate join
  *     of `DedupOps.simhashNearDups`, with the corpus-sized side never
  *     shuffled — then candidates are verified with the exact codegen'd
  *     Hamming distance;
  *  3. within-batch near-dups among the remaining docs are closed into
  *     connected components; the min-id doc of each component survives.
  *     Set semantics, deliberately: sequential admit-in-arrival-order
  *     would make results depend on row order inside a partition-parallel
  *     batch — component-canonical keep is deterministic under any
  *     partitioning (same argument as the reference's set-based
  *     `triple=` matching, protocols.cljc:457-469);
  *  4. survivors' hashes are upserted with the batch epoch — the lake's
  *     epoch check makes a crash-replayed batch a no-op (exactly-once),
  *     and the commit's visibility rule means a reader never sees a
  *     half-admitted batch.
  *
  * Scale: per-batch cost is one column-pruned scan of the index (16
  * bytes/doc) + a broadcast hash join — no corpus shuffle, no state-store
  * growth; the index table is a full CDC citizen (compaction, expiry,
  * time travel, CDC-out all apply).
  *
  * ID-REUSE SEMANTICS: a re-sent doc_id with near-identical content is
  * rejected like any near-dup; with CHANGED content it is re-admitted and
  * LWW-overwrites its index (and band) rows — update semantics. Until the
  * superseded rows are compacted away, the PRUNED band probe (which reads
  * raw live rows, not winners) still sees the old content's bands and can
  * over-reject a future doc similar to the replaced text — a bounded
  * recall-only divergence from the scan path (which always reads
  * winners), never a wrong admit. Inline compaction
  * (`maxFilesPerBucket`) bounds the staleness window to the compaction
  * cadence; DedupIngestSpec pins that a band-table compact restores
  * band == scan after a re-admission.
  */
object DedupIngest {

  val IndexSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("simhash", StringType, nullable = true)))

  /** Load the index table at `root`, creating it on first use. */
  def indexTable(spark: SparkSession, root: String, numBuckets: Int = 8): LakeTable =
    LakeTable.loadOrCreate(spark, root, IndexSchema, keyCol = "doc_id",
      numBuckets = numBuckets)

  /** BAND-KEYED probe index (opt-in via `bandRoot`): one row per 16-bit
    * band of every admitted doc — `bid = doc_id*4 + blk` (the unique row
    * key), `bkey = blk·2¹⁶ + bval` (the probe coordinate), plus the full
    * simhash for the exact verify. Rows are committed CLUSTERED by
    * `bkey >> `[[BandGroupShift]] ([[LakeTable.upsert]] `clusterBy`), so
    * every delta file covers one contiguous band-key range and the
    * per-batch probe — a literal `bkey IN (batch's bands)` over
    * [[LakeTable.readInsertOnly]] — opens only the files whose manifest
    * range intersects the batch's bands, instead of scanning the full
    * admitted index every trigger. At 10^10 admitted docs the full
    * column-pruned scan is ~160 GB per trigger; a small batch's band set
    * touches a vanishing fraction of the band-range file groups.
    *
    * Storage cost: 4 short rows per admitted doc (~4× the primary index's
    * 16 bytes/doc — still ~100 bytes/doc, nothing next to the corpus).
    * The primary index stays the authoritative admitted set; the band
    * table is DERIVED and rebuildable ([[ensureBandTable]] backfills an
    * empty band table from a populated primary index, so the layout can
    * be adopted on a live deployment).
    */
  val BandSchema: StructType = StructType(Seq(
    StructField("bid", LongType, nullable = false),
    StructField("bkey", IntegerType, nullable = true),
    StructField("doc_id", LongType, nullable = true),
    StructField("simhash", StringType, nullable = true)))

  /** Band-key file-grouping granularity: bkey spans 18 bits (2-bit block
    * × 16-bit value); shifting by 14 yields 16 contiguous groups — the
    * per-delta file fan-out ceiling (× the band table's bucket count).
    */
  val BandGroupShift = 14

  /** Probe-literal ceiling: batches whose distinct band-key count
    * exceeds this scan the band table unfiltered (see the probe
    * comment in [[admitBatch]]).
    */
  val MaxProbeKeys = 65536

  /** `(blk, bval-hex)` → the integer band coordinate. */
  private def bkeyCol: org.apache.spark.sql.Column =
    (col("blk") * 65536 + conv(col("bval"), 16, 10).cast("int")).cast("int")

  private def bandCluster: org.apache.spark.sql.Column =
    shiftright(col("bkey"), BandGroupShift)

  /** Load-or-create the band table; when it is empty but the primary
    * index already has admitted docs (adopting the band layout on an
    * existing deployment), backfill it in one clustered commit stamped
    * with the primary's last epoch — later batch epochs stay monotone.
    *
    * `numBuckets` trades per-batch file fan-out (≤ buckets × 16 band
    * groups per delta) against maintenance parallelism: compaction
    * rewrites are bucket-local, so a 10^10-row band table at 1 bucket
    * would compact through ONE task. Default 1 suits micro-batch scale;
    * size ~rows/10^8 for a mature deployment and evolve later via
    * `compact(newNumBuckets, clusterBy = bkey >> BandGroupShift)` (the
    * clusterBy keeps the rewrite band-range-pure).
    */
  def ensureBandTable(spark: SparkSession, index: LakeTable, root: String,
                      numBuckets: Int = 1): LakeTable = {
    val bt = LakeTable.loadOrCreate(spark, root, BandSchema, keyCol = "bid",
      numBuckets = numBuckets)
    if (bt.lastCommittedEpoch < index.lastCommittedEpoch &&
        index.currentSnapshotId >= 0L) {
      val epoch = index.lastCommittedEpoch
      // empty table: first-time adoption (full backfill). NON-empty but
      // LAGGING table: the stream ran epochs without the band layout
      // (bandRoot dropped then re-enabled, or a crash between the index
      // and band commits) — silently accepting the gap would permanently
      // lose recall for every doc admitted in it, AND permanently wrong-
      // admit near-copies of docs RE-admitted with changed content in the
      // gap. Repair = re-emit band rows for exactly the GAP's index
      // winners (`_lsn` is the admission epoch, so `_lsn > band epoch`
      // selects them): O(gap) rows, not O(index); changed-content
      // re-admissions are covered because their winner lsn is in the gap
      // and their band rows LWW-replace the stale ones (same bid keys).
      // One winner-merge index read per repair — the same cost as a
      // single old-style probe, paid only at adoption/restart, never per
      // trigger.
      val missing =
        if (bt.currentSnapshotId < 0L) index.read()
        else index.readWithLsn()
          .filter(col(LakeTable.LsnCol) > bt.lastCommittedEpoch)
      bt.upsert(bandRows(missing.select(col("doc_id"), col("simhash")), epoch),
        epochId = epoch, reduce = false, clusterBy = Some(bandCluster),
        summary = Map("admission" -> "simhash-bands", "backfill" -> "true"))
    }
    bt
  }

  /** Band-table delta rows for a (doc_id, simhash) frame. */
  private def bandRows(sh: DataFrame, lsn: Long): DataFrame =
    banded(sh).select(lit("I").as("op"),
      (col("doc_id") * 4 + col("blk")).cast("long").as("bid"),
      lit(lsn).as("lsn"), bkeyCol.as("bkey"), col("doc_id"), col("simhash"))

  /** (doc_id, simhash) → one row per 16-bit band. Pigeonhole: Hamming
    * distance ≤ 3 ⇒ at least one band equal. Delegates to the single
    * band definition in [[DedupOps.bandFrame]].
    */
  private def banded(sh: DataFrame): DataFrame = DedupOps.bandFrame(sh)

  /** Admit one batch: reject docs within Hamming `maxDist` of the index,
    * then keep one canonical doc per within-batch near-dup component;
    * upsert survivors' hashes under `epochId` and return the surviving
    * rows of `batch` (all original columns). A replayed epoch re-derives
    * the same survivors and skips the commit.
    *
    * `docsTable`, when given, receives the survivors' FULL rows under the
    * same epoch — and is written BEFORE the index, which is what makes
    * the two-table update exactly-once without a cross-table transaction:
    * admission is a deterministic function of (batch, index state), so a
    * crash between the two commits replays into an UNCHANGED index,
    * re-derives identical survivors, no-ops the already-committed docs
    * epoch, and completes the index commit. The reverse order would
    * replay against an index that already contains the batch, reject
    * everything as self-duplicates, and lose the batch from the docs
    * table. DedupIngestSpec pins the interleaving.
    */
  def admitBatch(table: LakeTable, batch0: DataFrame, epochId: Long,
                 maxLen: Int = 64, maxDist: Int = 3,
                 docsTable: Option[LakeTable] = None,
                 bandTable: Option[LakeTable] = None): DataFrame = {
    // the 4×16-bit pigeonhole only guarantees candidate recall within
    // Hamming distance 3 — a larger bound would silently under-reject
    require(maxDist >= 0 && maxDist <= 3,
      s"maxDist $maxDist outside the banding guarantee [0, 3]")
    // the docs sink stamps op/lsn transport columns onto the survivor
    // rows — a feed that already carries them would produce ambiguous
    // references deep inside upsert; fail at the API boundary instead
    docsTable.foreach { _ =>
      val reserved = Seq("op", "lsn").filter(batch0.columns.contains)
      require(reserved.isEmpty,
        s"docs stream must not carry reserved sink columns: $reserved")
    }
    // register on BOTH sessions: inside foreachBatch the batch frame
    // belongs to a per-stream CLONE of the session while the index
    // table's frames belong to the original — the hamming filter resolves
    // against whichever session owns the frame it lands on
    graft.functions.VectorExprs.register(batch0.sparkSession)
    graft.functions.VectorExprs.register(table.spark)
    // one row per doc_id, content-addressed tie-break: real feeds re-emit
    // ids, and duplicate ids would otherwise (a) carry one simhash per
    // row (the kernel hashes rows, not ids) into the index upsert and
    // (b) leave the docs-sink winner partition-order
    // dependent — breaking the deterministic-replay argument the
    // two-table exactly-once rests on
    // tie-break over a digest of the FULL row, not just text: two rows
    // with the same id and text but different other columns must still
    // resolve to the same winner on every replay (the docs sink writes
    // whole rows). xxhash64 over the struct hashes INTERNAL
    // representations — unlike to_json/cast-to-string it cannot change
    // with session confs (timezone, json options), so the digest is a
    // pure function of row content; a 2^-64 collision merely makes one
    // specific pair's tie arbitrary
    val rowDigest = xxhash64(struct(batch0.columns.map(col): _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(rowDigest)
    val batch = batch0
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    // ALREADY-DELIVERED batch (crash after every sink committed, before
    // the streaming checkpoint advanced): re-deriving against an index
    // that already CONTAINS the batch would reject everything as
    // self-duplicates and hand the caller an empty survivor frame for a
    // batch that was in fact admitted. The sinks themselves were always
    // safe (epoch no-ops); this makes the RETURN VALUE replay-stable too:
    // recover the original survivors from the primary index's lsn stamp.
    // Gate on the LAST sink in the commit chain (band table when present)
    // — a crash between earlier commits and the last one must fall
    // through to the normal path so the trailing commit completes.
    val lastSink = bandTable.getOrElse(table)
    if (epochId <= lastSink.lastCommittedEpoch)
      return batch.join(
        table.readWithLsn().filter(col(LakeTable.LsnCol) === epochId)
          .select(col("doc_id")),
        Seq("doc_id"), "left_semi")
    // batch-side hashes: small (one row per batch doc) — checkpointed so
    // the banded join, the in-batch pair join, and the upsert all reuse
    // one computation instead of re-running the simhash kernel.
    // The kernel yields null for a TOKENLESS doc (null/empty/all-space
    // text) — those must not silently vanish from the corpus: they hash
    // to the zero simhash, i.e. all empty docs are exact dupes of each
    // other and the first one admitted represents them.
    val sh = batch
      .select(col("doc_id"), coalesce(
        graft.functions.VectorExprs.simhash64(col("text"), maxLen),
        lit("0" * 16)).as("simhash"))
      .localCheckpoint()

    // 2. vs-index: banded equi-join, batch side broadcast. Scan path
    // (default): the primary index read is column-pruned (16 bytes/doc)
    // and never shuffled, but it IS a full pass over the admitted set
    // every trigger. Band path (bandTable given): the probe reads the
    // band-keyed table with a literal `bkey IN (batch's bands)` — pushed
    // to the manifest, so only files whose band-key range intersects the
    // batch open at all; per-trigger probe IO scales with the BATCH, not
    // the admitted corpus.
    val newBands = banded(sh).withColumn("bkey", bkeyCol)
    val idxBands = bandTable match {
      case Some(bt) =>
        // driver-side literal band list, CAPPED: a bulk batch can carry
        // 4 × batch distinct band keys — beyond MaxProbeKeys the keys
        // cover most of the 2^18 band space, pruning cannot win, and a
        // six-figure IN literal only bloats the plan; scan the band
        // table whole instead (still the column-pruned shape)
        val keys = newBands.select(col("bkey")).distinct()
          .limit(MaxProbeKeys + 1).collect().map(_.getInt(0))
        val raw = bt.readInsertOnly()
        val pruned =
          if (keys.length > MaxProbeKeys) raw
          else raw.filter(col("bkey").isin(keys.map(Integer.valueOf): _*))
        pruned.select(col("doc_id").as("iid"), col("simhash").as("ish"),
          col("bkey"))
      case None =>
        banded(table.read().select(col("doc_id"), col("simhash")))
          .select(col("doc_id").as("iid"), col("simhash").as("ish"),
            bkeyCol.as("bkey"))
    }
    val vsIndex = idxBands.join(broadcast(newBands), Seq("bkey"))
      .select(col("doc_id"), col("simhash"), col("ish"))
      .distinct()
      .filter(graft.functions.VectorExprs.hammingHex(
        col("simhash"), col("ish")) <= maxDist)
      .select(col("doc_id")).distinct()
    val fresh = sh.join(vsIndex, Seq("doc_id"), "left_anti").localCheckpoint()

    // 3. within-batch components among the remaining docs: min id per
    // component survives (batch-scale frames — the SAME banded pigeonhole
    // candidate join the batch dedup operator uses, exact verify)
    val pairs = DedupOps.simhashCandidatePairs(fresh, materialized = true)
      .filter(graft.functions.VectorExprs.hammingHex(
        col("sh1"), col("sh2")) <= maxDist)
    val losers = DedupOps.connectedComponents(pairs, "id1", "id2")
      .filter(col("v") =!= col("comp"))
      .select(col("v").as("doc_id"))
    val admitted = fresh.join(losers, Seq("doc_id"), "left_anti")

    // 4. survivors out — docs sink FIRST (see scaladoc: the replay-safe
    // order), then the index under the same epoch (no-op on replay)
    val survivors = batch
      .join(admitted.select(col("doc_id")), Seq("doc_id"), "left_semi")
    docsTable.foreach { dt =>
      dt.upsert(survivors.select(Seq(lit("I").as("op"),
          lit(epochId).as("lsn")) ++ survivors.columns.map(col): _*),
        epochId = epochId, summary = Map("admission" -> "simhash"))
    }
    table.upsert(admitted.select(lit("I").as("op"), col("doc_id"),
        lit(epochId).as("lsn"), col("simhash")),
      epochId = epochId,
      summary = Map("admission" -> "simhash"))
    // band table LAST: admission decisions are a function of the band
    // probe, so the decision source must be the final commit — a crash
    // anywhere earlier replays against an unchanged probe state and
    // re-derives identical survivors (the docs/index epochs then no-op)
    bandTable.foreach { bt =>
      bt.upsert(bandRows(admitted.select(col("doc_id"), col("simhash")), epochId),
        epochId = epochId, reduce = false, clusterBy = Some(bandCluster),
        summary = Map("admission" -> "simhash-bands"))
    }
    survivors
  }

  /** Where [[run]] keeps the band table when the caller doesn't name a
    * root: under the index's own `aux/` dir (the lake's convention for
    * derived side-state — readers never descend into it), so the probe
    * layout travels with the index it serves.
    */
  def defaultBandRoot(indexRoot: String): String = s"$indexRoot/aux/bands"

  /** The streaming runner: every micro-batch flows through
    * [[admitBatch]]; the index's epoch check plus the streaming
    * checkpoint give end-to-end exactly-once admission across crashes.
    *
    * The band-keyed probe layout is the DEFAULT (`bandIndex = true`,
    * band table at [[defaultBandRoot]] unless `bandRoot` overrides): a
    * steady-state trigger probes a few band-range files instead of
    * scanning the whole admitted index (ref analog: index config is the
    * repository default, repository.clj:131-136). An index that
    * previously ran without the layout backfills on first run via
    * [[ensureBandTable]]'s gap repair. `bandIndex = false` opts out
    * (full-scan probe — the right call only when batches routinely
    * exceed [[MaxProbeKeys]] distinct bands, where pruning cannot win).
    */
  def run(docs: DataFrame, indexRoot: String, checkpointDir: String,
          numBuckets: Int = 8, maxLen: Int = 64, maxDist: Int = 3,
          docsRoot: Option[String] = None,
          maxFilesPerBucket: Int = 0,
          bandRoot: Option[String] = None,
          bandIndex: Boolean = true,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = docs.sparkSession
    // create the sinks once, up front — a first-batch race between the
    // two creates inside foreachBatch would be the only non-idempotent
    // step in the pipeline
    val docsSchema = StructType(docs.schema.fields.toSeq)
    // ONE LakeTable instance per sink for the stream's lifetime: an
    // instance self-updates on every commit, and reloading per batch
    // would re-parse the metadata fold each trigger (fixed cost that
    // dominates small micro-batches)
    val out = docsRoot.map(r => docsLakeTable(spark, r, docsSchema, numBuckets))
    val idx = indexTable(spark, indexRoot, numBuckets)
    val bands = bandRoot.orElse(if (bandIndex) Some(defaultBandRoot(indexRoot)) else None)
      .map(r => ensureBandTable(spark, idx, r))
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        admitBatch(idx, batch, epochId, maxLen, maxDist, docsTable = out,
          bandTable = bands)
        // bounded maintenance inline with admission (CdcIngest's policy):
        // without it a long-running stream accrues one delta per batch
        // and every probe's index scan opens O(batches) files. The band
        // table compacts CLUSTERED so the rewrite keeps its files
        // band-range-pure — a keyhash-only rewrite would erase the very
        // pruning the layout exists for.
        if (maxFilesPerBucket > 0) {
          (Seq(idx) ++ out).foreach { t =>
            val victims = t.compactionCandidates(maxFilesPerBucket)
            if (victims.nonEmpty) t.compactBuckets(victims)
          }
          bands.foreach { t =>
            val victims = t.compactionCandidates(maxFilesPerBucket)
            if (victims.nonEmpty)
              t.compactBuckets(victims, clusterBy = Some(bandCluster))
          }
        }
        () // survivors live in the sinks; downstream reads them or the CDC tail
      }
      .start()
  }

  /** Load-or-create the admitted-docs sink with the stream's own schema. */
  private def docsLakeTable(spark: SparkSession, root: String,
                            schema: StructType, numBuckets: Int): LakeTable =
    LakeTable.loadOrCreate(spark, root, schema, keyCol = "doc_id",
      numBuckets = numBuckets)
}
