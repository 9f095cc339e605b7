package graft.lake

import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.Lww

/** Field of a table schema, identified by a stable numeric id so columns can
  * be renamed/added/widened without rewriting data files (Iceberg-style
  * column mapping; see the Iceberg spec, iceberg.apache.org/spec).
  */
final case class LakeField(id: Int, name: String, dataType: DataType, nullable: Boolean) {
  def sparkField: StructField = StructField(name, dataType, nullable)
}

final case class LakeSchema(schemaId: Int, fields: Seq[LakeField]) {
  def sparkSchema: StructType = StructType(fields.map(_.sparkField))
  def byId: Map[Int, LakeField] = fields.map(f => f.id -> f).toMap
}

/** One parquet delta file tracked by a snapshot. `schemaId` records the
  * schema the file was written with (read-time column mapping resolves it
  * to the current schema by field id); `bucket` is the key-hash bucket the
  * file covers — `pmod(murmur3(doc_id), numBuckets)`, i.e. Spark's own
  * HashPartitioning placement, so bucket-local work never needs an extra
  * shuffle.
  */
final case class FileEntry(path: String, bucket: Int, bytes: Long, schemaId: Int,
    rows: Long, minLsn: Long, maxLsn: Long,
    colMin: Map[String, String] = Map.empty,
    colMax: Map[String, String] = Map.empty,
    keyBloom: Option[String] = None)

/** An atomic table version. The log of snapshots IS the table state:
  * live files = fold of added − removed over snapshots 0..N.
  *
  * `epochId` fuses the Structured Streaming checkpoint with the table
  * commit: a batch is applied iff `epochId > lastCommittedEpoch`, which
  * makes foreachBatch re-delivery after a crash idempotent (exactly-once;
  * the CDC recast of grafter's transaction-per-unit semantics,
  * /root/reference/grafter.repository/src/clj/grafter_2/rdf4j/
  * repository.clj:421-453 — a rolled-back transaction here is simply a
  * never-renamed snapshot file).
  */
final case class Snapshot(
    snapshotId: Long,
    parentId: Long,
    epochId: Long,
    addedData: Seq[FileEntry],
    removedData: Set[String],
    summary: Map[String, String])

/** A from-scratch Iceberg-style lake table: bucketed parquet delta files +
  * a JSON snapshot log with atomic commits.
  *
  * Layout:
  * {{{
  *   root/meta/schema-<id>.json      field-id'd schemas
  *   root/meta/snap-<%012d id>.json  snapshot log (create-only CAS commit)
  *   root/data/snap-<uuid>/part-<bucket>-....parquet   (writer-unique dirs)
  * }}}
  *
  * Merge-on-read LWW semantics: each upsert batch writes exactly one file
  * set of LWW *winner* rows — schema columns plus hidden `_lsn` (the
  * winning WAL position) and `_tomb` (true when the winning op was a
  * delete). A row is visible iff `!_tomb` and no row of any batch carries
  * the same key with a strictly greater `_lsn`. Because max-LSN is the
  * global order, the visible set is exactly the last-writer-wins state
  * regardless of batch arrival order — the MERGE condition "WHEN MATCHED
  * AND source.lsn > target.lsn" holds by construction with no
  * read-modify-write of the target. Tombstone rows ARE the merge-on-read
  * deletes; the "delete file" view is a column-pruned re-scan of the same
  * parquet (reads only (key, _lsn) — parquet column pruning makes it a
  * fraction of the data scan).
  *
  * Scale design:
  *  - The upsert pipeline is ONE shuffle: `repartition(numBuckets, key)`
  *    feeds a complete-mode hash aggregate (Catalyst skips the partial
  *    step because the child partitioning already satisfies the grouping)
  *    and each task writes its own bucket file — no second exchange, no
  *    dynamic-partition sort, no caching of intermediate batches.
  *  - Data is physically bucketed by `pmod(murmur3(key), numBuckets)`;
  *    read-side merge joins and compaction are bucket-local units of work.
  *  - Commits are O(files) driver-side JSON; compaction bounds file count
  *    and tombstone debt.
  *
  * Concurrency: commits are OPTIMISTIC (Iceberg-style). The snapshot
  * file is published through [[LakeFs.putStringAtomic]]'s create-only CAS
  * — dense ids make the CAS a total order — and a loser VALIDATES and
  * RETRIES ([[commitWithRetry]]): an upsert rebases onto the winner
  * (additive, always safe; a duplicate epoch delivered by a replica
  * driver is detected and dropped with its files), a rewrite
  * ([[compact]]) rebases only while every file it replaces is still live
  * and aborts loudly otherwise. Delta directories are writer-unique
  * (uuid-suffixed), so a stale rival can never clobber committed data;
  * crashed attempts leak unreferenced dirs that [[gcOrphanData]] removes.
  * The exactly-once epoch sequence is per TABLE (one logical input
  * stream, possibly with replicated/replayed drivers) — concurrent
  * INDEPENDENT feeds into one table would need per-writer epoch ledgers,
  * deliberately out of scope.
  *
  * ALL metadata/layout file IO routes through [[fs]] ([[LakeFs]]) — the
  * object-store portability seam; bulk parquet bytes go through Spark's
  * own Hadoop FS layer.
  */
class LakeTable private (
    val spark: SparkSession,
    val root: String,
    val keyCol: String,
    private var _numBuckets: Int,
    val fs: LakeFs,
    val keyBloomBits: Int = 0) {

  import LakeTable._

  /** Current bucket count — a persisted layout property; evolves only
    * through [[compact]] (which rewrites every live file, so the live set
    * always carries exactly one bucket layout).
    */
  def numBuckets: Int = _numBuckets

  private def metaDir: String = s"$root/meta"

  private def listFiles(dir: String, prefix: String): Seq[String] =
    LakeTable.listFiles(fs, dir, prefix)

  // ---- metadata (driver-side, small) ----
  //
  // The HOT state (live files, current snapshot id, last epoch) is a fold
  // maintained incrementally: cold-loaded from the newest CHECKPOINT file
  // (`meta/ckpt-*.json`, the Iceberg manifest-list analog written every
  // [[LakeTable.CheckpointInterval]] commits) plus the snapshot tail after
  // it, then advanced in place on every commit/refresh. Cold `load()`
  // therefore parses O(interval) metadata files — NOT O(epochs): at the
  // 10^10-event target with 20k-event batches the log holds ~500k
  // snapshots, and a cold start that parses all of them would dominate
  // the job. Snapshot ids are dense (+1 per commit), so tail discovery
  // probes `snap-<id+1>.json` directly — no directory listing either.
  //
  // The FULL snapshot history stays on disk for time travel /
  // changesBetween / audits and is parsed lazily only when asked for.

  private var schemaCache: Seq[LakeSchema] = null
  private var allSnapsCache: Seq[Snapshot] = null
  private var stateSnapId: Long = -1L
  private var stateEpoch: Long = -1L
  private var stateLive: scala.collection.mutable.LinkedHashMap[String, LiveEntry] = null

  /** Metadata files (snapshot / schema / checkpoint JSONs) parsed by this
    * instance — the observable the O(interval) cold-load contract is
    * pinned against in tests.
    */
  private[graft] var metaFilesParsed: Long = 0

  private def parseSnap(p: String): Snapshot = { metaFilesParsed += 1; readSnapshot(fs.readString(p)) }

  def schemas: Seq[LakeSchema] = {
    if (schemaCache == null)
      schemaCache = listFiles(metaDir, "schema-")
        .map { p => metaFilesParsed += 1; readSchema(fs.readString(p)) }.sortBy(_.schemaId)
    schemaCache
  }

  /** Advance the metadata state — a read-only consumer polling a table
    * that ANOTHER process writes must call this (or `load()` fresh) to
    * observe new commits; this instance's own commits keep the state
    * current. Incremental: parses only snapshots committed since the last
    * look, never the whole log.
    */
  def refresh(): Unit = {
    allSnapsCache = null
    // schemas advance incrementally too (ids are dense): a CDC tail calls
    // refresh() every trigger, and re-parsing the whole schema chain per
    // micro-batch would be pointless file IO on the hot path
    if (schemaCache != null) {
      var next = schemaCache.last.schemaId + 1
      var p = f"$metaDir/schema-$next%04d.json"
      while (fs.exists(p)) {
        metaFilesParsed += 1
        schemaCache = schemaCache :+ readSchema(fs.readString(p))
        next += 1
        p = f"$metaDir/schema-$next%04d.json"
      }
    }
    if (stateLive == null) ensureState()
    else {
      advanceState()
      // gap detection: if the writer's version hint is ahead of our fold
      // but our next tail file is gone, the range was EXPIRED under this
      // lagging reader — rebase onto the newest checkpoint rather than
      // stalling silently at the pre-expiry snapshot forever. O(1): one
      // hint read per refresh, rebase only on an actual gap.
      val hintFile = s"$metaDir/latest.hint"
      if (fs.exists(hintFile)) {
        val hinted = fs.readString(hintFile).trim.toLong
        if (hinted > stateSnapId) {
          stateLive = null
          ensureState()
        }
      }
    }
  }

  def currentSchema: LakeSchema = schemas.last

  /** FULL snapshot history (parses the whole log — time travel, audits,
    * maintenance; the ingest/read hot path never calls this).
    */
  def snapshots: Seq[Snapshot] = {
    if (allSnapsCache == null)
      allSnapsCache = listFiles(metaDir, "snap-").map(parseSnap).sortBy(_.snapshotId)
    allSnapsCache
  }

  def currentSnapshotId: Long = { ensureState(); stateSnapId }

  /** Oldest SURVIVING snapshot id (−1 on a fresh table) — the floor an
    * `earliest`-starting CDC stream can begin from after expiry.
    */
  def oldestSnapshotId: Long =
    listFiles(metaDir, "snap-").headOption
      .map(p => LakeFs.fileName(p).stripPrefix("snap-").stripSuffix(".json").toLong)
      .getOrElse(-1L)

  def lastCommittedEpoch: Long = { ensureState(); stateEpoch }

  /** Live delta files as of snapshot `asOf` (latest if None). */
  def liveFiles(asOf: Option[Long] = None): Seq[FileEntry] = liveEntries(asOf).map(_.file)

  /** Parsed checkpoint: the materialised fold as of `snapshotId`. */
  private case class CkptState(snapshotId: Long, epochId: Long, numBuckets: Int,
      live: Seq[(String, LiveEntry)])

  private def readCkpt(p: String): CkptState = {
    metaFilesParsed += 1
    val n = mapper.readTree(fs.readString(p))
    val live = n.get("live").elements().asScala.map { e =>
      val f = FileEntry(e.get("path").asText(), e.get("bucket").asInt(),
        e.get("bytes").asLong(), e.get("schemaId").asInt(),
        e.get("rows").asLong(), e.get("minLsn").asLong(), e.get("maxLsn").asLong(),
        LakeTable.readColStats(e, "colMin"), LakeTable.readColStats(e, "colMax"),
        Option(e.get("bloom")).map(_.asText()))
      val layout = Option(e.get("layout")).map(_.asInt()).filter(_ >= 0)
      f.path -> LiveEntry(f, e.get("snapId").asLong(), layout)
    }.toSeq
    CkptState(n.get("snapshotId").asLong(), n.get("epochId").asLong(),
      n.get("numBuckets").asInt(), live)
  }

  private def ensureState(): Unit = {
    if (stateLive != null) return
    stateLive = scala.collection.mutable.LinkedHashMap[String, LiveEntry]()
    stateSnapId = -1L
    stateEpoch = -1L
    // one names-only directory listing finds the newest checkpoint; the
    // fold resumes from it and replays just the tail
    listFiles(metaDir, "ckpt-").lastOption.foreach { p =>
      val c = readCkpt(p)
      stateSnapId = c.snapshotId
      stateEpoch = c.epochId
      _numBuckets = c.numBuckets
      c.live.foreach { case (path, e) => stateLive(path) = e }
    }
    advanceState()
  }

  private def advanceState(): Unit = {
    var next = stateSnapId + 1
    var p = f"$metaDir/snap-$next%012d.json"
    while (fs.exists(p)) {
      applyToState(parseSnap(p))
      next += 1
      p = f"$metaDir/snap-$next%012d.json"
    }
  }

  private def applyToState(s: Snapshot): Unit = {
    val layout = s.summary.get("numBuckets").map(_.toInt)
    s.addedData.foreach(f => stateLive(f.path) = LiveEntry(f, s.snapshotId, layout))
    s.removedData.foreach(stateLive.remove)
    stateSnapId = s.snapshotId
    stateEpoch = s.epochId
    // the bucket layout is commit-carried state: a writer in another
    // process may have re-bucketed the table
    layout.filter(_ != _numBuckets).foreach(n => _numBuckets = n)
  }

  private def liveEntries(asOf: Option[Long]): Seq[LiveEntry] = asOf match {
    case None =>
      ensureState()
      stateLive.values.toSeq
    case Some(id) => // time travel: fold the history up to `id`
      val data = scala.collection.mutable.LinkedHashMap[String, LiveEntry]()
      var from = -1L // fold tail snapshots with id > `from`
      if (snapshots.nonEmpty && snapshots.head.snapshotId > 0L) {
        // the history prefix was expired: resume the fold from the newest
        // surviving checkpoint at or below `id` — above-horizon reads stay
        // reconstructible after expiry (ckpt = the rolled-up prefix). A
        // partial fold over the gap would be silently WRONG state, so a
        // request below every surviving checkpoint refuses loudly
        // (expireSnapshots documents the trade).
        val ckpt = listFiles(metaDir, "ckpt-").filter { p =>
          LakeFs.fileName(p).stripPrefix("ckpt-").stripSuffix(".json").toLong <= id
        }.lastOption.getOrElse(throw new IllegalArgumentException(
          s"time travel to snapshot $id unavailable: history below snapshot " +
            s"${snapshots.head.snapshotId} was expired and no checkpoint at " +
            "or below the requested snapshot survives"))
        val c = readCkpt(ckpt)
        c.live.foreach { case (path, e) => data(path) = e }
        from = c.snapshotId
      }
      // ids are dense, so the tail must cover (from, min(id, head)] exactly
      // (an id beyond the committed head folds everything available — the
      // pre-existing takeWhile semantics)
      val hi = math.min(id, snapshots.lastOption.map(_.snapshotId).getOrElse(-1L))
      val tail = snapshots.filter(s => s.snapshotId > from && s.snapshotId <= hi)
      require(tail.size == math.max(0L, hi - from),
        s"time travel to snapshot $id unavailable: snapshots in ($from, $hi] " +
          "are missing (expired under this reader)")
      tail.foreach { s =>
        val layout = s.summary.get("numBuckets").map(_.toInt)
        s.addedData.foreach(f => data(f.path) = LiveEntry(f, s.snapshotId, layout))
        s.removedData.foreach(data.remove)
      }
      data.values.toSeq
  }

  // ---- read path ----

  /** Current merged table state (hidden columns dropped). */
  def read(): DataFrame = readAt(None)

  /** Time travel: merged state as of `snapshotId`. */
  def readAt(snapshotId: Long): DataFrame = readAt(Some(snapshotId))

  private def readAt(asOf: Option[Long]): DataFrame =
    readWithLsn(asOf).drop(LsnCol)

  /** Merged (visible) state including the `_lsn` version column. */
  def readWithLsn(asOf: Option[Long] = None): DataFrame =
    mergedWinners(asOf).filter(!col(TombCol)).drop(TombCol)

  /** Per-key max-lsn winner rows INCLUDING tombstone winners (`_tomb`
    * kept). This is the full merge state: tombstones must survive until a
    * caller proves no event below their lsn can still arrive (see
    * [[compact]]) — dropping them early would resurrect late lower-lsn
    * versions of deleted keys.
    *
    * Scale shape: the multi-snapshot merge is BUCKET-LOCAL with ZERO
    * exchanges. Every delta file covers exactly one key-hash bucket
    * (`pmod(murmur3(key), numBuckets)` — upsert's placement, which is
    * Spark's own bucket function), so a key's competing versions only
    * ever meet inside one bucket. The primary path hands the manifest's
    * live files to Catalyst as ONE bucketed parquet relation
    * ([[ManifestFileIndex]] + BucketSpec): the scan reports
    * `HashPartitioning(key, n)`, the winner `max_by` aggregate's clustered
    * distribution is already satisfied, and the whole merge plans as
    * scan → hash-aggregate with no Exchange and no per-bucket plan
    * branches — the same mechanism Iceberg recovers via storage-partitioned
    * reads, and the access-path analog of the reference's native-store
    * indexes (/root/reference/grafter.repository/src/clj/grafter_2/rdf4j/
    * repository.clj:131-136). At a 100 TB table this replaces two
    * full-table shuffles (data + delete-view sides of the previous
    * anti-join design) with a single shuffle-free pass over the data.
    *
    * Fallback (live files span >1 schema version, i.e. between a schema
    * evolution and the next compaction): per-bucket plan branches, each
    * `coalesce(1)` → SinglePartition → local aggregate — still zero
    * exchanges, at O(buckets) driver-side plan cost.
    */
  def mergedWinners(asOf: Option[Long] = None): DataFrame =
    mergedWinners(asOf, Seq.empty)

  /** [[mergedWinners]] projected to `columns` (+ key + hidden) BEFORE the
    * winner aggregate: the max_by struct only carries the requested
    * payload, so Catalyst prunes everything else — including wide array
    * columns — out of the parquet scan. The winner row is decided by
    * `_lsn` alone, so projecting is semantics-preserving for the
    * surviving columns. Empty `columns` = all. This is the scan the view
    * maintainers pay per fold ([[MatView.maintain]]'s before-images):
    * measured 12 M events / 3 groups, restricting a (source, n_tok) view
    * away from the token arrays cut the fold's scan weight by the
    * payload ratio.
    */
  def mergedWinners(asOf: Option[Long], columns: Seq[String]): DataFrame = {
    val entries = liveEntries(asOf)
    val schema = schemaFor(entries.map(_.file), asOf)
    val target =
      if (columns.isEmpty) schema
      else {
        val want = (keyCol +: columns).toSet
        val missing = want -- schema.fields.map(_.name).toSet
        require(missing.isEmpty,
          s"projected columns not in schema: ${missing.mkString(", ")}")
        LakeSchema(schema.schemaId, schema.fields.filter(f => want.contains(f.name)))
      }
    winnersOver(entries, target)
  }

  // ---- writer-captured preimages (the CDF analog) ----

  private[graft] def preimageDir(epochId: Long): String =
    f"$root/preimages/epoch-$epochId%012d"

  /** The epoch's full batch-key SET (one column, distinct) — written by
    * [[capturePreimages]] alongside the pre-state capture. The capture
    * file alone cannot distinguish "key had no winner before this batch"
    * (absent row) from "key untouched by this batch" (also absent), so a
    * multi-snapshot fold that trusted a later snapshot's capture for a
    * key first CREATED earlier in the range would read an intra-range
    * state as the before-image. The key set makes absence explicit:
    * key ∈ keys ∧ key ∉ capture ⇒ no before-image existed.
    */
  private[graft] def preimageKeysDir(epochId: Long): String =
    f"$root/preimages/keys-epoch-$epochId%012d"

  /** Capture the CURRENT winners (tombstones included, `_lsn`/`_tomb`
    * kept, full width) of `batchKeys` into `preimages/epoch-<E>` —
    * called by the ingest BEFORE the epoch's upsert commits, so the file
    * holds each key's pre-batch state. Deterministic on crash-replay:
    * the pre-state is identical (the epoch never committed), so the
    * rewrite is byte-stable; visibility follows the COMMIT via the
    * [[LakeTable.PreimagesKey]] summary flag, never the file's
    * existence. One merged-scan per captured batch — paid ONCE at
    * ingest and amortized across every attached view's folds
    * ([[beforeImages]]), instead of once per view per fold.
    */
  def capturePreimages(batchKeys: DataFrame, epochId: Long): String =
    capturePreimages(batchKeys, epochId, Seq.empty)

  /** Projected capture: only `columns` (+ key + hidden) are scanned and
    * stored — a narrow capture costs a NARROW merged scan (the wide
    * capture was measured 4x slower than the per-view narrow scan it
    * replaces, defeating the point for single narrow views). Returns the
    * summary value to commit under [[LakeTable.PreimagesKey]]: "*" for
    * full width, else the captured column list — [[beforeImages]] trusts
    * a capture only when it covers the requested columns.
    */
  def capturePreimages(batchKeys: DataFrame, epochId: Long,
                       columns: Seq[String]): String = {
    val keyType = currentSchema.sparkSchema(keyCol).dataType
    val keys = batchKeys.select(col(keyCol).cast(keyType).as(keyCol)).distinct()
    // land the key set FIRST, then join against the written copy: one
    // upstream evaluation of the batch, and the two files are consistent
    // by construction (the semi-join side IS the persisted key set)
    keys.write.mode("overwrite").parquet(preimageKeysDir(epochId))
    val keysBack = spark.read.parquet(preimageKeysDir(epochId))
    mergedWinners(None, columns)
      .join(keysBack, Seq(keyCol), "left_semi")
      .write.mode("overwrite").parquet(preimageDir(epochId))
    if (columns.isEmpty) "*"
    else columns.filterNot(_ == keyCol).distinct.sorted.mkString(",")
  }

  /** Exact before-images (as-of `from`) of every key the upsert
    * snapshots in `(from, to]` touched, assembled from captured
    * preimages — O(range) file reads, NO base scan. A key's before-image
    * comes ONLY from the FIRST range snapshot that touched it (nothing
    * earlier in the range touched it, so that capture saw the
    * as-of-`from` state) — and when that first-touching capture has no
    * row for the key (the batch CREATED it), the key has NO before-image
    * and is excluded, never served from a later snapshot's capture
    * (which would be an intra-range state, not the as-of-`from` one).
    * Requires each range snapshot's persisted batch-key set
    * ([[preimageKeysDir]]) to make that absence explicit. Returns None
    * when any upsert snapshot in the range lacks capture or a key set
    * (captures from before the key-set format) — callers fall back to
    * the merged-scan path. Files written under older schema versions
    * union by name with missing columns nulled.
    */
  def beforeImages(fromSnapshotId: Long, toSnapshotId: Long,
                   columns: Seq[String] = Seq.empty): Option[DataFrame] = {
    val range = upsertsIn(fromSnapshotId, toSnapshotId)
    val schema = currentSchema.sparkSchema
    val needed =
      if (columns.isEmpty) schema.fieldNames.toSeq
      else (keyCol +: columns).distinct
    val hidden = Seq(LsnCol, TombCol)
    if (range.isEmpty)
      return Some(mergedWinners(Some(fromSnapshotId), needed.filterNot(_ == keyCol))
        .limit(0))
    // every range snapshot must have captured AT LEAST the needed
    // columns — a narrower capture cannot serve this view (its nulls
    // would be wrong values, not missing data), so fall back to the scan
    val neededPayload = needed.filterNot(_ == keyCol).toSet
    val covered = range.forall(_.summary.get(PreimagesKey).exists { v =>
      v == "true" || v == "*" || neededPayload.subsetOf(v.split(",").toSet)
    })
    if (!covered) return None
    // pre-key-set captures can't distinguish created-in-range keys from
    // untouched ones — a correct fold is impossible from them, fall back
    if (!range.forall(s => fs.exists(preimageKeysDir(s.epochId)))) return None
    val frames = range.map { s =>
      val pre = spark.read.parquet(preimageDir(s.epochId))
      val cols = needed.map { c =>
        if (pre.columns.contains(c)) col(c)
        else lit(null).cast(schema(c).dataType).as(c)
      } ++ hidden.map(col)
      // batch keys ⟕ capture: a key the batch touched but the capture
      // lacks had no winner before the batch — an explicit absent marker
      // (TombCol is non-null on every captured row, so null ⇔ absent)
      spark.read.parquet(preimageKeysDir(s.epochId))
        .join(pre.select(cols: _*), Seq(keyCol), "left_outer")
        .withColumn("_absent", col(TombCol).isNull)
        .withColumn("_ps", lit(s.snapshotId))
    }
    val all = frames.reduce(_ unionByName _)
    val payload = (needed.filterNot(_ == keyCol) ++ hidden) :+ "_absent"
    Some(all
      .groupBy(col(keyCol))
      .agg(min_by(struct((payload :+ "_ps").map(col): _*), col("_ps")).as("_w"))
      .select(col(keyCol) +: payload
        .map(c => col(s"_w.$c").as(c)): _*)
      .filter(!col("_absent"))
      .drop("_absent"))
  }

  private def schemaFor(files: Seq[FileEntry], asOf: Option[Long]): LakeSchema =
    asOf match {
      case None => currentSchema
      case Some(_) =>
        val maxSid = (files.map(_.schemaId) ++ Seq(0)).max
        schemas.find(_.schemaId == maxSid).getOrElse(currentSchema)
    }

  /** Point lookup by key with MANIFEST-side bucket pruning: the key's
    * bucket is computed driver-side (Spark's own bucket function) and only
    * that bucket's files enter the plan — zero file opens outside the
    * bucket, independent of planner bucketing rules. The access-path
    * recast of the reference's `getStatements(s, …)` index lookup
    * (repository.clj:716-727, SURVEY.md §2.3 F3).
    */
  def lookup(keyValue: Any, asOf: Option[Long] = None): DataFrame = {
    val entries = liveEntries(asOf)
    val schema = schemaFor(entries.map(_.file), asOf)
    val subset = layoutOf(entries) match {
      case Some(layout) =>
        import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, Literal}
        val dt = schema.fields.find(_.name == keyCol)
          .map(_.dataType).getOrElse(StringType)
        // coerce the probe value to the COLUMN's type before hashing —
        // bucket placement hashed that representation (an Int probe
        // against a long key must hash as a long)
        val internal = Cast(Literal(keyValue), dt, Some("UTC")).eval()
        val attr = AttributeReference(keyCol, dt, nullable = false)()
        val b = org.apache.spark.sql.execution.datasources.BucketingUtils
          .getBucketIdFromValue(attr, layout, internal)
        val inBucket = entries.filter(_.file.bucket == b)
        // bloom skip within the bucket: a file whose manifest bloom
        // excludes the probe key cannot contain it (bloom-less files —
        // older manifests, bloom-off tables — are always kept)
        if (keyBloomBits > 0) {
          val ps = LakeTable.bloomPositionsFor(internal, dt, keyBloomBits)
          inBucket.filter(_.file.keyBloom
            .forall(LakeTable.bloomMightContain(_, ps)))
        } else inBucket
      case None => entries
    }
    winnersOver(subset, schema)
      .filter(col(keyCol) === lit(keyValue) && !col(TombCol))
      .drop(LsnCol, TombCol)
  }

  /** Batched point lookup: many keys in one plan, files pruned
    * driver-side to the UNION of the keys' buckets — a K-key probe over a
    * B-bucket table opens at most min(K, B) buckets' files regardless of
    * table size. The multi-key form of [[lookup]] (the reference's
    * repeated `getStatements` calls batched into one scan).
    */
  def lookupAll(keyValues: Seq[Any], asOf: Option[Long] = None): DataFrame = {
    require(keyValues.nonEmpty, "empty key set")
    val entries = liveEntries(asOf)
    val schema = schemaFor(entries.map(_.file), asOf)
    val subset = layoutOf(entries) match {
      case Some(layout) =>
        import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, Literal}
        val dt = schema.fields.find(_.name == keyCol)
          .map(_.dataType).getOrElse(StringType)
        val attr = AttributeReference(keyCol, dt, nullable = false)()
        val internals = keyValues.map(kv =>
          Cast(Literal(kv), dt, Some("UTC")).eval())
        val byBucket = internals.groupBy(
          org.apache.spark.sql.execution.datasources.BucketingUtils
            .getBucketIdFromValue(attr, layout, _))
        val inBuckets = entries.filter(e => byBucket.contains(e.file.bucket))
        // bloom skip, BUCKET-SCOPED: files are bucket-pure, so a file is
        // tested only against its own bucket's probe keys — probing it
        // with other buckets' keys would just multiply the false-positive
        // rate without ever being a true match
        if (keyBloomBits > 0) {
          val probesByBucket = byBucket.map { case (b, ks) =>
            b -> ks.map(LakeTable.bloomPositionsFor(_, dt, keyBloomBits))
          }
          inBuckets.filter(e => e.file.keyBloom.forall(blm =>
            probesByBucket(e.file.bucket)
              .exists(LakeTable.bloomMightContain(blm, _))))
        } else inBuckets
      case None => entries
    }
    winnersOver(subset, schema)
      .filter(col(keyCol).isin(keyValues: _*) && !col(TombCol))
      .drop(LsnCol, TombCol)
  }

  /** [[mergedWinners]] whose FILE SET is pruned to a driver-known key
    * subset — [[lookupAll]]'s access path (bucket union + bucket-scoped
    * bloom skip) but returning the full merge state (tombstone winners
    * and `_lsn` kept) projected to `columns`, for maintainers that fold
    * a bounded changed-key set against current state
    * ([[JoinView.maintain]]). Contract: winners are exact ONLY for keys
    * in `keyValues` — a key outside the set may have versions in skipped
    * files, so callers MUST row-restrict (semi-join / isin) to the same
    * keys before use. Reference analog: access-path selection over the
    * native store's key-led indexes (repository.clj:131-136).
    *
    * SELECTIVITY GATE: the bucket/bloom math is driver-side metadata
    * work, so the pruned plan is chosen only after seeing what it
    * actually skips — when the surviving file set is most of the table
    * (a uniform probe set larger than the bucket count hits every
    * bucket, and a compacted bucket's one file contains every probe),
    * the full scan is returned instead: same result, none of the
    * per-key probe overhead. Pruning pays off exactly when probe keys ≲
    * buckets — the small-batch steady state on a wide production layout
    * (10^3–10^4 buckets), pinned by JoinViewSpec's one-key fold.
    */
  def winnersForKeySubset(keyValues: Seq[Any], asOf: Option[Long] = None,
                          columns: Seq[String] = Seq.empty): DataFrame = {
    require(keyValues.nonEmpty, "empty key set")
    val entries = liveEntries(asOf)
    val schema = schemaFor(entries.map(_.file), asOf)
    val target =
      if (columns.isEmpty) schema
      else {
        val want = (keyCol +: columns).toSet
        val missing = want -- schema.fields.map(_.name).toSet
        require(missing.isEmpty,
          s"projected columns not in schema: ${missing.mkString(", ")}")
        LakeSchema(schema.schemaId, schema.fields.filter(f => want.contains(f.name)))
      }
    // early-out before any per-key math: with far more probe keys than
    // live files, per-file bloom skipping is statistically hopeless (a
    // file holding a uniform key slice almost surely contains one of
    // thousands of probes) — the full scan is the plan
    if (keyValues.length > 4 * entries.size)
      return winnersOver(entries, target)
    val subset = layoutOf(entries) match {
      case Some(layout) =>
        import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, Literal}
        val dt = schema.fields.find(_.name == keyCol)
          .map(_.dataType).getOrElse(StringType)
        val attr = AttributeReference(keyCol, dt, nullable = false)()
        val internals = keyValues.map(kv =>
          Cast(Literal(kv), dt, Some("UTC")).eval())
        val byBucket = internals.groupBy(
          org.apache.spark.sql.execution.datasources.BucketingUtils
            .getBucketIdFromValue(attr, layout, _))
        val inBuckets = entries.filter(e => byBucket.contains(e.file.bucket))
        if (keyBloomBits > 0) {
          val probesByBucket = byBucket.map { case (b, ks) =>
            b -> ks.map(LakeTable.bloomPositionsFor(_, dt, keyBloomBits))
          }
          inBuckets.filter(e => e.file.keyBloom.forall(blm =>
            probesByBucket(e.file.bucket)
              .exists(LakeTable.bloomMightContain(blm, _))))
        } else inBuckets
      case None => entries
    }
    // the gate: pruning that keeps ≥80% of the files is pure overhead —
    // serve the plain full-scan plan instead (identical winners, and
    // exact for EVERY key, which satisfies the subset contract trivially)
    if (subset.size * 5 >= entries.size * 4) winnersOver(entries, target)
    else winnersOver(subset, target)
  }

  /** Time travel addressed by EPOCH (the input stream's coordinate)
    * instead of snapshot id: the state as of the newest snapshot whose
    * epoch is ≤ `epochId` — "what did the table say after batch N", the
    * question a replay audit actually asks. Maintenance snapshots carry
    * their predecessor's epoch, so they resolve transparently. Parses the
    * snapshot history (audit path, not the hot path).
    */
  def readAtEpoch(epochId: Long): DataFrame = {
    val snap = snapshots.filter(_.epochId <= epochId).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot at or below epoch $epochId " +
          "(history may have been expired — see expireSnapshots)"))
    readAt(snap.snapshotId)
  }

  /** Raw scan of the live files WITHOUT winner resolution — the
    * zero-aggregate read path for APPEND-ONLY tables (every key inserted
    * at most once, no deletes), where the live rows already ARE the table
    * state: streaming admission indexes, derived band/posting tables,
    * lineage logs. Sound across compaction too (a rewrite replaces many
    * versionless rows with the same rows). On a table that HAS per-key
    * updates or tombstones this returns every live version — use
    * [[read]]/[[mergedWinners]] there.
    *
    * Served through [[ManifestFileIndex]], so pushed predicates get
    * manifest-side per-column FILE skipping with no aggregate in the way
    * of pushdown — with a [[upsert `clusterBy`]]-written table, a
    * `col IN (…)` probe opens only the matching cluster's files.
    */
  def readInsertOnly(): DataFrame = {
    val entries = liveEntries(None)
    readDataFiles(entries.map(_.file), currentSchema).drop(LsnCol, TombCol)
  }

  /** Single bucket layout of a live-entry set, None when mixed/unknown. */
  private def layoutOf(entries: Seq[LiveEntry]): Option[Int] =
    entries.flatMap(_.layout).distinct match {
      case Seq(n) => Some(n)
      case Seq()  => Some(numBuckets) // legacy snapshots without the key
      case _      => None
    }

  private def winnersOver(entries: Seq[LiveEntry], schema: LakeSchema): DataFrame = {
    val files = entries.map(_.file)
    // no files (fresh table, or a lookup pruned to an empty bucket) —
    // empty frame, and never an empty-reduce crash in the branch path
    if (files.isEmpty) return readDataFiles(files, schema)
    // fast path: every key appears at most once when all live files come
    // from a single snapshot (one post-LWW batch, or one compaction) — no
    // winner aggregate needed, but still served through the bucketed
    // relation when eligible (bucket pruning for key point-lookups,
    // reported partitioning for downstream joins)
    if (entries.map(_.snapId).distinct.size <= 1)
      bucketedRelation(entries, schema)
        .getOrElse(readDataFiles(files, schema))
    else bucketedWinners(entries, schema).getOrElse {
      val nonKey = schema.fields.map(_.name).filterNot(_ == keyCol) ++
        Seq(LsnCol, TombCol)
      files.groupBy(_.bucket).toSeq.sortBy(_._1).map { case (_, bucketFiles) =>
        val df = readDataFiles(bucketFiles, schema)
        // a single file holds at most one row per key (post-LWW) — no merge
        if (bucketFiles.size <= 1)
          df.select((col(keyCol) +: nonKey.map(col)): _*)
        else df.coalesce(1)
          .groupBy(col(keyCol))
          .agg(max_by(struct(nonKey.map(col): _*), col(LsnCol)).as("_w"))
          .select(col(keyCol) +: nonKey.map(c => col(s"_w.$c").as(c)): _*)
      }.reduce(_ unionByName _)
    }
  }

  /** Build a bucketed parquet relation over `files` straight from the
    * manifest (no filesystem listing), with field-id mapping to `target`.
    * Returns the mapped frame and the file schema's column names, or None
    * when ineligible (mixed schema versions or mixed/unsniffable bucket
    * layout) — callers fall back to plain per-group reads.
    */
  private def bucketedRelationRaw(entries: Seq[LiveEntry], target: LakeSchema)
      : Option[(DataFrame, LakeSchema)] = {
    val files = entries.map(_.file)
    if (files.isEmpty) return None
    val sids = files.map(_.schemaId).distinct
    if (sids.size != 1) return None
    // layout of the contributing snapshots (bucket evolution rewrites the
    // whole live set, so a live set always carries exactly one layout; for
    // time travel it may differ from the CURRENT table layout)
    val layout = layoutOf(entries).getOrElse(return None)
    if (files.exists(f => f.bucket >= layout ||
        !f.path.matches(""".*_\d{5}\.[^/]*$"""))) return None
    val fileSchema = schemas.find(_.schemaId == sids.head).getOrElse(return None)
    // everything nullable: tombstone rows carry null payloads even in
    // columns declared non-null (DataFrameReader forces this too — a
    // hand-built relation must do it itself or codegen NPEs on the nulls)
    val hidden = Seq(
      StructField(LsnCol, LongType, nullable = true),
      StructField(TombCol, BooleanType, nullable = true))
    val readSchema = StructType(
      (fileSchema.sparkSchema.fields.toSeq.map(_.copy(nullable = true)) ++ hidden))
    val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      new ManifestFileIndex(root, files),
      partitionSchema = StructType(Nil),
      dataSchema = readSchema,
      bucketSpec = Some(org.apache.spark.sql.catalyst.catalog.BucketSpec(
        layout, Seq(keyCol), Nil)),
      fileFormat = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      options = Map.empty)(spark)
    Some((spark.baseRelationToDataFrame(relation), fileSchema))
  }

  /** Field-id mapping of a file-schema frame onto `target` (rename/widen;
    * nulls for added columns), hidden columns carried through.
    */
  private def mapToTarget(df: DataFrame, fileSchema: LakeSchema,
                          target: LakeSchema): DataFrame = {
    val nameById = fileSchema.fields.map(f => f.id -> f.name).toMap
    val outCols: Seq[Column] = target.fields.map { tf =>
      nameById.get(tf.id) match {
        case Some(oldName) => col(oldName).cast(tf.dataType).as(tf.name)
        case None          => lit(null).cast(tf.dataType).as(tf.name)
      }
    } ++ Seq(col(LsnCol), col(TombCol))
    df.select(outCols: _*)
  }

  /** Single-snapshot bucketed read: no winner aggregate, just the mapped
    * relation (bucket pruning + reported partitioning for free).
    */
  private def bucketedRelation(entries: Seq[LiveEntry], target: LakeSchema)
      : Option[DataFrame] =
    bucketedRelationRaw(entries, target).map {
      case (df, fileSchema) => mapToTarget(df, fileSchema, target)
    }

  /** Single-scan zero-exchange winner resolution over a bucketed relation
    * built straight from the manifest (no filesystem listing). Applicable
    * when the live files share one schema version and one bucket layout;
    * returns None otherwise (caller falls back to plan branches).
    */
  private def bucketedWinners(entries: Seq[LiveEntry], target: LakeSchema)
      : Option[DataFrame] =
    bucketedRelationRaw(entries, target).map { case (df, fileSchema) =>
      // the key is projected from the GROUPING attribute (not from the
      // max_by struct): Catalyst then carries HashPartitioning(key, n)
      // through the aggregate, so downstream joins/aggs on the key — e.g.
      // two co-bucketed tables joined — plan with no exchange either.
      // The struct carries only the TARGET's fields (resolved to file
      // names by id): a projected target prunes the scan, an evolved
      // target nulls absent ids in mapToTarget — identical either way
      val nameById = fileSchema.fields.map(f => f.id -> f.name).toMap
      val nonKey = target.fields.flatMap(f => nameById.get(f.id))
        .filterNot(_ == keyCol) ++ Seq(LsnCol, TombCol)
      val winners = df
        .groupBy(col(keyCol))
        .agg(max_by(struct(nonKey.map(col): _*), col(LsnCol)).as("_w"))
        .select(col(keyCol) +: nonKey.map(c => col(s"_w.$c").as(c)): _*)
      mapToTarget(winners, fileSchema, target)
    }

  /** Read a heterogeneous-schema set of delta files, mapping each file's
    * columns to the target schema by field id (nulls for added columns,
    * `cast` for legal widenings). Served through [[ManifestFileIndex]]
    * relations (one per schema version), so pushed predicates get
    * manifest-side per-column data skipping — a `source`-restricted
    * changelog read opens only the files whose stat range overlaps.
    */
  private def readDataFiles(files: Seq[FileEntry], target: LakeSchema): DataFrame = {
    // everything nullable: tombstone rows carry null payloads, and a
    // hand-built relation must force this itself or codegen NPEs
    val hidden = Seq(
      StructField(LsnCol, LongType, nullable = true),
      StructField(TombCol, BooleanType, nullable = true))
    if (files.isEmpty) {
      val s = StructType(target.sparkSchema.fields.map(_.copy(nullable = true)) ++ hidden)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    }
    val byId = schemas.map(s => s.schemaId -> s).toMap
    files.groupBy(_.schemaId).map { case (sid, group) =>
      val fileSchema = byId(sid)
      val nameById = fileSchema.fields.map(f => f.id -> f.name).toMap
      val readSchema = StructType(
        fileSchema.sparkSchema.fields.toSeq.map(_.copy(nullable = true)) ++ hidden)
      val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        new ManifestFileIndex(root, group),
        partitionSchema = StructType(Nil),
        dataSchema = readSchema,
        bucketSpec = None,
        fileFormat = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        options = Map.empty)(spark)
      val df = spark.baseRelationToDataFrame(relation)
      val cols: Seq[Column] = target.fields.map { tf =>
        nameById.get(tf.id) match {
          case Some(oldName) => col(oldName).cast(tf.dataType).as(tf.name)
          case None          => lit(null).cast(tf.dataType).as(tf.name)
        }
      } ++ Seq(col(LsnCol), col(TombCol))
      df.select(cols: _*)
    }.reduce(_ unionByName _)
  }

  // ---- write path ----

  /** Apply one change batch as a new snapshot.
    *
    * `batch` columns: `op` ("I"|"U"|"D"), `lsn`, plus payload columns
    * matched to the current schema by NAME (missing → null, widenable
    * types cast). With `reduce = true` (default) the batch may contain
    * many events per key: the fused bucketed LWW reduce runs inside the
    * single upsert shuffle. With `reduce = false` the caller guarantees at
    * most one row per key (e.g. a pre-salted reduce) and rows are only
    * re-placed onto buckets.
    *
    * `clusterBy` (optional) splits each bucket's output file by the given
    * expression (evaluated over the projected delta — schema columns plus
    * the hidden `_lsn`/`_tomb`): every delta file is then PURE in that
    * expression's value, so its manifest column stats carry a tight range
    * and [[ManifestFileIndex]] can skip whole files on predicates over
    * the clustered column — the write-side half of Iceberg-style
    * partition/cluster pruning. Use an ORDER-PRESERVING coarsening of a
    * high-cardinality column (e.g. `col("bkey") >> 12`) to bound the
    * per-bucket file fan-out; the per-delta file count is
    * buckets × distinct-cluster-values.
    *
    * Returns None (and writes nothing) when `epochId` was already
    * committed — the exactly-once re-delivery check.
    */
  def upsert(batch: DataFrame, epochId: Long,
             summary: Map[String, String] = Map.empty,
             reduce: Boolean = true,
             clusterBy: Option[Column] = None): Option[Snapshot] = {
    if (epochId <= lastCommittedEpoch) return None
    val schema = currentSchema

    // the key is cast to the TABLE's key type BEFORE any placement: the
    // shuffle hash, the per-row _bucket tag, and lookup's driver-side
    // bucket math must all hash the same representation (an int key
    // delivered into a widened long column would otherwise hash 4 bytes
    // at placement but 8 bytes at verification)
    val keyType = schema.fields.find(_.name == keyCol).map(_.dataType)
    val keyed = keyType
      .filterNot(dt => sameType(batch.schema(keyCol).dataType, dt))
      .map(dt => batch.withColumn(keyCol, col(keyCol).cast(dt)))
      .getOrElse(batch)
    // shuffle only what the delta needs: key, lsn, op, schema payloads —
    // event-time and transport columns never cross the wire
    val needed = (Seq(keyCol, "lsn", "op") ++
      schema.fields.map(_.name).filter(keyed.columns.contains)).distinct
    val slim = keyed.select(needed.filter(keyed.columns.contains).map(col): _*)
    // the delta is a FUNCTION of the bucket layout: the reduce/placement
    // shuffle count and the per-row _bucket tag must both come from the
    // same layout, so a layout-change retry rebuilds it from scratch
    def deltaFor(layout: Int): DataFrame = {
      val winners =
        if (reduce) Lww.reduceBucketed(slim, keyCol, layout)
        else keyed.repartition(layout, col(keyCol))
      // project to the current schema AFTER the reduce — selections
      // preserve the bucket partitioning, so no further exchange is planned
      val srcMin = if (winners.columns.contains("_src_min")) col("_src_min") else col("lsn")
      val srcMax = if (winners.columns.contains("_src_max")) col("_src_max") else col("lsn")
      val outCols: Seq[Column] = schema.fields.map { f =>
        if (batch.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      } ++ Seq(col("lsn").as(LsnCol), (col("op") === "D").as(TombCol),
          srcMin.as(SrcMinCol), srcMax.as(SrcMaxCol))
      winners.select(outCols: _*)
    }

    // the write-and-commit loop re-runs IN FULL if a concurrent
    // re-bucketing compaction changed the layout under us: a delta staged
    // under the old bucket count must never join a re-bucketed live set
    // (mixed layouts would split a key across buckets and break the
    // bucket-local winner merge). Rare — one extra write per layout
    // change caught mid-flight — and loudly bounded.
    var attempt = 0
    while (true) {
      val layout = numBuckets
      val entries = writeDelta(deltaFor(layout), deltaDir("snap"), schema.schemaId,
        layout, clusterBy)
      try {
        return commitWithRetry(Some(epochId), entries, removed = Set.empty,
          summary + ("operation" -> "upsert") + ("numBuckets" -> layout.toString),
          writtenLayout = layout)
      } catch {
        case _: LayoutChangedException =>
          attempt += 1
          if (attempt > 3) throw new IllegalStateException(
            "table layout changed under this upsert 3 times in a row — giving up")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Writer-unique delta directory: the uuid suffix means two concurrent
    * writers (or a crashed attempt and its replay) can NEVER collide on a
    * data path — the precondition for optimistic commit retry. The
    * snapshot id is deliberately absent from the name: it is not known
    * until the commit CAS settles.
    */
  private def deltaDir(kind: String): String =
    s"data/$kind-${UUID.randomUUID().toString.take(18)}"

  /** Optimistic validate-and-retry commit (the Iceberg commit loop over
    * the [[LakeFs]] CAS). `epochId = Some(e)`: an ingest commit — on
    * conflict, rebase onto the winner; if the refreshed table shows epoch
    * `e` already applied (a replicated/replayed driver won the race), the
    * delta is a DUPLICATE delivery: its files are deleted and None is
    * returned, the same exactly-once contract as the pre-write check.
    * `epochId = None`: a maintenance rewrite — the committed epoch is
    * re-read on every attempt (a maintenance snapshot must never rewind
    * the table's epoch), and the retry aborts loudly if any file this
    * commit removes is no longer live (a concurrent rewrite took it —
    * rebasing would double-remove). In BOTH modes, if the winner changed
    * the table's bucket layout (re-bucketing compaction), the staged
    * delta's placement is invalid for the new layout: the files are
    * dropped and [[LayoutChangedException]] sent up — upsert re-writes
    * under the new layout; a maintenance rewrite would already have
    * aborted on its removal set (a re-bucket replaces every live file).
    */
  private def commitWithRetry(epochId: Option[Long], added: Seq[FileEntry],
      removed: Set[String], summary: Map[String, String],
      writtenLayout: Int = -1, maxRetries: Int = 10): Option[Snapshot] = {
    def dropDelta(): Unit =
      added.map(f => LakeFs.parent(s"$root/${f.path}")).distinct
        .foreach(fs.deleteRecursively)
    var attempt = 0
    while (true) {
      val snapId = currentSnapshotId + 1
      val snap = Snapshot(snapId, snapId - 1,
        epochId.getOrElse(lastCommittedEpoch), added, removed, summary)
      try { commit(snap); return Some(snap) }
      catch {
        case _: CommitConflictException =>
          attempt += 1
          refresh() // fold the winner's commits, then validate the rebase
          epochId.foreach { e =>
            if (e <= lastCommittedEpoch) { dropDelta(); return None }
          }
          if (writtenLayout > 0 && numBuckets != writtenLayout) {
            dropDelta()
            throw new LayoutChangedException(writtenLayout, numBuckets)
          }
          if (removed.nonEmpty) {
            ensureState()
            if (!removed.subsetOf(stateLive.keySet.toSet)) {
              dropDelta()
              throw new IllegalStateException(
                "concurrent commit already removed files this rewrite replaces " +
                  "— re-run the maintenance operation against fresh state")
            }
          }
          if (attempt > maxRetries) {
            dropDelta()
            throw new IllegalStateException(
              s"commit lost the CAS $maxRetries times in a row — giving up")
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Predicate delete — the recast of grafter's delete-by-statement /
    * delete-by-graph (repository.clj:596-628; SURVEY.md §2.8 U3): write
    * tombstones for every currently-visible key matching `cond` (e.g.
    * `col("source") === "src_1"` drops a whole provenance "graph").
    * Tombstone lsn = 1 + the table's max source lsn (from file metadata,
    * no scan), so it wins over every existing version.
    */
  def deleteMatching(cond: Column, epochId: Long): Option[Snapshot] = {
    val tombLsn = (liveFiles().map(_.maxLsn) :+ 0L).max + 1
    val victims = readWithLsn().filter(cond)
      .select(col(keyCol), lit("D").as("op"), lit(tombLsn).as("lsn"))
    upsert(victims, epochId, Map("delete" -> cond.toString), reduce = false)
  }

  /** Rewrite the visible state as one file per bucket and drop all old
    * files (removes tombstones and superseded versions) — bounds read
    * amplification. The rewrite is the same single-shuffle placement as
    * upsert.
    */
  /** Incremental changelog read: the per-key winner rows committed by
    * snapshots in (fromSnapshotId, toSnapshotId] — what a downstream CDC
    * consumer tails instead of re-reading the table. Tombstone winners are
    * included with `_tomb = true`; `_lsn` carries the version. Reads only
    * the delta files those snapshots added (no merge join).
    */
  /** Tail the table's committed winner rows as a STREAM (CDC out): each
    * upsert's delta files arrive as their snapshot COMMITS — the
    * downstream analog of the change feed this engine ingests. Tombstone
    * winners ride along with `_tomb = true`; `_lsn` carries the version.
    * Compaction rewrites are never re-emitted.
    *
    * Driven by the snapshot log, not a directory glob ([[LakeCdcSource]]):
    * the offset IS the snapshot id, each micro-batch reads exactly the new
    * snapshots' manifest files. A file-glob source here would (a) re-list
    * the entire data tree every trigger and keep an O(all-files-ever)
    * seen-files map — unbounded driver state at thousands of snapshots —
    * and (b) emit rows the moment a staged delta dir lands, BEFORE its
    * snapshot commits: a crash between the dir move and the commit would
    * leak phantom uncommitted rows (and the replayed epoch's fresh UUID
    * filenames would duplicate them). Manifest-driven planning makes
    * visibility follow the commit and per-trigger work O(new snapshots).
    */
  def changesStream(maxSnapshotsPerTrigger: Int = 8,
      startingSnapshotId: Option[String] = None): DataFrame = {
    val r = spark.readStream
      .format(classOf[LakeCdcSourceProvider].getName)
      .option(LakeCdcSource.RootOption, root)
      .option(LakeCdcSource.MaxSnapshotsOption, maxSnapshotsPerTrigger.toString)
    startingSnapshotId
      .fold(r)(v => r.option(LakeCdcSource.StartingSnapshotOption, v))
      .load()
  }

  /** Incremental changelog read: winner rows committed by upsert snapshots
    * in (from, to]. Snapshot ids are dense, so the range is read by
    * DIRECT file probes — O(range) metadata reads, no listing, no full-log
    * parse (this runs once per CDC-out micro-batch).
    */
  def changesBetween(fromSnapshotId: Long, toSnapshotId: Long): DataFrame =
    changesBetweenAs(fromSnapshotId, toSnapshotId, currentSchema)

  /** [[changesBetween]] projected onto an explicit schema version — the
    * CDC-out stream pins its schema at stream start and keeps consuming
    * through a mid-stream evolution (files written under other versions
    * map by field id: added columns null out, widenings cast); a restart
    * picks the evolved schema up.
    */
  private[lake] def changesBetweenAs(fromSnapshotId: Long, toSnapshotId: Long,
      target: LakeSchema): DataFrame = {
    val files = ((fromSnapshotId + 1) to toSnapshotId).flatMap { id =>
      val p = f"$metaDir/snap-$id%012d.json"
      // ids are dense and `to` is never beyond the committed head, so a
      // missing file in the range means it was EXPIRED — emitting a
      // silently incomplete changelog would corrupt every downstream
      // consumer (same contract as a log store's offset-out-of-range)
      if (!fs.exists(p)) throw new IllegalStateException(
        s"snapshot $id in requested change range ($fromSnapshotId, " +
          s"$toSnapshotId] was expired — CDC consumers must not lag past " +
          "the retention horizon (see expireSnapshots)")
      val s = parseSnap(p)
      if (s.summary.get("operation").contains("upsert")) s.addedData
      else Seq.empty[FileEntry]
    }
    readDataFiles(files, target)
  }

  /** The surviving upsert snapshots in `(from, to]`, from the log. */
  private def upsertsIn(fromSnapshotId: Long, toSnapshotId: Long): Seq[Snapshot] =
    snapshots.filter(s => s.snapshotId > fromSnapshotId && s.snapshotId <= toSnapshotId &&
      s.summary.get("operation").contains("upsert"))

  /** The upsert files committed in snapshots `(from, to]` — the files
    * [[changesBetween]] opens — read from the snapshot log, no file IO.
    * Expired snapshots are absent here; changesBetween refuses them. */
  private[lake] def changedFiles(fromSnapshotId: Long, toSnapshotId: Long): Seq[FileEntry] =
    upsertsIn(fromSnapshotId, toSnapshotId).flatMap(_.addedData)

  /** @param purgeTombstonesBelowLsn tombstones with `_lsn` below this are
    *   physically dropped. A tombstone masks any not-yet-arrived event of
    *   its key with a smaller lsn, so the default (Long.MinValue) keeps
    *   them ALL — only a caller that knows the feed's lateness bound (the
    *   watermark analog in lsn space) may raise it.
    * @param newNumBuckets re-bucket the table in the same rewrite. A fixed
    *   bucket count is the ingest-parallelism ceiling AND the per-bucket
    *   file-size floor: a table that grew 100× needs more buckets, and
    *   compaction already rewrites every live file, so layout evolution is
    *   free here. The new count is persisted in table metadata; because
    *   the rewrite replaces the whole live set atomically, readers never
    *   see a mixed layout.
    */
  def compact(purgeTombstonesBelowLsn: Long = Long.MinValue,
              summary: Map[String, String] = Map.empty,
              newNumBuckets: Option[Int] = None,
              clusterBy: Option[Column] = None): Snapshot = {
    val target = newNumBuckets.getOrElse(numBuckets)
    require(target > 0, s"bucket count must be positive: $target")
    val oldFiles = liveFiles()
    val merged = mergedWinners()
      .filter(!col(TombCol) || col(LsnCol) >= purgeTombstonesBelowLsn)
      .repartition(target, col(keyCol))
    // compaction rewrites land under data/compact-* (not data/snap-*) so
    // the CDC-out tail ([[changesStream]]) never re-emits rows a
    // maintenance rewrite merely moved
    val entries = writeDelta(merged.select(
        (currentSchema.fields.map(f => col(f.name)) ++ Seq(col(LsnCol), col(TombCol))): _*),
      deltaDir("compact"), currentSchema.schemaId, target, clusterBy)
    val snap = commitWithRetry(None, entries,
      oldFiles.map(_.path).toSet,
      summary + ("operation" -> "compact") + ("numBuckets" -> target.toString) ++
        newNumBuckets.map(n => "rebucket" -> s"${numBuckets}->$n")).get
    if (target != _numBuckets) {
      _numBuckets = target
      writeTableProps(fs, metaDir, keyCol, target, keyBloomBits)
    }
    snap
  }

  /** INCREMENTAL compaction: rewrite only the given buckets' live files,
    * leaving every other bucket's files untouched. The winner merge is
    * bucket-local by construction (a key's versions only ever live in its
    * hash bucket), so a bucket subset is a closed rewrite unit — this is
    * how compaction debt is paid at the 10^10-event target: a maintenance
    * job compacts the K worst buckets per run at O(selected data) cost,
    * instead of [[compact]]'s full-table rewrite (impractical at 100 TB).
    * Layout evolution (`newNumBuckets`) deliberately stays full-rewrite
    * only: a partial re-bucket would leave readers a mixed layout.
    *
    * Pick victims with [[compactionCandidates]]. Same CDC-out contract as
    * [[compact]] (operation=compact snapshots are never re-emitted); same
    * tombstone-purge rule; safe against concurrent upserts via the
    * validate-and-retry commit (aborts loudly only if a concurrent rewrite
    * took one of OUR victim files).
    */
  def compactBuckets(buckets: Seq[Int],
                     purgeTombstonesBelowLsn: Long = Long.MinValue,
                     summary: Map[String, String] = Map.empty,
                     clusterBy: Option[Column] = None): Option[Snapshot] = {
    require(buckets.nonEmpty && buckets.forall(b => b >= 0 && b < numBuckets),
      s"bucket selection $buckets outside layout [0, $numBuckets)")
    val sel = buckets.toSet
    val victims = liveEntries(None).filter(e => sel(e.file.bucket))
    if (victims.isEmpty) return None
    val entries = LakeTable.interpretedWhenSmall(Seq(spark), victims.map(_.file)) {
      val merged = winnersOver(victims, currentSchema)
        .filter(!col(TombCol) || col(LsnCol) >= purgeTombstonesBelowLsn)
        .repartition(numBuckets, col(keyCol)) // non-selected partitions
      // are empty and their part files are dropped at track time — the
      // delta holds exactly the selected buckets, in layout position
      writeDelta(merged.select(
          (currentSchema.fields.map(f => col(f.name)) ++ Seq(col(LsnCol), col(TombCol))): _*),
        deltaDir("compact"), currentSchema.schemaId, numBuckets, clusterBy)
    }
    commitWithRetry(None, entries,
      victims.map(_.file.path).toSet,
      summary + ("operation" -> "compact") + ("numBuckets" -> numBuckets.toString) +
        ("buckets" -> buckets.sorted.mkString(",")))
  }

  /** Buckets whose live file count exceeds `maxFilesPerBucket` — the
    * read-amplification policy feed for [[compactBuckets]]; driver-side
    * over the manifest, zero file IO.
    */
  def compactionCandidates(maxFilesPerBucket: Int): Seq[Int] = {
    require(maxFilesPerBucket >= 1, "a bucket always holds >= 1 live file")
    liveFiles().groupBy(_.bucket).collect {
      case (b, fs) if fs.size > maxFilesPerBucket => b
    }.toSeq.sorted
  }

  /** Delete data directories referenced by NO surviving snapshot — the
    * garbage left by crashed write attempts and by commit-retry losers
    * (delta dirs are writer-unique, so nothing ever overwrites them in
    * place; Iceberg's remove_orphan_files analog). Protected: every path
    * added by a surviving snapshot, plus the live set (which covers files
    * whose adding snapshot was expired). Maintenance-only — must not run
    * while a writer has a delta staged-but-uncommitted; in-flight
    * `.stage-*` dirs are skipped unless `includeStaging`. Returns the
    * deleted directories.
    */
  def gcOrphanData(includeStaging: Boolean = false): Seq[String] = {
    val referenced: Set[String] =
      (snapshots.flatMap(_.addedData.map(_.path)) ++ liveFiles().map(_.path))
        .map(p => p.split('/').take(2).mkString("/")).toSet
    fs.list(s"$root/data").filter { d =>
      val name = LakeFs.fileName(d)
      val staging = name.startsWith(".stage-")
      (includeStaging || !staging) && !referenced.contains(s"data/$name")
    }.map { d => fs.deleteRecursively(d); d }
  }

  /** Evolve the table schema: new columns get fresh field ids; same-name
    * columns keep their id; `int→long` / `float→double` widenings are the
    * legal type changes. Old files keep their bytes and are re-mapped at
    * read time. The key column must keep its name (the pruned delete-view
    * scan reads it by name across schema versions).
    */
  def evolveSchema(newSpark: StructType): LakeSchema = {
    val cur = currentSchema
    val byName = cur.fields.map(f => f.name -> f).toMap
    require(newSpark.fieldNames.contains(keyCol), s"key column $keyCol must remain")
    var nextId = (schemas.flatMap(_.fields.map(_.id)) :+ 0).max + 1
    val fields = newSpark.fields.toSeq.map { sf =>
      byName.get(sf.name) match {
        case Some(old) =>
          require(sameType(old.dataType, sf.dataType) || widenable(old.dataType, sf.dataType),
            s"illegal type change for ${sf.name}: ${old.dataType} -> ${sf.dataType}")
          old.copy(dataType = sf.dataType, nullable = sf.nullable || old.nullable)
        case None =>
          val f = LakeField(nextId, sf.name, sf.dataType, nullable = true)
          nextId += 1
          f
      }
    }
    val prior = schemas // materialise the cache BEFORE the new file lands
    writeSchemaFile(fs, metaDir, LakeSchema(cur.schemaId + 1, fields))
    // cache what a RE-READ produces, not the in-memory object: schema JSON
    // round-trips through DDL text, which drops containsNull/nullable
    // nuances — the cache must be indistinguishable from a cold load
    val evolved = readSchema(
      fs.readString(f"$metaDir/schema-${cur.schemaId + 1}%04d.json"))
    schemaCache = prior :+ evolved
    evolved
  }

  /** Auto-evolution: grow the table schema to fit an incoming batch —
    * the connector-restart flow where the feed starts carrying a new
    * column or a widened type and the table must follow WITHOUT a manual
    * [[evolveSchema]] step (Iceberg's merge-schema write option; the
    * reference analog is the tabular pipeline absorbing new derived
    * columns, make-graph/derive in pipeline.clj).
    *
    * Rules, applied by NAME against the current schema:
    *  - incoming columns the table lacks are APPENDED (nullable — old
    *    rows read null), except `protocolCols` (op/lsn/ts by default:
    *    change-protocol fields are transport, never payload);
    *  - an incoming type that [[LakeTable.widenable]]-widens the current
    *    field widens it (int→long, float→double, short→int/long);
    *  - any other type difference evolves NOTHING — the upsert's
    *    name-matched cast keeps applying, and under ANSI a lossy cast
    *    fails loudly rather than silently truncating;
    *  - columns the incoming batch lacks are kept (missing → null).
    *
    * Returns true iff THIS call published an evolution (false when the
    * schema already fits — including because a rival just published the
    * same merge). Safe under replicated drivers: a lost CAS race
    * ([[evolveSchema]]'s dense-id create-only publish) refreshes and
    * re-derives — identical racing evolutions converge, conflicting ones
    * retry against the winner, and only a still-losing third attempt
    * propagates the failure.
    */
  def mergeSchemaFrom(incoming: StructType,
                      protocolCols: Set[String] = Set("op", "lsn", "ts")): Boolean = {
    import LakeTable.{sameType, widenable}
    def target(): Option[StructType] = {
      val cur = currentSchema
      val byName = cur.fields.map(f => f.name -> f).toMap
      val payload = incoming.fields.filterNot(f => protocolCols.contains(f.name))
      val byIncoming = payload.map(f => f.name -> f).toMap
      var changed = false
      val kept = cur.fields.map { f =>
        byIncoming.get(f.name) match {
          case Some(in) if !sameType(f.dataType, in.dataType) &&
              widenable(f.dataType, in.dataType) =>
            changed = true
            StructField(f.name, in.dataType, nullable = true)
          case _ => StructField(f.name, f.dataType, f.nullable)
        }
      }
      val added = payload.filterNot(f => byName.contains(f.name))
        .map(f => StructField(f.name, f.dataType, nullable = true))
      if (!changed && added.isEmpty) None
      else Some(StructType(kept ++ added))
    }
    var attempt = 0
    while (true) {
      target() match {
        case None => return false
        case Some(t) =>
          try { evolveSchema(t); return true }
          catch {
            case e: IllegalStateException if attempt < 3 =>
              attempt += 1
              refresh() // absorb the winner's schema, re-derive the merge
            case e: IllegalStateException => throw e
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ---- internals ----

  private def abs(f: FileEntry): String = s"$root/${f.path}"

  /** The Hadoop conf the footer reads open files with, built once per
    * table: each new conf re-parses the `*-default.xml` resources in
    * every footer-reading thread. Session conf changes made after the
    * first write do not reach it — it only locates and opens files. */
  private lazy val hadoopConf = spark.sessionState.newHadoopConf()

  /** Plain parquet write — task N's output file IS bucket N (the input is
    * hash-partitioned on the key with exactly `numBuckets` partitions).
    * Each file is renamed to carry the `_0000N` bucket suffix Spark's
    * bucketed-scan machinery parses (BucketingUtils), so the merged read
    * can hand the files back to Catalyst as a bucketed relation.
    * Returns the tracked entries; per-file row counts and `_lsn` min/max
    * lifted from the parquet footer (driver-side, no Spark job) — these
    * are the manifest-style file stats that feed lineage and future scan
    * pruning.
    */
  private def writeDelta(df: DataFrame, relDir: String, schemaId: Int,
                         buckets: Int,
                         clusterBy: Option[Column] = None): Seq[FileEntry] = {
    // The file layout contract is "part N holds exactly key-bucket N".
    // Two defenses keep it unconditionally true:
    //  1. autoBucketedScan is pinned OFF while this write plans: when the
    //     input chain reads one of OUR bucketed relations, Catalyst elides
    //     the caller's repartition (child already HashPartitioning) — and
    //     AQE's DisableUnnecessaryBucketedScan would then silently turn
    //     the scan into arbitrary file splits, breaking task-index ==
    //     bucket and MISPLACING rows (real bug, caught by a review probe).
    //  1b. AQE partition coalescing and skew-splitting are pinned OFF for
    //     the same reason: when the caller's plan already ends in an
    //     ENSURE_REQUIREMENTS exchange on (key, layout) — e.g. a
    //     groupBy/join on the key under shuffle.partitions == numBuckets —
    //     Catalyst elides the explicit REPARTITION_BY_NUM as redundant,
    //     and the surviving requirement exchange IS runtime-coalescable:
    //     AQE then merges adjacent partitions and one task writes several
    //     buckets (real bug: AdmissionProbe at local[8] over an 8-bucket
    //     index, pinned by BucketElisionSpec). With coalescing off, the
    //     surviving exchange keeps exactly `layout` partitions under the
    //     same hash, so elision is placement-preserving.
    //  2. every row carries its computed `_bucket`; after writing, the
    //     parquet footer must show min == max == the part-number bucket,
    //     or the write REFUSES to commit — layout corruption can only ever
    //     be loud, never silent.
    val tagged0 = df.withColumn(BucketCol, pmod(hash(col(keyCol)), lit(buckets)))
    val tagged = clusterBy.fold(tagged0)(c => tagged0.withColumn(ClustCol, c))
    val stage = s"$root/data/.stage-${UUID.randomUUID()}"
    // pin the FRAME's session, not the table's: inside foreachBatch the
    // batch frames belong to a per-stream session clone, and execution
    // (where AQE reads its conf) runs under the frame's own session —
    // pins on the table's session would be invisible there
    LakeTable.pinnedConfs(Seq(tagged.sparkSession), LakeTable.PlacementPins) {
      // partitionBy splits each TASK's output by the cluster value (a
      // local sort per task — no extra shuffle, so task-index == bucket
      // still holds for every produced file); the cluster column itself
      // lands in the directory name, not the file bytes
      val w = tagged.write.mode("overwrite")
      clusterBy.fold(w)(_ => w.partitionBy(ClustCol)).parquet(stage)
    }
    if (!fs.exists(stage)) return Seq.empty
    try {
      // flatten the dynamic-partition dirs into the stage root so the
      // rest of the pipeline (footer tracking, bloom build, stage→target
      // rename) is layout-agnostic; a `-gN` infix keeps names unique
      // across cluster dirs while preserving the `part-<bucket>` prefix
      // the tracking parses
      if (clusterBy.isDefined) {
        fs.list(stage)
          .filter(d => LakeFs.fileName(d).startsWith(s"$ClustCol="))
          .sortBy(LakeFs.fileName).zipWithIndex.foreach { case (d, i) =>
            fs.list(d).filter(_.endsWith(".parquet")).foreach { f =>
              val n = LakeFs.fileName(f) // part-00003-<uuid>…
              fs.rename(f, s"$stage/${n.take(10)}-g$i${n.drop(10)}")
            }
            fs.deleteRecursively(d)
          }
      }
      // materialise the listing BEFORE the side-effecting renames —
      // a directory list is weakly consistent and may re-observe a renamed
      // entry
      val parts = fs.list(stage).filter(_.endsWith(".parquet"))
      def trackFile(f: String): Option[FileEntry] = {
        val name = LakeFs.fileName(f) // part-00007-<uuid>.snappy.parquet
        val bucket = name.stripPrefix("part-").take(5).toInt
        val stats = footerStats(f, hadoopConf)
        if (stats.rows == 0) {
          // empty task output: nothing to track (and no stats to verify)
          fs.deleteIfExists(f)
          None
        } else {
          // -1/-1 = no statistics present (e.g. stats disabled in the
          // parquet conf): unverifiable, not violated
          val verifiable = stats.minBucket >= 0 || stats.maxBucket >= 0
          if (verifiable && (stats.minBucket != bucket || stats.maxBucket != bucket))
            throw new IllegalStateException(
              s"bucket layout violation in $name: file claims bucket $bucket but " +
                s"rows span buckets [${stats.minBucket}, ${stats.maxBucket}] — " +
                "refusing to commit a misplaced delta")
          val suffixed = {
            val dot = name.indexOf('.')
            name.substring(0, dot) + f"_$bucket%05d" + name.substring(dot)
          }
          val dst = s"${LakeFs.parent(f)}/$suffixed"
          fs.rename(f, dst)
          // surface the lsn range under `_lsn` for data skipping too: on
          // upsert deltas it is the `_src_*` range, a SUPERSET of the
          // winner `_lsn` range — conservative in the keep direction, so
          // pruning against it is sound
          val lsnStat =
            if (stats.minLsn >= 0 && stats.maxLsn >= 0)
              Map(LsnCol -> (stats.minLsn.toString, stats.maxLsn.toString))
            else Map.empty[String, (String, String)]
          val allStats = stats.cols ++ lsnStat
          Some(FileEntry(s"$relDir/$suffixed", bucket, fs.size(dst), schemaId,
            stats.rows, stats.minLsn, stats.maxLsn,
            allStats.map { case (k, v) => k -> v._1 },
            allStats.map { case (k, v) => k -> v._2 }))
        }
      }
      // footer reads + renames touch one file each and dominate the
      // driver-side commit cost at high bucket counts (32 buckets × N
      // batches of sequential ~ms-scale opens) — run them on a bounded
      // pool; ordering is restored by the bucket sort
      val entries = {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.max(1, math.min(8, parts.size)))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        try scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(
            parts.map(f => scala.concurrent.Future(trackFile(f)))),
          scala.concurrent.duration.Duration.Inf).flatten.sortBy(_.bucket)
        catch { case t: Throwable =>
          // Future.sequence fails fast while sibling tasks may still be
          // mid-rename inside the stage dir — wait them out so the outer
          // cleanup's walk-delete cannot race a move (which would mask
          // the real error with NoSuchFileException) or leak the dir
          pool.shutdownNow()
          pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
          throw t
        }
        finally pool.shutdown()
      }
      val target = s"$root/$relDir"
      fs.createDirectories(LakeFs.parent(target))
      // delta dirs are writer-unique (uuid-suffixed): an existing target
      // is a name collision, never a replaceable orphan — deleting it
      // could destroy a rival writer's committed data, so fail loudly.
      // True orphans (crashed attempts) are collected by gcOrphanData.
      // blooms are built from the STAGE files, BEFORE the rename: a
      // failing bloom job then hits the catch block while the delta still
      // lives at `stage`, so the existing cleanup path reclaims it (after
      // the rename the stage delete would be a no-op and the full-size
      // delta would leak at `target` until gcOrphanData)
      val withBlooms = attachKeyBlooms(entries, stage)
      require(!fs.exists(target), s"delta dir collision: $target")
      fs.rename(stage, target)
      withBlooms
    } catch {
      case t: Throwable =>
        // never leak a full-size staging dir on a failing feed
        fs.deleteRecursively(stage)
        throw t
    }
  }

  /** Per-file key bloom filters (opt-in via `keyBloomBits` at create):
    * one extra key-column pass over the just-written delta sets
    * `BloomHashes` bit positions per key into a `keyBloomBits`-bit array,
    * stored base64 in the manifest — Iceberg's puffin-blob analog, and
    * the access-path counterpart of the reference's index-config
    * (repository.clj:131-136): [[lookup]]/[[lookupAll]] then skip every
    * file of the key's bucket whose bloom excludes the probe, so a point
    * read under compaction debt opens ~1 file instead of all of the
    * bucket's. Hash = `pmod(xxhash64(i, key), bits)` — the PROBE
    * evaluates the same Catalyst expression driver-side, so build and
    * probe can never disagree. False positives only cost an extra file
    * read; absent blooms (older manifests, bloom-off tables) are never
    * pruned — conservative both ways.
    */
  private def attachKeyBlooms(entries: Seq[FileEntry],
                              stageDir: String): Seq[FileEntry] = {
    if (keyBloomBits <= 0 || entries.isEmpty) return entries
    val posCol = LakeTable.bloomPositionCols(col(keyCol), keyBloomBits)
    val perFile = spark.read.parquet(
        entries.map(e => s"$stageDir/${LakeFs.fileName(e.path)}"): _*)
      .select(input_file_name().as("_f"), explode(posCol).as("_p"))
      .groupBy("_f").agg(collect_set(col("_p")).as("_ps"))
      .collect()
      .map(r => LakeFs.fileName(r.getString(0)) ->
        r.getSeq[Int](1))
      .toMap
    entries.map(e => e.copy(keyBloom = perFile.get(LakeFs.fileName(e.path))
      .map(ps => LakeTable.bloomEncode(ps, keyBloomBits))))
  }

  private final case class FooterStats(rows: Long, minLsn: Long, maxLsn: Long,
                                       minBucket: Int, maxBucket: Int,
                                       cols: Map[String, (String, String)])

  /** Row count, `_lsn`/`_src_*` range, `_bucket` range, AND per-column
    * min/max for every top-level primitive user column (int/long/string)
    * from the parquet footer (driver-side, no Spark job — the footer is
    * already open for the bucket-layout verification, so the manifest
    * column stats are free). These power manifest-side data skipping
    * ([[ManifestFileIndex.listFiles]]): the Iceberg per-column
    * lower/upper-bound analog, and the access-path recast of the
    * reference's index selection (/root/reference/grafter.repository/src/
    * clj/grafter_2/rdf4j/repository.clj:131-136).
    */
  private def footerStats(f: String, conf: org.apache.hadoop.conf.Configuration): FooterStats = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f), conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      // stat-eligible user columns: top-level INT32/INT64/UTF8 primitives
      // plus FLOAT/DOUBLE (nested/raw-binary columns carry no skippable
      // range here)
      val msgType = reader.getFooter.getFileMetaData.getSchema
      val eligible: Map[String, Char] = msgType.getFields.asScala.flatMap { t =>
        if (t.isPrimitive && !t.getName.startsWith("_")) {
          val p = t.asPrimitiveType()
          import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
          p.getPrimitiveTypeName match {
            case INT32 | INT64 => Some(t.getName -> 'i')
            case FLOAT | DOUBLE => Some(t.getName -> 'f')
            case BINARY if p.getLogicalTypeAnnotation.isInstanceOf[
              org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
              Some(t.getName -> 's')
            case _ => None
          }
        } else None
      }.toMap // name -> kind ('i' integral, 'f' float, 's' string)
      // decide the stat columns per FILE, not per block: source offset
      // range if present (upsert deltas), else the winner lsn range
      // (compaction rewrites) — then fold min/max over EVERY block.
      // Folding only the first block would understate maxLsn on
      // multi-rowgroup compaction files, and deleteMatching derives its
      // tombstone lsn from that stat.
      val hasSrc = reader.getFooter.getFileMetaData.getSchema.getPaths.asScala
        .exists(_.mkString(".") == SrcMinCol)
      val (mnCol, mxCol) = if (hasSrc) (SrcMinCol, SrcMaxCol) else (LsnCol, LsnCol)
      var mn = Long.MaxValue
      var mx = Long.MinValue
      var bmn = Int.MaxValue
      var bmx = Int.MinValue
      val cmin = scala.collection.mutable.HashMap[String, String]()
      val cmax = scala.collection.mutable.HashMap[String, String]()
      val noStat = scala.collection.mutable.HashSet[String]()
      def statString(v: Any): String = v match {
        case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
        // floats widen to double BEFORE stringifying: Float.toString is
        // the shortest float-round-trip form, and parsing it as a DOUBLE
        // yields a different value than the exact (double) widening the
        // probe compares against — a file holding 0.1f would prune a
        // `=== 0.1f` probe. Double.toString round-trips exactly.
        case fl: java.lang.Float                 => fl.doubleValue().toString
        case other                               => other.toString
      }
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          val path = c.getPath.toDotString
          val st = c.getStatistics
          if (st != null && !st.isEmpty) {
            if (path == mnCol)
              st.genericGetMin match { case l: java.lang.Long => mn = math.min(mn, l); case _ => () }
            if (path == mxCol)
              st.genericGetMax match { case l: java.lang.Long => mx = math.max(mx, l); case _ => () }
            if (path == BucketCol) {
              st.genericGetMin match { case i: java.lang.Integer => bmn = math.min(bmn, i); case _ => () }
              st.genericGetMax match { case i: java.lang.Integer => bmx = math.max(bmx, i); case _ => () }
            }
            eligible.get(path).foreach { kind =>
              // an all-null chunk contributes nothing (nulls never match a
              // range predicate); a chunk WITHOUT stats poisons the column
              // for this file — an unknown range must not prune
              if (st.hasNonNullValue) {
                def lt(a: String, b: String): Boolean = kind match {
                  case 's' => LakeTable.cpCompare(a, b) < 0
                  case 'f' => java.lang.Double.compare(a.toDouble, b.toDouble) < 0
                  case _   => a.toLong < b.toLong
                }
                var lo = statString(st.genericGetMin)
                var hi = statString(st.genericGetMax)
                if (kind == 'f') {
                  // a NaN bound poisons the column for this file: writers
                  // disagree on NaN ordering (PARQUET-1222), so any range
                  // touching NaN is unusable — prune nothing over wrong
                  // pruning. ±0.0 bounds are WIDENED (lo +0.0 → -0.0,
                  // hi -0.0 → +0.0): IEEE treats them equal but
                  // Double.compare does not, and the probe compares with
                  // Double.compare — the wide bound keeps every row a
                  // zero-boundary predicate could match.
                  if (lo.toDouble.isNaN || hi.toDouble.isNaN) noStat += path
                  else {
                    if (lo.toDouble == 0.0d) lo = "-0.0"
                    if (hi.toDouble == 0.0d) hi = "0.0"
                  }
                }
                if (!noStat.contains(path)) {
                  cmin.updateWith(path)(o => Some(o.filter(lt(_, lo)).getOrElse(lo)))
                  cmax.updateWith(path)(o => Some(o.filter(v => lt(hi, v)).getOrElse(hi)))
                }
              }
            }
          } else if (eligible.contains(path)) noStat += path
        }
      }
      noStat.foreach { p => cmin.remove(p); cmax.remove(p) }
      // bound string stats in the MANIFEST (Iceberg's truncate(16) analog
      // at 64 chars): a long-text column would otherwise put two document
      // bodies into every file entry — at 10^10 events that bloats the
      // metadata plane the checkpoint roll-up exists to keep small. The
      // truncation stays conservative: lower bounds truncate to a prefix
      // (prefix <= original), upper bounds truncate-and-INCREMENT the last
      // code point (strictly > any string with that prefix); an upper
      // bound at the increment ceiling drops the column's stats entirely
      // (no pruning rather than wrong pruning).
      val bounded = cmin.keySet.intersect(cmax.keySet).flatMap { k =>
        val (lo, hi) = (cmin(k), cmax(k))
        if (lo.length <= StatTruncateChars && hi.length <= StatTruncateChars)
          Some(k -> (lo, hi))
        else LakeTable.truncateUpper(hi, StatTruncateChars)
          .map(h => k -> (LakeTable.truncateLower(lo, StatTruncateChars), h))
      }.toMap
      FooterStats(rows,
        if (mn == Long.MaxValue) -1L else mn,
        if (mx == Long.MinValue) -1L else mx,
        if (bmn == Int.MaxValue) -1 else bmn,
        if (bmx == Int.MinValue) -1 else bmx,
        bounded)
    } finally reader.close()
  }

  private def commit(s: Snapshot): Unit = {
    ensureState()
    // create-only atomic publish: the CAS that serializes racing writers
    // (LakeFs contract — local hard-link, object-store conditional PUT)
    val target = f"$metaDir/snap-${s.snapshotId}%012d.json"
    if (!fs.putStringAtomic(target, snapshotJson(s), createOnly = true))
      throw new CommitConflictException(s.snapshotId)
    applyToState(s)
    if (allSnapsCache != null) allSnapsCache = allSnapsCache :+ s
    // roll the log up every CheckpointInterval commits: the checkpoint is
    // the materialised fold (live files + layout + last epoch), so a cold
    // load resumes from it and parses only the tail — O(interval), not
    // O(epochs). Iceberg's manifest-list analog.
    if (s.snapshotId > 0 && s.snapshotId % CheckpointInterval == 0) writeCheckpoint()
    // version hint (Iceberg's version-hint.text analog): one tiny file a
    // polling reader can probe in O(1) to detect that its incremental
    // tail has a GAP (snapshots expired under it) and must rebase onto
    // the newest checkpoint instead of silently stalling
    fs.putStringAtomic(s"$metaDir/latest.hint", s.snapshotId.toString,
      createOnly = false)
  }

  /** Expire snapshot history: delete snapshot JSONs with id ≤
    * `upToSnapshotId` (and superseded checkpoints), PROVIDED the latest
    * checkpoint covers them — the rolled-up fold stays the complete,
    * sufficient table state, so the hot path and cold `load()` are
    * untouched. Bounds the metadata file count on long replays (at the
    * 10^10-event target the log would otherwise accrete ~500k files);
    * Iceberg's `expire_snapshots` analog. The trade is explicit and loud:
    * time travel below the newest surviving checkpoint throws (at or above
    * it, `readAt` folds from the checkpoint plus the surviving tail and
    * keeps working), and a CDC tail
    * ([[changesStream]]) that has fallen behind the horizon misses the
    * expired range — retention must exceed maximum consumer lag, the same
    * contract as any log retention. Returns the number of files removed.
    */
  def expireSnapshots(upToSnapshotId: Long): Int = {
    ensureState()
    def idOf(p: String, prefix: String): Long =
      LakeFs.fileName(p).stripPrefix(prefix).stripSuffix(".json").toLong
    val ckptIds = listFiles(metaDir, "ckpt-").map(idOf(_, "ckpt-"))
    require(ckptIds.nonEmpty,
      s"no checkpoint exists yet — expiring would delete the only copy of table state")
    val latestCkpt = ckptIds.max
    val horizon = math.min(upToSnapshotId, latestCkpt)
    var deleted = 0
    // GC preimage captures the expiry makes useless: beforeImages can only
    // serve ranges whose snapshots survive in the log, so a capture whose
    // upsert snapshot falls at/below the horizon (or was expired by an
    // earlier call — sweep by epoch, not by this call's range) can never
    // be read again. Never touch epochs above the committed one: an
    // in-flight writer may be capturing the next epoch right now.
    // Retention coupling: preimage retention == snapshot retention.
    locally {
      val surviving = snapshots.filter(s => s.snapshotId > horizon &&
        s.summary.get("operation").contains("upsert")).map(_.epochId).toSet
      val preRoot = s"$root/preimages"
      if (fs.exists(preRoot)) fs.list(preRoot).foreach { p =>
        val name = LakeFs.fileName(p)
        val ep = name.stripPrefix("keys-").stripPrefix("epoch-")
        if ((name.startsWith("epoch-") || name.startsWith("keys-epoch-")) &&
            ep.forall(_.isDigit) && ep.nonEmpty &&
            ep.toLong <= stateEpoch && !surviving.contains(ep.toLong)) {
          fs.deleteRecursively(p); deleted += 1
        }
      }
    }
    (0L to horizon).foreach { id =>
      if (fs.deleteIfExists(f"$metaDir/snap-$id%012d.json")) deleted += 1
    }
    ckptIds.filter(_ < latestCkpt).foreach { id =>
      if (fs.deleteIfExists(f"$metaDir/ckpt-$id%012d.json")) deleted += 1
    }
    allSnapsCache = null
    deleted
  }

  private def writeCheckpoint(): Unit = {
    val o = mapper.createObjectNode()
    o.put("snapshotId", stateSnapId)
    o.put("epochId", stateEpoch)
    o.put("numBuckets", _numBuckets)
    val arr = o.putArray("live")
    stateLive.values.foreach { e =>
      val fo = arr.addObject()
      fo.put("path", e.file.path); fo.put("bucket", e.file.bucket)
      fo.put("bytes", e.file.bytes); fo.put("schemaId", e.file.schemaId)
      fo.put("rows", e.file.rows); fo.put("minLsn", e.file.minLsn)
      fo.put("maxLsn", e.file.maxLsn)
      fo.put("snapId", e.snapId); fo.put("layout", e.layout.getOrElse(-1))
      LakeTable.writeColStats(fo, e.file)
    }
    fs.putStringAtomic(f"$metaDir/ckpt-$stateSnapId%012d.json",
      o.toPrettyString, createOnly = false)
  }
}

/** A racing writer already published this snapshot id — the losing side
  * of the commit CAS; [[LakeTable]] validates and retries on it.
  */
final class CommitConflictException(snapshotId: Long) extends RuntimeException(
  s"commit conflict: snapshot $snapshotId already exists (concurrent writer)")

/** A concurrent re-bucketing compaction changed the table layout while a
  * delta staged under the old bucket count was waiting to commit — the
  * delta was dropped; the writer re-stages under the new layout.
  */
private[lake] final class LayoutChangedException(was: Int, now: Int)
    extends RuntimeException(s"bucket layout changed $was -> $now under a staged delta")

/** One live data file with the snapshot that committed it and that
  * snapshot's bucket layout — the unit of the rolled-up metadata fold.
  */
private[lake] final case class LiveEntry(file: FileEntry, snapId: Long,
    layout: Option[Int])

/** FileIndex served straight from the snapshot manifest: the log already
  * records every live file with its exact size, so scan planning does ZERO
  * filesystem listing — Iceberg's manifest-driven planning. At an object
  * store with millions of files this is the difference between O(1)
  * metadata reads and a recursive LIST per query.
  */
private[lake] class ManifestFileIndex(root: String, files: Seq[FileEntry])
    extends org.apache.spark.sql.execution.datasources.FileIndex {
  import org.apache.hadoop.fs.{FileStatus, Path => HPath}
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.types.{ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType}

  private def abs(f: FileEntry) = new HPath(s"$root/${f.path}")

  override def rootPaths: Seq[HPath] = Seq(new HPath(root))

  /** Manifest-side data skipping: drop files whose per-column min/max
    * range provably cannot satisfy a pushed filter — the Iceberg
    * lower/upper-bound pruning analog, evaluated driver-side against the
    * manifest (zero file opens for skipped files). Planning-time only and
    * CONSERVATIVE: any predicate shape or type this doesn't understand
    * keeps the file. Correctness composes with Catalyst's own pushdown
    * rules: a filter only reaches `dataFilters` when pushing it below the
    * plan above the scan is legal (e.g. it never crosses the LWW winner
    * aggregate on a non-grouping column), so pruning against it is always
    * sound here.
    */
  override def listFiles(
      partitionFilters: Seq[Expression], dataFilters: Seq[Expression])
      : Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory] = {
    val kept = files.filter(f => dataFilters.forall(e => mayMatch(f, e)))
    Seq(org.apache.spark.sql.execution.datasources.PartitionDirectory(
      org.apache.spark.sql.catalyst.InternalRow.empty,
      kept.map(f => new FileStatus(f.bytes, false, 1, 134217728L, 0L, abs(f))).toArray))
  }

  /** Stat range of `col` in `f` as (min, max, kind), if tracked and of an
    * orderable type we compare exactly: 'i' integral, 's' string (code
    * points — parquet's UTF-8 comparator), 'f' float/double
    * (Double.compare on the widened bounds the writer recorded; NaN
    * ranges were dropped at write time).
    */
  private def range(f: FileEntry, a: Attribute): Option[(String, String, Char)] = {
    val kind = a.dataType match {
      case StringType                                    => 's'
      case ByteType | ShortType | IntegerType | LongType => 'i'
      case FloatType | DoubleType                        => 'f'
      case _                                             => return None
    }
    for (lo <- f.colMin.get(a.name); hi <- f.colMax.get(a.name))
      yield (lo, hi, kind)
  }

  private def le(kind: Char, a: String, b: String): Boolean = kind match {
    case 's' => LakeTable.cpCompare(a, b) <= 0
    case 'f' => java.lang.Double.compare(a.toDouble, b.toDouble) <= 0
    case _   => a.toLong <= b.toLong
  }

  /** Literal's value as a stat-comparable string, None when incomparable. */
  private def litStr(v: Any): Option[String] = v match {
    case null => None
    case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
    case n @ (_: java.lang.Long | _: java.lang.Integer |
              _: java.lang.Short | _: java.lang.Byte) => Some(n.toString)
    case d: java.lang.Double => Some(d.toString)
    case fl: java.lang.Float => Some(fl.doubleValue().toString)
    case _ => None
  }

  private def mayMatch(f: FileEntry, e: Expression): Boolean = e match {
    case And(l, r) => mayMatch(f, l) && mayMatch(f, r)
    case Or(l, r)  => mayMatch(f, l) || mayMatch(f, r)
    case EqualTo(a: Attribute, Literal(v, _)) => containsValue(f, a, v)
    case EqualTo(Literal(v, _), a: Attribute) => containsValue(f, a, v)
    case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists(l => containsValue(f, a, l.asInstanceOf[Literal].value))
    case InSet(a: Attribute, vs) => vs.exists(v => containsValue(f, a, v))
    case GreaterThan(a: Attribute, Literal(v, _))        => cmpMax(f, a, v, strict = true)
    case GreaterThanOrEqual(a: Attribute, Literal(v, _)) => cmpMax(f, a, v, strict = false)
    case LessThan(a: Attribute, Literal(v, _))           => cmpMin(f, a, v, strict = true)
    case LessThanOrEqual(a: Attribute, Literal(v, _))    => cmpMin(f, a, v, strict = false)
    case GreaterThan(Literal(v, _), a: Attribute)        => cmpMin(f, a, v, strict = true)
    case GreaterThanOrEqual(Literal(v, _), a: Attribute) => cmpMin(f, a, v, strict = false)
    case LessThan(Literal(v, _), a: Attribute)           => cmpMax(f, a, v, strict = true)
    case LessThanOrEqual(Literal(v, _), a: Attribute)    => cmpMax(f, a, v, strict = false)
    case _ => true // unknown shape: never prune
  }

  private def containsValue(f: FileEntry, a: Attribute, v: Any): Boolean =
    (range(f, a), litStr(v)) match {
      case (Some((lo, hi, s)), Some(x)) => le(s, lo, x) && le(s, x, hi)
      case _                            => true
    }

  /** col > v (strict) / col >= v: satisfiable iff max(col) clears v. */
  private def cmpMax(f: FileEntry, a: Attribute, v: Any, strict: Boolean): Boolean =
    (range(f, a), litStr(v)) match {
      case (Some((_, hi, s)), Some(x)) => if (strict) !le(s, hi, x) else le(s, x, hi)
      case _                           => true
    }

  /** col < v (strict) / col <= v: satisfiable iff min(col) is below v. */
  private def cmpMin(f: FileEntry, a: Attribute, v: Any, strict: Boolean): Boolean =
    (range(f, a), litStr(v)) match {
      case (Some((lo, _, s)), Some(x)) => if (strict) !le(s, x, lo) else le(s, lo, x)
      case _                           => true
    }

  override def inputFiles: Array[String] = files.map(f => abs(f).toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_.bytes).sum

  override def partitionSchema: StructType = StructType(Nil)
}

object LakeTable {
  /** Snapshot-log roll-up cadence: a checkpoint (materialised fold) is
    * written every this-many commits, bounding cold-load metadata parses
    * to interval + 1 regardless of table age.
    */
  val CheckpointInterval = 16

  val LsnCol = "_lsn"

  /** Snapshot-summary flag: this upsert's pre-batch key states were
    * captured to `preimages/epoch-<E>` before the commit. */
  val PreimagesKey = "preimages"
  val TombCol = "_tomb"
  val SrcMinCol = "_src_min"
  val SrcMaxCol = "_src_max"
  val BucketCol = "_bucket"
  val ClustCol = "_clustpart"

  /** Manifest string-stat length cap (Iceberg `write.metadata.metrics`
    * truncate analog — 64 chars keeps short keys/sources exact while a
    * long-text column can never bloat file entries).
    */
  val StatTruncateChars = 64

  /** First `len` CODE POINTS of `s` (never splits a surrogate pair — a
    * lone surrogate is not encodable as JSON/UTF-8 and would corrupt the
    * manifest). A prefix compares ≤ the original in code-point order, so
    * it is always a sound LOWER bound.
    */
  private[graft] def truncateLower(s: String, len: Int): String = {
    val cps = s.codePoints().limit(len).toArray
    new String(cps, 0, cps.length)
  }

  /** Conservative UPPER bound for a truncated string: the `len`-code-point
    * prefix with its last code point incremented, so it compares strictly
    * greater than every string sharing the prefix. Code points at the
    * increment ceiling are dropped right-to-left (a shorter incremented
    * prefix still bounds every longer string); an all-ceiling prefix
    * yields None — the caller must then drop the stat (prune nothing)
    * rather than publish a wrong bound.
    */
  private[graft] def truncateUpper(s: String, len: Int): Option[String] = {
    var cps = s.codePoints().limit(len).toArray
    if (new String(cps, 0, cps.length) == s) return Some(s) // nothing cut
    while (cps.nonEmpty && cps.last >= Character.MAX_CODE_POINT) cps = cps.init
    if (cps.isEmpty) None
    else {
      cps(cps.length - 1) += 1
      // the surrogate block is not assignable as a lone code point — step
      // past it (still > the original, which was below the block)
      if (cps.last >= Character.MIN_SURROGATE.toInt &&
          cps.last <= Character.MAX_SURROGATE.toInt)
        cps(cps.length - 1) = Character.MAX_SURROGATE.toInt + 1
      Some(new String(cps, 0, cps.length))
    }
  }

  /** Code-point order — the order parquet's unsigned UTF-8 byte
    * comparator induces on strings. `String.compareTo` (UTF-16 code
    * units) disagrees for supplementary characters vs U+E000..U+FFFF, and
    * a pruning comparison in the wrong order is a WRONG-RESULTS bug, not
    * a missed optimisation.
    */
  private[graft] def cpCompare(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  private val mapper = new ObjectMapper()

  def widenable(from: DataType, to: DataType): Boolean = (from, to) match {
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case (ShortType, IntegerType | LongType) => true
    case _ => false
  }

  /** Structural type equality ignoring nullability flags — schema JSON
    * round-trips through DDL text, which does not carry containsNull.
    */
  def sameType(a: DataType, b: DataType): Boolean = (a, b) match {
    case (ArrayType(ea, _), ArrayType(eb, _)) => sameType(ea, eb)
    case (MapType(ka, va, _), MapType(kb, vb, _)) => sameType(ka, kb) && sameType(va, vb)
    case (StructType(fa), StructType(fb)) =>
      fa.length == fb.length && fa.zip(fb).forall { case (x, y) =>
        x.name == y.name && sameType(x.dataType, y.dataType)
      }
    case _ => a == b
  }

  /** Session confs that must be OFF while a bucket-placed delta plans and
    * writes (see writeDelta defenses 1/1b): anything that lets the
    * runtime change the partition↔task mapping of the final stage —
    * bucketed-scan splitting, AQE partition coalescing, skew-splitting,
    * and the local shuffle reader (a runtime broadcast demotion would
    * otherwise replace the surviving placement exchange with map-local
    * reads).
    */
  private[graft] val PlacementPins: Seq[(String, String)] = Seq(
    "spark.sql.sources.bucketing.autoBucketedScan.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.adaptive.localShuffleReader.enabled").map(_ -> "false")
  private val pinLock = new Object
  // refcount + value before the first pin, PER SparkSession and PER key:
  // the confs are session-scoped, so one global counter would leave a
  // second session's query unpinned and restore the first session's
  // values onto the wrong session; per key, so pin sets that share no
  // key (placement, interpreted evaluation) nest in any order
  private val pinState = new java.util.IdentityHashMap[SparkSession,
    scala.collection.mutable.Map[String, (Int, Option[String])]]

  /** Run `body` with `pins` set on every session in `sessions` and in the
    * calling thread's conf. Both are needed: the session-level values
    * reach the conf snapshot Spark propagates to tasks, AQE stage threads
    * and plans built later from other threads; the thread-local override
    * is what bites in conf-propagated contexts (foreachBatch bodies, AQE
    * re-plan threads) where the session conf is shadowed by a snapshot.
    *
    * REFERENCE-COUNTED: concurrent callers in one session overlap, and a
    * naive save/restore races — caller B captures caller A's pinned value
    * as the previous one and restores it after A already restored the
    * original, leaving the conf changed session-wide forever. First
    * entrant saves, last exiter restores. While any pin is held, OTHER
    * queries on the session also plan under it — accepted: placement pins
    * only make plans transiently conservative, and interpreted evaluation
    * changes cost, never results. A key is always pinned to one value.
    */
  private[graft] def pinnedConfs[T](sessions: Seq[SparkSession],
      pins: Seq[(String, String)])(body: => T): T = {
    val targets = sessions.distinct
    pinLock.synchronized {
      targets.foreach { s =>
        val st = pinState.computeIfAbsent(s, _ => scala.collection.mutable.Map.empty)
        // getAll holds only explicitly set keys (getOption would report a
        // default as set, and restoring it would pin the default)
        lazy val set = s.conf.getAll
        pins.foreach { case (k, v) =>
          st.get(k) match {
            case Some((depth, saved)) => st(k) = (depth + 1, saved)
            case None =>
              st(k) = (1, set.get(k))
              s.conf.set(k, v)
          }
        }
      }
    }
    try org.apache.spark.sql.graftshim.SqlConfShim.withConfs(pins)(body)
    finally pinLock.synchronized {
      targets.foreach { s =>
        val st = pinState.get(s)
        pins.foreach { case (k, _) =>
          st(k) match {
            case (1, saved) =>
              st.remove(k)
              saved.fold(s.conf.unset(k))(s.conf.set(k, _))
            case (depth, saved) => st(k) = (depth - 1, saved)
          }
        }
        if (st.isEmpty) pinState.remove(s)
      }
    }
  }

  /** Largest operation input, in manifest rows, that a lake maintenance
    * operation ([[MatView]] and [[JoinView]] folds, [[compactBuckets]])
    * runs with Spark's interpreted evaluation instead of compiled code.
    * A small fold's cost is mostly fixed per Spark action, and most of
    * that is code generation: every fold plans new literals (its range
    * ends, its epoch) into its expressions, so a micro-batch's folds
    * compile ~100 fresh classes and also evict the ingest's own from
    * Spark's 100-entry codegen cache. Interpreted evaluation pays per
    * row instead, so it wins only below a size.
    *
    * Measured on EventGen bases of 10 k–1 M keys (4 vCPU, `local[4]`,
    * 1 k-event batches, median CPU of 6 calls, compiled → interpreted):
    * every fold kind at or below the gate ran 0–35 % cheaper interpreted
    * (a 92 k-row decomposable fold 1.92 → 1.77 s, a 182 k-row join fold
    * 3.19 → 2.74 s, the 178 k-row decomposable fold a tie at 2.18 →
    * 2.15 s); above it compiled won on the decomposable fold from 265 k
    * rows (2.18 vs 2.55 s) and on every fold kind at 0.87–1.7 M rows, by
    * 25–50 %. The recompute and join folds still won interpreted at
    * 265 k and 355 k rows, so one gate leaves some gain above it.
    * [[compactBuckets]] compiles only ~2 classes a call, so its own
    * crossover is ~10 k rows: between that and the gate it runs 7–21 %
    * slower interpreted, the price of one gate for every operation.
    */
  private[graft] val InterpretedMaxRows: Long = 200000L

  /** Run `body` interpreted (see [[InterpretedMaxRows]]) when `reads`,
    * the files the operation will open, hold at most the gate's rows by
    * their manifest counts (each file once, however often it is read) —
    * sized before anything is planned; larger operations run exactly as
    * before. */
  private[lake] def interpretedWhenSmall[T](sessions: Seq[SparkSession],
      reads: Seq[FileEntry])(body: => T): T =
    if (rowsIn(reads.distinctBy(_.path)) > InterpretedMaxRows) body
    else pinnedConfs(sessions, org.apache.spark.sql.graftshim.SqlConfShim.Interpreted)(body)

  /** Manifest row count of `files` (footer stats, no file IO). */
  private[lake] def rowsIn(files: Seq[FileEntry]): Long = files.map(_.rows).sum

  def create(spark: SparkSession, root: String, schema: StructType,
             keyCol: String = "doc_id", numBuckets: Int = 16,
             fs: LakeFs = null, keyBloomBits: Int = 0): LakeTable = {
    require(keyBloomBits == 0 || (keyBloomBits >= 64 &&
      (keyBloomBits & (keyBloomBits - 1)) == 0 && keyBloomBits <= (1 << 20)),
      s"keyBloomBits must be 0 (off) or a power of two in [64, 2^20]: $keyBloomBits")
    val theFs = Option(fs).getOrElse(LakeFs.forRoot(root))
    val meta = s"$root/meta"
    require(!theFs.exists(meta) || listFiles(theFs, meta, "schema-").isEmpty,
      s"table already exists at $root")
    theFs.createDirectories(meta)
    val fields = schema.fields.toSeq.zipWithIndex.map { case (sf, i) =>
      LakeField(i + 1, sf.name, sf.dataType, sf.nullable)
    }
    writeSchemaFile(theFs, meta, LakeSchema(0, fields))
    // table properties are persistent layout facts, not caller options —
    // the bucket count is grafter's native-store index-config analog
    // (repository.clj:131-136)
    writeTableProps(theFs, meta, keyCol, numBuckets, keyBloomBits)
    new LakeTable(spark, root, keyCol, numBuckets, theFs, keyBloomBits)
  }

  /** Load the table at `root` if it exists, else create it with the
    * given schema/layout — the idempotent sink-initialization step every
    * streaming runner needs (safe to call per process start; NOT safe to
    * race from two first-ever writers, which is the create-only CAS's
    * job at the snapshot level, not the schema bootstrap's).
    */
  def loadOrCreate(spark: SparkSession, root: String, schema: StructType,
                   keyCol: String = "doc_id", numBuckets: Int = 16,
                   keyBloomBits: Int = 0): LakeTable = {
    val fs = LakeFs.forRoot(root)
    if (fs.exists(s"$root/meta")) load(spark, root, fs)
    else create(spark, root, schema, keyCol, numBuckets, fs, keyBloomBits)
  }

  /** Load an existing table; layout properties come from its metadata.
    * The bucket count prefers the LATEST snapshot's recorded layout over
    * table.json: a crash between a re-bucketing compaction's commit and
    * its table.json update must not resurrect the old layout (mixed-layout
    * winner resolution would duplicate keys).
    */
  def load(spark: SparkSession, root: String,
           fs: LakeFs = null): LakeTable = {
    val theFs = Option(fs).getOrElse(LakeFs.forRoot(root))
    val meta = s"$root/meta"
    require(theFs.exists(meta), s"no table at $root")
    val n = mapper.readTree(theFs.readString(s"$meta/table.json"))
    val fromProps = n.get("numBuckets").asInt()
    val bloomBits = Option(n.get("keyBloomBits")).map(_.asInt()).getOrElse(0)
    val t = new LakeTable(spark, root, n.get("keyCol").asText(), fromProps, theFs,
      bloomBits)
    // the incremental state fold (checkpoint + tail — O(interval) parses,
    // never the whole log) already carries the commit-recorded layout; a
    // crash between a re-bucketing compaction's commit and its table.json
    // update must not resurrect the old layout
    t.ensureState()
    if (t.numBuckets != fromProps)
      writeTableProps(theFs, meta, t.keyCol, t.numBuckets, t.keyBloomBits) // heal table.json
    t
  }

  private[lake] def writeTableProps(fs: LakeFs, meta: String, keyCol: String,
                                    numBuckets: Int,
                                    keyBloomBits: Int = 0): Unit = {
    val props = mapper.createObjectNode()
    props.put("keyCol", keyCol)
    props.put("numBuckets", numBuckets)
    if (keyBloomBits > 0) props.put("keyBloomBits", keyBloomBits)
    fs.putStringAtomic(s"$meta/table.json", props.toPrettyString,
      createOnly = false)
  }

  private def listFiles(fs: LakeFs, dir: String, prefix: String): Seq[String] =
    fs.list(dir)
      .filter { p =>
        val n = LakeFs.fileName(p)
        n.startsWith(prefix) && n.endsWith(".json")
      }
      .sortBy(LakeFs.fileName)

  // ---- JSON codecs (Jackson tree model; hand-rolled = no reflection) ----

  private def writeSchemaFile(fs: LakeFs, meta: String, s: LakeSchema): Unit = {
    val o = mapper.createObjectNode()
    o.put("schemaId", s.schemaId)
    val arr = o.putArray("fields")
    s.fields.foreach { f =>
      val fo = arr.addObject()
      fo.put("id", f.id); fo.put("name", f.name)
      fo.put("type", f.dataType.sql); fo.put("nullable", f.nullable)
    }
    // create-only: schema ids are dense, so two concurrent evolutions
    // both target id N+1 — the loser must fail loudly, not silently
    // replace the winner's schema (which files may already reference)
    if (!fs.putStringAtomic(f"$meta/schema-${s.schemaId}%04d.json",
        o.toPrettyString, createOnly = true))
      throw new IllegalStateException(
        s"schema ${s.schemaId} already exists — concurrent schema evolution; " +
          "refresh and re-evolve against the winner's schema")
  }

  private def readSchema(json: String): LakeSchema = {
    val n = mapper.readTree(json)
    val fields = n.get("fields").elements().asScala.map { f =>
      LakeField(f.get("id").asInt(), f.get("name").asText(),
        parseType(f.get("type").asText()), f.get("nullable").asBoolean())
    }.toSeq
    LakeSchema(n.get("schemaId").asInt(), fields)
  }

  private def parseType(sql: String): DataType =
    StructType.fromDDL(s"`c` $sql").fields(0).dataType

  private def snapshotJson(s: Snapshot): String = {
    val o = mapper.createObjectNode()
    o.put("snapshotId", s.snapshotId)
    o.put("parentId", s.parentId)
    o.put("epochId", s.epochId)
    val arr = o.putArray("addedData")
    s.addedData.foreach { f =>
      val fo = arr.addObject()
      fo.put("path", f.path); fo.put("bucket", f.bucket)
      fo.put("bytes", f.bytes); fo.put("schemaId", f.schemaId)
      fo.put("rows", f.rows); fo.put("minLsn", f.minLsn); fo.put("maxLsn", f.maxLsn)
      writeColStats(fo, f)
    }
    val rem = o.putArray("removedData")
    s.removedData.toSeq.sorted.foreach(rem.add)
    val sum = o.putObject("summary")
    s.summary.toSeq.sortBy(_._1).foreach { case (k, v) => sum.put(k, v) }
    o.toPrettyString
  }

  private[lake] def writeColStats(
      fo: com.fasterxml.jackson.databind.node.ObjectNode, f: FileEntry): Unit = {
    if (f.colMin.nonEmpty) {
      val mo = fo.putObject("colMin")
      f.colMin.toSeq.sortBy(_._1).foreach { case (k, v) => mo.put(k, v) }
    }
    if (f.colMax.nonEmpty) {
      val xo = fo.putObject("colMax")
      f.colMax.toSeq.sortBy(_._1).foreach { case (k, v) => xo.put(k, v) }
    }
    f.keyBloom.foreach(b => fo.put("bloom", b))
  }

  /** Number of bloom hash functions (bit positions per key). */
  private[lake] val BloomHashes = 4

  /** Executor-side bit positions for one key: `pmod(xxhash64(i, key),
    * bits)` per hash index — plain codegen'd functions.
    */
  private[lake] def bloomPositionCols(key: Column, bits: Int): Column =
    array((0 until BloomHashes).map { i =>
      pmod(xxhash64(lit(i), key), lit(bits.toLong)).cast("int")
    }: _*)

  /** Driver-side twin of [[bloomPositionCols]] for a probe value already
    * cast to the key column's type (internal representation): evaluates
    * the SAME XxHash64 expression, so the two sides agree by
    * construction.
    */
  private[lake] def bloomPositionsFor(keyInternal: Any,
                                      dt: org.apache.spark.sql.types.DataType,
                                      bits: Int): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    (0 until BloomHashes).map { i =>
      // seed 42 = the sql xxhash64() function's fixed seed
      val h = XxHash64(Seq(Literal(i), Literal(keyInternal, dt)), 42L)
        .eval(null).asInstanceOf[Long]
      java.lang.Math.floorMod(h, bits.toLong).toInt
    }
  }

  private[lake] def bloomEncode(positions: Seq[Int], bits: Int): String = {
    val arr = new Array[Byte](bits / 8)
    positions.foreach(p => arr(p >> 3) = (arr(p >> 3) | (1 << (p & 7))).toByte)
    java.util.Base64.getEncoder.encodeToString(arr)
  }

  private[lake] def bloomMightContain(b64: String, positions: Seq[Int]): Boolean = {
    val arr = java.util.Base64.getDecoder.decode(b64)
    // an out-of-range position (truncated/foreign bloom) must degrade to
    // "might contain" — pruning on malformed metadata would hide
    // committed rows; keeping the file only costs one extra read
    positions.forall(p =>
      (p >> 3) >= arr.length || ((arr(p >> 3) >> (p & 7)) & 1) == 1)
  }

  private[lake] def readColStats(
      n: com.fasterxml.jackson.databind.JsonNode, key: String): Map[String, String] =
    Option(n.get(key)).map { o =>
      o.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty)

  private def readSnapshot(json: String): Snapshot = {
    val n = mapper.readTree(json)
    val added = n.get("addedData").elements().asScala.map { f =>
      FileEntry(f.get("path").asText(), f.get("bucket").asInt(),
        f.get("bytes").asLong(), f.get("schemaId").asInt(),
        f.get("rows").asLong(), f.get("minLsn").asLong(), f.get("maxLsn").asLong(),
        readColStats(f, "colMin"), readColStats(f, "colMax"),
        Option(f.get("bloom")).map(_.asText()))
    }.toSeq
    val removed = n.get("removedData").elements().asScala.map(_.asText()).toSet
    val summary = n.get("summary").properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
    Snapshot(n.get("snapshotId").asLong(), n.get("parentId").asLong(),
      n.get("epochId").asLong(), added, removed, summary)
  }
}
