package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.Lww
import graft.feed.EventGen
import graft.lake.{JoinView, LakeTable, MatView}
import graft.model.Schemas
import graft.stream.CdcIngest
import graft.verify.FoldOracle

/** A quality-score change event: the right-hand base of the join view. */
final case class ScoreEvent(op: String, doc_id: String, lsn: Long, quality: Integer,
                            judge: String)

/** Small micro-batches into a `docs` and a `scores` table, each followed by
  * the incremental compaction policy of `CdcIngest.run` and a catch-up of
  * three views over `docs`. Driver-side planning, the commit floor and the
  * view folds dominate. The unit operation is one batch, timed from its
  * start until both bases are committed and every view is fresh; the loop
  * runs whole compaction cycles until the deadline.
  */
final class TrickleViews(spark: SparkSession, seed: Long, smoke: Boolean) extends Workload {
  private val keys = if (smoke) 2000L else 10000L
  private val bootstrap = keys * 2
  private val batchEvents = if (smoke) 500L else 1000L
  private val buckets = 8
  private val maxFilesPerBucket = 4
  private val docsCfg = Feed.config(seed, Long.MaxValue, keys)
  private val scoresCfg = Feed.config(EventGen.mix64(seed ^ 0x5C0DE5L), Long.MaxValue, keys)

  private val scoresSchema = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("quality", IntegerType, nullable = true),
    StructField("judge", StringType, nullable = true)))

  final class State(val docs: LakeTable, val scores: LakeTable, val sum: MatView,
                    val minmax: MatView, val join: JoinView) {
    var batches = 0 // committed after the bootstrap
    var cycleStart = 0 // batches committed before the last full compaction
    /** Keys probed by the traced run's lookups, with the rows returned. */
    val lookups = scala.collection.mutable.ArrayBuffer[(Seq[String], Seq[Row])]()
  }

  val opKind = "freshness"

  private def range(b: Int): (Long, Long) =
    if (b == 0) (0L, bootstrap)
    else (bootstrap + (b - 1) * batchEvents, bootstrap + b * batchEvents)

  private def docsBatch(b: Int): DataFrame = {
    val (lo, hi) = range(b)
    Feed.frame(spark, docsCfg, lo, hi)
  }

  private def scoresBatch(b: Int): DataFrame = {
    import spark.implicits._
    val (lo, hi) = range(b)
    val c = scoresCfg
    spark.range(lo, hi).mapPartitions(_.map { i =>
      val e = EventGen.event(c, i)
      if (e.op == "D") ScoreEvent(e.op, e.doc_id, e.lsn, null, null)
      else ScoreEvent(e.op, e.doc_id, e.lsn, Int.box(e.tokens(0)), e.source)
    }).toDF()
  }

  /** Both bases bootstrapped, the three views created and folded once. */
  def setup(dir: String): State = {
    val docs = LakeTable.create(spark, s"$dir/docs", Schemas.docRow, numBuckets = buckets)
    val scores = LakeTable.create(spark, s"$dir/scores", scoresSchema, numBuckets = buckets)
    CdcIngest.applyBatch(docs, docsBatch(0), epochId = 0L)
    CdcIngest.applyBatch(scores, scoresBatch(0), epochId = 0L)
    val sum = MatView.create(spark, s"$dir/v_sum", docs, Seq("source"),
      sums = Seq("sum_ntok" -> "n_tok"), numBuckets = buckets)
    val minmax = MatView.create(spark, s"$dir/v_minmax", docs, Seq("source"),
      recomputed = Seq("min_tok0" -> "min(element_at(tokens, 1))",
        "max_tok0" -> "max(element_at(tokens, 1))",
        "n_ntok" -> "count(distinct n_tok)"), numBuckets = buckets)
    val join = JoinView.create(spark, s"$dir/v_join", docs, scores, numBuckets = buckets)
    sum.catchUp(); minmax.catchUp(); join.catchUp()
    new State(docs, scores, sum, minmax, join)
  }

  private def compactIfDue(t: LakeTable, tr: Tracer, req: Long): Unit = {
    val victims = tr.call("lake.compactionCandidates", "lake.table", req) {
      t.compactionCandidates(maxFilesPerBucket)
    }
    if (victims.nonEmpty) {
      val snap = tr.call("lake.compactBuckets", "lake.table", req)(t.compactBuckets(victims))
      tr.note("files_removed", snap.map(_.removedData.size).getOrElse(0).toDouble)
    }
  }

  private def oneBatch(st: State, tr: Tracer, rec: Recorder): Unit = {
    val b = st.batches + 1
    rec.time(opKind) {
      Seq(st.docs -> docsBatch(b), st.scores -> scoresBatch(b)).foreach { case (t, df) =>
        val snap = tr.call("stream.applyBatch", "stream", b) {
          CdcIngest.applyBatch(t, df, epochId = b.toLong)
        }
        snap.foreach { s =>
          tr.note("lake.upsert.files_added", s.addedData.size.toDouble)
          tr.note("lake.upsert.bytes_added", s.addedData.map(_.bytes).sum.toDouble)
        }
        compactIfDue(t, tr, b)
      }
      tr.call("view.matview_sum.catchUp", "lake.view", b)(st.sum.catchUp())
      tr.call("view.matview_minmax.catchUp", "lake.view", b)(st.minmax.catchUp())
      tr.call("view.joinview.catchUp", "lake.view", b)(st.join.catchUp())
    }
    rec.work += 2 * batchEvents
    st.batches = b
  }

  /** One batch, then every bucket of both bases compacted: the incremental
    * folds and the bucket rewrite are code paths the set-up did not run,
    * and the timed section starts a compaction cycle. */
  override def warmup(st: State, tr: Tracer): Unit = {
    oneBatch(st, tr, new Recorder)
    Seq(st.docs, st.scores).foreach(_.compactBuckets(0 until buckets))
    st.cycleStart = st.batches
  }

  /** Whole compaction cycles: each batch adds one base file per bucket, so
    * every maxFilesPerBucket-th batch compacts every bucket. */
  def run(st: State, deadline: Long, tr: Tracer, rec: Recorder): Unit =
    do oneBatch(st, tr, rec)
    while (System.nanoTime() < deadline ||
      (st.batches - st.cycleStart) % maxFilesPerBucket != 0)

  /** Traced-run probes outside the timed section: feed generation and the
    * LWW reduce alone, each on one batch frame written to the noop sink,
    * and the read paths of `lake.table` on the `docs` base as the timed
    * section left it. */
  override def probes(st: State, tr: Tracer): Unit = {
    (0 until 3).foreach { i =>
      tr.call("feed.gen", "feed", i) {
        docsBatch(1).write.format("noop").mode("overwrite").save()
      }
      tr.call("cdc.reduceBucketed", "cdc", i) {
        Lww.reduceBucketed(docsBatch(1), "doc_id", buckets)
          .write.format("noop").mode("overwrite").save()
      }
    }
    val t = st.docs
    val rng = new java.util.Random(EventGen.mix64(seed ^ 0x5EADL))
    def key(): String = f"doc_${java.lang.Long.remainderUnsigned(rng.nextLong(), keys)}%012d"
    val files = tr.call("lake.liveFiles", "lake.table")(t.liveFiles().size)
    tr.note("count", files.toDouble)
    (0 until 3).foreach { i =>
      (0 until 8).foreach { j =>
        val k = key()
        val (df, rows) = tr.call("lake.lookup", "lake.table", i * 8 + j) {
          val df = t.lookup(k)
          (df, df.collect().toSeq)
        }
        tr.note("files_kept", df.inputFiles.length.toDouble)
        st.lookups += Seq(k) -> rows
      }
      val ks = Seq.fill(64)(key()).distinct
      val (df, rows) = tr.call("lake.lookupAll", "lake.table", i) {
        val df = t.lookupAll(ks)
        (df, df.collect().toSeq)
      }
      tr.note("files_kept", df.inputFiles.length.toDouble)
      st.lookups += ks -> rows
      val head = t.currentSnapshotId
      tr.call("lake.changesBetween", "lake.table", i) {
        t.changesBetween(head - 1, head).write.format("noop").mode("overwrite").save()
      }
      tr.call("lake.read", "lake.table", i) {
        t.read().write.format("noop").mode("overwrite").save()
      }
    }
  }

  override def named(st: State, rec: Recorder, wallS: Double): Seq[(String, Double, String)] =
    Seq(("events_per_s", rec.work / wallS, "1/s"),
      ("batch_p50_s", Main.median(rec.of(opKind)), "s"),
      ("batches", st.batches.toDouble, "count"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(canon)

  private def canon(r: Row): String = r.toSeq.map {
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case null => "null"
    case v => v.toString
  }.mkString("|")

  private def compare(view: String, actual: Seq[String], expected: Seq[String]): Seq[String] = {
    val (a, e) = (actual.groupBy(identity).map { case (k, v) => k -> v.size },
      expected.groupBy(identity).map { case (k, v) => k -> v.size })
    (a.keySet ++ e.keySet).toSeq.sorted.collect {
      case k if a.getOrElse(k, 0) != e.getOrElse(k, 0) =>
        s"$view: row $k appears ${a.getOrElse(k, 0)} times, expected ${e.getOrElse(k, 0)}"
    }
  }

  /** `lookup` applies only after the traced run's read probes. */
  def gates(st: State): Seq[String] =
    Seq("base") ++ (if (st.lookups.nonEmpty) Seq("lookup") else Nil) ++
      Seq("matview_sum", "matview_minmax", "joinview")

  /** Alter one output row: a changed row is an extra row plus a missing one. */
  private def tamper(xs: Seq[String]): Seq[String] = xs.tail :+ (xs.head + "0")

  /** `base`: the `docs` base equals the in-memory fold of every event
    * applied to it, row by row including token arrays. `lookup`: each
    * probed lookup returns the base rows of its keys. Views: each equals a
    * from-scratch aggregate or left join over its bases' current `read()`. */
  def verify(st: State, corrupt: Option[String]): Seq[String] = {
    def hit(g: String) = corrupt.contains(g)
    val docs = st.docs.read()
    val baseRows =
      if (!hit("base")) docs
      else docs.withColumn("tokens", when(col("doc_id") === docs.agg(min("doc_id")).head().getString(0),
        array(lit(-1))).otherwise(col("tokens")))
    val baseErrs = FoldOracle.diff(baseRows,
      FoldOracle.finalState(docsCfg.copy(numEvents = range(st.batches)._2)))
    val byKey = docs.collect().map(r => r.getString(0) -> canon(r)).toMap
    val lookups = st.lookups.toSeq.zipWithIndex.map { case ((ks, rs), i) =>
      val got = rs.map(canon)
      (ks, if (hit("lookup") && i == 0) tamper(got :+ "") else got)
    }
    val lookupErrs = lookups.flatMap { case (ks, got) =>
      val want = ks.flatMap(byKey.get)
      if (got.sorted == want.sorted) None
      else Some(s"lookup of ${ks.size} keys returned ${got.size} rows, expected ${want.size}")
    }
    def actual(g: String, df: DataFrame): Seq[String] =
      if (hit(g)) tamper(rows(df)) else rows(df)
    val sumExp = rows(docs.groupBy("source").agg(count(lit(1)).as("cnt"),
      sum(coalesce(col("n_tok").cast("long"), lit(0L))).as("sum_ntok")))
    val sumAct = actual("matview_sum", st.sum.read().select("source", "cnt", "sum_ntok"))
    val mmExp = rows(docs.groupBy("source").agg(count(lit(1)).as("cnt"),
      min(element_at(col("tokens"), 1)).as("min_tok0"),
      max(element_at(col("tokens"), 1)).as("max_tok0"),
      count_distinct(col("n_tok")).as("n_ntok")))
    val mmAct = actual("matview_minmax",
      st.minmax.read().select("source", "cnt", "min_tok0", "max_tok0", "n_ntok"))
    val joinCols = st.join.read().columns.toSeq.map(col)
    val joinExp = rows(docs.join(st.scores.read(), Seq("doc_id"), "left").select(joinCols: _*))
    val joinAct = actual("joinview", st.join.read().select(joinCols: _*))
    baseErrs ++ lookupErrs ++ compare("matview_sum", sumAct, sumExp) ++
      compare("matview_minmax", mmAct, mmExp) ++ compare("joinview", joinAct, joinExp)
  }
}
