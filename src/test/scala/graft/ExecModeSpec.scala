package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.feed.{EventGen, FeedConfig}
import graft.lake.{JoinView, LakeTable, MatView}
import graft.model.Schemas
import graft.stream.CdcIngest

/** Execution mode of lake maintenance: view folds and bucket compactions
  * whose manifest input is at most [[LakeTable.InterpretedMaxRows]] rows
  * run with Spark's interpreted evaluation and stay exact; larger ones
  * still compile. A Spark upgrade that stops honouring the
  * interpreted-evaluation confs fails here.
  *
  * One generated class survives interpreted evaluation: the row joiner
  * of a partial aggregation's output, which Spark always generates. Its
  * code depends only on the two row shapes it joins, so it is compiled
  * once per shape and then served from the codegen cache; the specs
  * allow it and nothing else.
  */
class ExecModeSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = FeedConfig(seed = 11L, numDocs = 120L, deletePct = 10,
    maxTokens = 8)

  /** Change events `[lo, hi)` of the seeded feed `c`. */
  private def events(c: FeedConfig, lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).mapPartitions(_.map(i => EventGen.event(c, i))).toDF()

  private val RowJoiner = "SpecificUnsafeRowJoiner"

  /** Runs `body` and names every class Spark compiled meanwhile: the
    * code generator logs each class it compiles (never a cache hit) at
    * debug level. */
  private def compiling[T](body: => T): (T, Seq[String]) = {
    val logger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val decl = """class (\w+) extends""".r
    val names = new ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("codegen-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        decl.findFirstMatchIn(e.getMessage.getFormattedMessage)
          .foreach(m => names.add(m.group(1)))
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val lc = new LoggerConfig(logger, Level.DEBUG, false)
    lc.addAppender(capture, Level.DEBUG, null)
    capture.start()
    ctx.getConfiguration.addLogger(logger, lc)
    ctx.updateLoggers()
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      val r = body
      val got = names.asScala.toSeq
      assert(got.size == CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
      (r, got)
    } finally {
      ctx.getConfiguration.removeLogger(logger)
      ctx.updateLoggers()
      capture.stop()
    }
  }

  private def interpreted[T](what: String)(body: => T): T = {
    val (r, classes) = compiling(body)
    assert(classes.forall(_ == RowJoiner), s"$what compiled ${classes.mkString(", ")}")
    r
  }

  private def compiled(what: String, classes: Seq[String]): Unit =
    assert(classes.exists(_.startsWith("GeneratedIteratorForCodegenStage")),
      s"$what planned no whole-stage code: ${classes.mkString(", ")}")

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.toList
      case v => v
    }).toSet

  /** The view's per-`source` count and `aggs` equal the same aggregate
    * computed from scratch over the base's current rows. */
  private def assertExact(v: MatView, base: LakeTable, aggs: Seq[(String, Column)]): Unit = {
    val names = "source" +: "cnt" +: aggs.map(_._1)
    val expected = base.read().groupBy(col("source"))
      .agg(count(lit(1)).as("cnt"), aggs.map { case (n, c) => c.as(n) }: _*)
      .select(names.map(col): _*)
    assert(rows(v.read().select(names.map(col): _*)) == rows(expected))
  }

  test("MatView folds below the gate run interpreted on every path and stay exact") {
    val dir = tmpDir("em1")
    val base = LakeTable.create(spark, s"$dir/t", Schemas.docRow, numBuckets = 4)
    CdcIngest.applyBatch(base, events(cfg, 0L, 400L), epochId = 0L)
    val tok0 = element_at(col("tokens"), 1)
    val sumView = MatView.create(spark, s"$dir/vs", base, Seq("source"),
      sums = Seq("sum_tok0" -> "element_at(tokens, 1)"))
    val sumAggs = Seq("sum_tok0" -> sum(coalesce(tok0.cast("long"), lit(0L))))
    // min/max + count(distinct key): the hybrid fold
    val hybrid = MatView.create(spark, s"$dir/vh", base, Seq("source"),
      recomputed = Seq("mn" -> "min(element_at(tokens, 1))",
        "mx" -> "max(n_tok)", "nd" -> "count(distinct doc_id)"))
    val hybridAggs = Seq("mn" -> min(tok0), "mx" -> max(col("n_tok")),
      "nd" -> countDistinct(col("doc_id")))
    // count(distinct expression): the affected-group recompute fold
    val recompute = MatView.create(spark, s"$dir/vr", base, Seq("source"),
      recomputed = Seq("nd_tok" -> "count(distinct element_at(tokens, 1))"))
    val recomputeAggs = Seq("nd_tok" -> countDistinct(tok0))
    // count(distinct non-key column) on the internal stacks: every fold
    // nests two stack folds, each choosing its own mode
    val savedGate = MatView.StackMinBaseRows
    MatView.StackMinBaseRows = 0L
    try {
      val stacked = MatView.create(spark, s"$dir/vd", base, Seq("source"),
        recomputed = Seq("nd_ntok" -> "count(distinct n_tok)"))
      val stackedAggs = Seq("nd_ntok" -> countDistinct(col("n_tok")))
      val views = Seq(("decomposable", sumView, sumAggs), ("hybrid", hybrid, hybridAggs),
        ("recompute", recompute, recomputeAggs), ("stacked", stacked, stackedAggs))
      (1 to 3).foreach { e =>
        CdcIngest.applyBatch(base, events(cfg, e * 400L, (e + 1) * 400L), epochId = e.toLong)
        views.foreach { case (path, v, aggs) =>
          // round 1 bootstraps, the rest fold incrementally
          val folded = interpreted(s"$path fold to ${base.currentSnapshotId}")(v.maintain())
          assert(folded.contains(base.currentSnapshotId))
          assertExact(v, base, aggs)
        }
      }
      assert(recompute.lastRecomputedGroups > 0L)
    } finally MatView.StackMinBaseRows = savedGate
  }

  test("a JoinView fold below the gate runs interpreted and equals the fresh join") {
    val dir = tmpDir("em2")
    val docs = LakeTable.create(spark, s"$dir/d", Schemas.docRow, numBuckets = 4)
    val scoresOf = (lo: Long, hi: Long) => events(cfg.copy(seed = 12L), lo, hi)
      .select(col("op"), col("doc_id"), col("lsn"),
        element_at(col("tokens"), 1).as("quality"), col("source").as("judge"))
    val scores = LakeTable.create(spark, s"$dir/s",
      scoresOf(0L, 1L).drop("op", "lsn").schema, numBuckets = 4)
    CdcIngest.applyBatch(docs, events(cfg, 0L, 400L), epochId = 0L)
    CdcIngest.applyBatch(scores, scoresOf(0L, 300L), epochId = 0L)
    val v = JoinView.create(spark, s"$dir/v", docs, scores)
    def expected: DataFrame = docs.read().join(scores.read(), Seq("doc_id"), "left")
      .select("doc_id", "n_tok", "source", "quality", "judge")
    interpreted("join bootstrap")(v.catchUp())
    assert(rows(v.read().select("doc_id", "n_tok", "source", "quality", "judge")) ==
      rows(expected))
    (1 to 2).foreach { e =>
      CdcIngest.applyBatch(docs, events(cfg, e * 400L, (e + 1) * 400L), epochId = e.toLong)
      CdcIngest.applyBatch(scores, scoresOf(e * 300L, (e + 1) * 300L), epochId = e.toLong)
      interpreted(s"join fold $e")(v.catchUp())
      assert(rows(v.read().select("doc_id", "n_tok", "source", "quality", "judge")) ==
        rows(expected))
    }
  }

  test("compactBuckets below the gate runs interpreted and keeps every winner") {
    val dir = tmpDir("em3")
    val t = LakeTable.create(spark, s"$dir/t", Schemas.docRow, numBuckets = 4)
    (0 until 4).foreach { e =>
      CdcIngest.applyBatch(t, events(cfg, e * 300L, (e + 1) * 300L), epochId = e.toLong)
    }
    val before = rows(t.read())
    val filesBefore = t.liveFiles().size
    interpreted("compactBuckets")(t.compactBuckets(0 until 4))
    assert(t.liveFiles().size < filesBefore)
    assert(rows(t.read()) == before)
  }

  test("operations above the gate still compile") {
    val dir = tmpDir("em4")
    val big = LakeTable.InterpretedMaxRows + 20000L
    val wide = FeedConfig(seed = 13L, numDocs = big * 2, deletePct = 0, maxTokens = 2)
    val t = LakeTable.create(spark, s"$dir/t", Schemas.docRow, numBuckets = 4)
    CdcIngest.applyBatch(t, events(wide, 0L, big * 3 / 2), epochId = 0L)
    assert(t.liveFiles().map(_.rows).sum > LakeTable.InterpretedMaxRows)
    // a literal no earlier query used keeps Spark's codegen cache from
    // serving the classes: anything compiled here is compiled fresh
    val salt = 1000000L + System.nanoTime() % 1000000L
    val v = MatView.create(spark, s"$dir/v", t, Seq("source"),
      sums = Seq("s" -> s"n_tok + $salt"))
    compiled("bootstrap", compiling(v.maintain())._2)
    CdcIngest.applyBatch(t, events(wide, big * 3 / 2, big * 3 / 2 + 500L), epochId = 1L)
    compiled("fold", compiling(v.maintain())._2)
    assertExact(v, t, Seq("s" -> sum(coalesce((col("n_tok") + lit(salt)).cast("long"), lit(0L)))))
    compiled("compaction",
      compiling(t.compactBuckets(0 until 4, purgeTombstonesBelowLsn = -salt))._2)
  }
}
