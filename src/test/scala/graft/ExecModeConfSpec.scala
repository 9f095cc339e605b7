package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.SqlConfShim
import org.apache.spark.sql.internal.SQLConf

import graft.feed.{EventGen, FeedConfig}
import graft.lake.{JoinView, LakeTable, MatView}
import graft.model.Schemas
import graft.stream.CdcIngest

/** A fold or compaction that runs interpreted scopes its codegen confs:
  * the session's `spark.sql.codegen.*` values — set or unset — are back
  * after it returns, after it throws, after nested stack folds, and
  * while other pins on the same session come and go.
  */
class ExecModeConfSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = FeedConfig(seed = 21L, numDocs = 60L, deletePct = 10,
    maxTokens = 4)

  private def events(lo: Long, hi: Long): DataFrame = {
    val c = cfg
    spark.range(lo, hi).mapPartitions(_.map(i => EventGen.event(c, i))).toDF()
  }

  private val codegenKeys = SqlConfShim.Interpreted.map(_._1)
  private val watched = codegenKeys ++ LakeTable.PlacementPins.map(_._1)

  /** Explicitly set session values of the watched keys (an unset key is
    * absent), and the calling thread's effective values. */
  private def confState: (Map[String, String], Map[String, String]) =
    (spark.conf.getAll.filter(kv => watched.contains(kv._1)),
      watched.map(k => k -> SQLConf.get.getConfString(k)).toMap)

  private def restoredAfter[T](body: => T): T = {
    val before = confState
    val r = try body finally assert(confState == before)
    r
  }

  test("a fold restores the codegen confs whether the session had them set or not") {
    val dir = tmpDir("ec1")
    val base = LakeTable.create(spark, s"$dir/t", Schemas.docRow, numBuckets = 2)
    CdcIngest.applyBatch(base, events(0L, 100L), epochId = 0L)
    val v = MatView.create(spark, s"$dir/v", base, Seq("source"),
      sums = Seq("s" -> "n_tok"))
    codegenKeys.foreach(spark.conf.unset)
    restoredAfter(v.maintain())
    assert(codegenKeys.forall(k => !spark.conf.getAll.contains(k)))
    spark.conf.set(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key, "true")
    spark.conf.set(SQLConf.CODEGEN_FACTORY_MODE.key, "CODEGEN_ONLY")
    try {
      CdcIngest.applyBatch(base, events(100L, 200L), epochId = 1L)
      restoredAfter(v.maintain())
      restoredAfter(base.compactBuckets(Seq(0, 1)))
      assert(spark.conf.get(SQLConf.CODEGEN_FACTORY_MODE.key) == "CODEGEN_ONLY")
    } finally codegenKeys.foreach(spark.conf.unset)
  }

  test("a fold that throws (range past the retention horizon) restores them") {
    val dir = tmpDir("ec2")
    val base = LakeTable.create(spark, s"$dir/t", Schemas.docRow, numBuckets = 2)
    CdcIngest.applyBatch(base, events(0L, 20L), epochId = 0L)
    val scores = events(0L, 20L).select($"op", $"doc_id", $"lsn", $"n_tok".as("score"))
    val right = LakeTable.create(spark, s"$dir/r",
      scores.drop("op", "lsn").schema, numBuckets = 2)
    CdcIngest.applyBatch(right, scores, epochId = 0L)
    val mv = MatView.create(spark, s"$dir/mv", base, Seq("source"),
      sums = Seq("s" -> "n_tok"))
    val jv = JoinView.create(spark, s"$dir/jv", base, right)
    mv.maintain(); jv.maintain()
    // past the checkpoint interval, so the history can be expired
    (1 to 17).foreach { e =>
      CdcIngest.applyBatch(base, events(e * 20L, (e + 1) * 20L), epochId = e.toLong)
    }
    base.expireSnapshots(base.currentSnapshotId - 1)
    // both folds size their (small) input, enter the interpreted scope
    // and fail there, on the changelog read of the expired range
    val e1 = intercept[IllegalStateException](restoredAfter(mv.maintain()))
    assert(e1.getMessage.contains("expired"))
    val e2 = intercept[IllegalStateException](restoredAfter(jv.maintain()))
    assert(e2.getMessage.contains("expired"))
  }

  test("nested stack folds and nested pins restore them") {
    val dir = tmpDir("ec3")
    val base = LakeTable.create(spark, s"$dir/t", Schemas.docRow, numBuckets = 2)
    CdcIngest.applyBatch(base, events(0L, 100L), epochId = 0L)
    val savedGate = MatView.StackMinBaseRows
    MatView.StackMinBaseRows = 0L
    try {
      val v = MatView.create(spark, s"$dir/v", base, Seq("source"),
        recomputed = Seq("nd" -> "count(distinct n_tok)"))
      restoredAfter(v.maintain())
      CdcIngest.applyBatch(base, events(100L, 200L), epochId = 1L)
      restoredAfter(v.maintain())
      assert(new java.io.File(s"$dir/v/aux/cd-nd-pairs/meta").exists())
    } finally MatView.StackMinBaseRows = savedGate
    // a pin held twice is released only by its last holder
    restoredAfter {
      LakeTable.pinnedConfs(Seq(spark), SqlConfShim.Interpreted) {
        LakeTable.pinnedConfs(Seq(spark, spark), SqlConfShim.Interpreted) {
          assert(spark.conf.get(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key) == "false")
        }
        assert(spark.conf.get(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key) == "false")
        assert(SQLConf.get.getConfString(SQLConf.CODEGEN_FACTORY_MODE.key) == "NO_CODEGEN")
      }
    }
  }

  test("a concurrent placement pin on the same session neither leaks nor is cut short") {
    // deterministic interleaving: A pins interpreted evaluation, B pins
    // placement, A leaves while B still holds its pin, then B leaves
    val aIn, bIn, aOut = new CountDownLatch(1)
    val (session0, _) = confState
    restoredAfter {
      val a = Future {
        LakeTable.pinnedConfs(Seq(spark), SqlConfShim.Interpreted) {
          aIn.countDown()
          assert(bIn.await(60, TimeUnit.SECONDS))
        }
        aOut.countDown()
      }
      val b = Future {
        assert(aIn.await(60, TimeUnit.SECONDS))
        LakeTable.pinnedConfs(Seq(spark), LakeTable.PlacementPins) {
          bIn.countDown()
          assert(aOut.await(60, TimeUnit.SECONDS))
          // A's exit released only A's keys
          LakeTable.PlacementPins.foreach { case (k, v) => assert(spark.conf.get(k) == v) }
          codegenKeys.foreach(k => assert(spark.conf.getAll.get(k) == session0.get(k)))
        }
      }
      Await.result(a.zip(b), 2.minutes)
    }
    // the real thing: folds beside bucket-placed writes on another table
    val dir = tmpDir("ec4")
    val base = LakeTable.create(spark, s"$dir/t", Schemas.docRow, numBuckets = 2)
    val side = LakeTable.create(spark, s"$dir/s", Schemas.docRow, numBuckets = 2)
    CdcIngest.applyBatch(base, events(0L, 100L), epochId = 0L)
    val v = MatView.create(spark, s"$dir/v", base, Seq("source"),
      recomputed = Seq("mn" -> "min(n_tok)"))
    restoredAfter {
      val writer = Future {
        (0 until 4).foreach(e =>
          CdcIngest.applyBatch(side, events(e * 50L, (e + 1) * 50L), epochId = e.toLong))
      }
      (1 to 3).foreach { e =>
        CdcIngest.applyBatch(base, events(e * 100L, (e + 1) * 100L), epochId = e.toLong)
        v.maintain()
      }
      Await.result(writer, 5.minutes)
    }
    assert(side.currentSnapshotId == 3L)
  }
}
