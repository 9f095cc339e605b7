package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SqlConfShim
import org.scalacheck.Gen

import graft.functions.VectorExprs
import graft.operators.DedupOps

/** Pins for the native per-row SimHash kernel: bit-identical to the
  * column-tree [[SimHashReference]] on edge rows and random texts, under
  * compiled and interpreted evaluation; `simhash16` derived from it equals
  * its own reference; the plan is one code-generated projection with no
  * shuffle, aggregate or generator.
  */
class SimHashKernelSpec extends SparkSpec {
  import spark.implicits._

  private val edgeRows: Seq[(Long, String)] = Seq(
    1L -> "",
    2L -> "   ",
    3L -> null,
    4L -> "a  b   c    d",
    5L -> "  leading and trailing  ",
    6L -> ("café naïve résumé déjà " * 12),
    7L -> ("中文 文本 测试 数据 " * 40),
    8L -> ("x" * 600),
    9L -> "tab\tinside word\nnew line\r\n end",
    10L -> "emoji 😀😃 mix 🎉 party 👍🏽 ok",
    11L -> "\t\n",
    12L -> "a",
    // at maxLen 3 the cut lands inside a UTF-16 surrogate pair
    13L -> "ab😀 😀😀 z")

  private val pieces = Seq("a", "b", "de", "fgh", " ", "  ", "\t", "\n", "é", "中", "😀")
  private val randomRows: Seq[(Long, String)] =
    Gen.listOfN(300, Gen.choose(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(pieces)).map(_.mkString)))
      .sample.get.zipWithIndex.map { case (t, i) => (100L + i) -> t }

  private lazy val input: DataFrame = {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(($"doc_id" + 10000L).as("doc_id"), $"text")
    (edgeRows ++ randomRows).toDF("doc_id", "text").union(corpus).cache()
  }

  private val maxLens = Seq(1, 3, 5, 64, 512)

  private def hashes(df: DataFrame): Map[Long, String] =
    df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  private def checkIdentical(mode: String): Unit = {
    VectorExprs.register(spark)
    maxLens.foreach { maxLen =>
      val want = hashes(SimHashReference.simhash64(input, maxLen))
      val got = hashes(DedupOps.simhash64(input, maxLen))
      assert(got == want, s"$mode maxLen=$maxLen: operator rows differ from the reference " +
        (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k)).take(5)
          .map(k => s"$k: ${got.get(k)} vs ${want.get(k)}").mkString("; "))
      // the bare kernel is null exactly where the reference emits no row
      val raw = input.select($"doc_id", VectorExprs.simhash64($"text", maxLen))
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      raw.foreach { case (id, h) =>
        assert(h == want.get(id), s"$mode maxLen=$maxLen doc $id: kernel $h vs ${want.get(id)}")
      }
    }
  }

  test("simhash64 kernel == column-tree reference on edge rows and random text (compiled)") {
    checkIdentical("compiled")
  }

  test("simhash64 kernel == column-tree reference under interpreted evaluation") {
    SqlConfShim.withConfs(SqlConfShim.Interpreted) {
      // the cached input's own plan was compiled when it was cached; the
      // stages above it must not be
      val plan = DedupOps.simhash64(input, 64).queryExecution.executedPlan.toString
      assert(plan.startsWith("Project [doc_id"), s"interpreted plan has a codegen stage:\n$plan")
      checkIdentical("interpreted")
    }
  }

  test("simhash16 derived from the kernel == its own column-tree reference") {
    Seq(3, 64, 512).foreach { maxLen =>
      val want = SimHashReference.simhash16(input, maxLen)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val got = DedupOps.simhash16(input, maxLen)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == want, s"maxLen=$maxLen")
    }
  }

  test("simhash64 plan: one code-generated projection, no exchange, aggregate or generator") {
    val df = DedupOps.simhash64(spark.read.parquet(s"$sfDir/documents.parquet"), 64)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[doc_id#\d+L?, simhash64\(""".r.findFirstIn(plan).isDefined, plan)
    Seq("Exchange", "HashAggregate", "Generate").foreach { op =>
      assert(!plan.contains(op), s"$op in simhash64 plan:\n$plan")
    }
    // the kernel runs once per row: the null-dropping filter is not a
    // second evaluation of it
    assert("simhash64\\(".r.findAllIn(plan).size == 1, plan)
  }

  test("simhash64 hashes rows, not ids; maxLen must be a foldable integer") {
    val a = "the quick brown fox"
    val b = "completely different words here"
    val rows = Seq(1L -> a, 1L -> b, 2L -> a).toDF("doc_id", "text")
    val got = DedupOps.simhash64(rows, 64).collect().map(r => r.getLong(0) -> r.getString(1))
    val single = hashes(DedupOps.simhash64(Seq(1L -> a, 2L -> b).toDF("doc_id", "text"), 64))
    assert(got.sorted.toSeq == Seq(1L -> single(1L), 1L -> single(2L), 2L -> single(1L)).sorted)
    VectorExprs.register(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      rows.select(call_function(VectorExprs.SimHashFnName, $"text", $"doc_id".cast("int")))
    }
    assert(e.getMessage.contains("maxLen must be a foldable integer"), e.getMessage)
  }
}
