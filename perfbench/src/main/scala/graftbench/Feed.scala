package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.feed.{EventGen, FeedConfig}

/** Events `[lo, hi)` of a generated feed as a batch frame. */
object Feed {
  def frame(spark: SparkSession, cfg: FeedConfig, lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    val c = cfg
    spark.range(lo, hi).mapPartitions(_.map(i => EventGen.event(c, i))).toDF()
  }

  def config(seed: Long, events: Long, keys: Long): FeedConfig =
    FeedConfig(seed = seed, numEvents = events, numDocs = keys, numHot = 4,
      hotFraction = 0.0, deletePct = 5, maxTokens = 64, numSources = 3,
      maxLatenessSec = 0)
}
