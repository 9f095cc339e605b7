package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.feed.EventGen.mix64
import graft.operators.{DedupOps, Sampling, TermStats}

/** Seeded synthetic corpus. One document in ten is a planted copy of an
  * earlier document: half exact, half with one word replaced. Every text is
  * a pure function of (seed, id).
  */
final case class Corpus(seed: Long) {
  private val vocab = 20000
  private val plantedPerMille = 100
  private def h(id: Long, salt: Long): Long = mix64(seed ^ mix64(id ^ salt))

  /** The original a planted copy repeats, or None for a fresh document. */
  def origin(id: Long): Option[Long] =
    if (id == 0 || java.lang.Long.remainderUnsigned(h(id, 0x91L), 1000L) >= plantedPerMille) None
    else Some(java.lang.Long.remainderUnsigned(h(id, 0x92L), id))

  def exactCopy(id: Long): Boolean = (h(id, 0x93L) & 1L) == 0L

  private def word(x: Long): String = {
    // log-uniform ranks: a few frequent words, a long tail of rare ones
    val u = (x >>> 11).toDouble / (1L << 53).toDouble
    "w" + java.lang.Long.toString(math.exp(u * math.log(vocab.toDouble)).toLong, 36)
  }

  def text(id: Long): String = origin(id) match {
    case None =>
      val n = 20 + java.lang.Long.remainderUnsigned(h(id, 0x94L), 41L).toInt
      (0 until n).map(j => word(h(id, 0x1000L + j))).mkString(" ")
    case Some(o) =>
      val base = text(o)
      if (exactCopy(id)) base
      else {
        val ws = base.split(" ")
        val at = java.lang.Long.remainderUnsigned(h(id, 0x95L), ws.length.toLong).toInt
        ws.updated(at, "edit" + java.lang.Long.toString(h(id, 0x96L) >>> 40, 36)).mkString(" ")
      }
  }
}

/** Near-duplicate curation of a synthetic corpus materialized in set-up:
  * simhash near-dups, connected components to a keep-list, top terms of
  * the kept documents and a stable split assignment to the noop sink. The
  * unit operation is one pass of the whole chain.
  */
final class CurateCorpus(spark: SparkSession, seed: Long, smoke: Boolean) extends Workload {
  private val n = if (smoke) 2000L else 10000L
  private val corpus = Corpus(seed)
  private val maxLen = 512
  private val maxDist = 3
  private val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  private val splitSeed = s"perfbench-$seed"

  final class State(val docs: DataFrame) {
    var pairs: DataFrame = _
    var comps: DataFrame = _
    var chains = 0
  }

  val opKind = "curate"

  def setup(dir: String): State = {
    import spark.implicits._
    val c = corpus
    spark.range(0L, n).map(i => (i.longValue, c.text(i))).toDF("doc_id", "text")
      .write.parquet(s"$dir/corpus")
    new State(spark.read.parquet(s"$dir/corpus"))
  }

  private def kept(st: State, comps: DataFrame): DataFrame =
    st.docs.join(comps.filter(col("v") =!= col("comp")).select(col("v").as("doc_id")),
      Seq("doc_id"), "left_anti")

  /** Four chains: the first is several times slower, and JIT and
    * plan-code compilation of the operators take several more to settle. */
  override def warmup(st: State, tr: Tracer): Unit =
    (0 until 4).foreach(_ => run(st, System.nanoTime(), tr, new Recorder))

  def run(st: State, deadline: Long, tr: Tracer, rec: Recorder): Unit =
    do {
      val req = st.chains.toLong
      rec.time(opKind) {
        st.pairs = tr.call("operators.simhashNearDups", "operators", req) {
          DedupOps.simhashNearDups(st.docs, maxLen, maxDist).localCheckpoint()
        }
        st.comps = tr.call("operators.connectedComponents", "operators", req) {
          DedupOps.connectedComponents(st.pairs, "id1", "id2")
        }
        val keep = kept(st, st.comps)
        tr.call("operators.topTerms", "operators", req) {
          TermStats.topTerms(keep, 3, maxLen).write.format("noop").mode("overwrite").save()
        }
        tr.call("operators.assignSplits", "operators", req) {
          Sampling.assignSplits(keep, col("doc_id"), splits, splitSeed)
            .write.format("noop").mode("overwrite").save()
        }
      }
      rec.work += n
      st.chains += 1
    } while (System.nanoTime() < deadline)

  override def named(st: State, rec: Recorder, wallS: Double): Seq[(String, Double, String)] =
    Seq(("docs_per_s", rec.work / wallS, "1/s"),
      ("curate_s", Main.median(rec.of(opKind)), "s"),
      ("chains", st.chains.toDouble, "count"))

  def gates(st: State): Seq[String] = Seq("components", "copies", "splits")

  /** `components`: every component label is the least id reachable over
    * the pair graph. `copies`: planted exact copies share a component with
    * their original. `splits`: the split labels partition the kept
    * documents exactly. */
  def verify(st: State, corrupt: Option[String]): Seq[String] = {
    def hit(g: String) = corrupt.contains(g)
    val errs = mutable.ArrayBuffer[String]()
    val pairs = st.pairs.select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels = st.comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // least reachable id by union-find over the collected pairs
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val vertices = pairs.flatMap { case (a, b) => Seq(a, b) }.toSet
    val cLabels = if (!hit("components")) labels else {
      val (v, c) = labels.maxBy(_._1)
      labels.updated(v, c + 1)
    }
    if (vertices != cLabels.keySet)
      errs += s"components cover ${cLabels.size} vertices, the pair graph has ${vertices.size}"
    vertices.foreach { v =>
      if (cLabels.get(v).exists(_ != find(v)))
        errs += s"vertex $v labelled ${cLabels(v)}, least reachable id is ${find(v)}"
    }
    val copies = (0L until n).flatMap(id =>
      corpus.origin(id).filter(_ => corpus.exactCopy(id)).map(id -> _))
    // a copy moved to a component of its own
    val pLabels = if (!hit("copies")) labels else labels.updated(copies.head._1, -1L)
    copies.foreach { case (id, o) =>
      val (a, b) = (pLabels.getOrElse(id, id), pLabels.getOrElse(o, o))
      if (a != b) errs += s"exact copy $id of $o in component $a, original in $b"
    }
    val keep = kept(st, st.comps)
    val split0 = Sampling.assignSplits(keep, col("doc_id"), splits, splitSeed)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val split = if (hit("splits")) split0.tail :+ split0.head :+ split0.head else split0
    val keptIds = keep.select("doc_id").collect().map(_.getLong(0)).toSet
    val names = splits.map(_._1).toSet
    if (split.size != keptIds.size || split.map(_._1).toSet != keptIds)
      errs += s"${split.size} split labels for ${keptIds.size} kept documents"
    split.filterNot(x => names(x._2)).take(3).foreach(x => errs += s"doc ${x._1} has label ${x._2}")
    errs.toSeq
  }
}
