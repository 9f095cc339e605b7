package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Property-path shapes from the reference's path DSL
  * (/root/reference/grafter.repository/src/clj/grafter_2/rdf4j/sparql/
  * path.clj:34-112), re-expressed as join builders (SURVEY.md §2.4).
  *
  * Sequence (`/`), alternative (`|`), inverse (`^`), zero-or-one (`?`) and
  * negated sets (`!`) are single Catalyst operators; the closures (`*`/`+`)
  * are the one genuinely iterative shape — a semi-naive frontier loop with
  * `localCheckpoint` to cut lineage growth per iteration.
  */
object GraphOps {

  /** SequencePath A/B: hop1.dst = hop2.src (path.clj:84-87). */
  def seqPath(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("src"), col("dst").as("mid"))
      .join(b.select(col("src").as("mid"), col("dst")), "mid")
      .select("src", "dst")

  /** AlternativePath A|B (path.clj:89-92). */
  def altPath(a: DataFrame, b: DataFrame): DataFrame =
    a.select("src", "dst").union(b.select("src", "dst")).distinct()

  /** InversePath ^A — pure projection, no shuffle (path.clj:79-82). */
  def inversePath(a: DataFrame): DataFrame =
    a.select(col("dst").as("src"), col("src").as("dst"))

  /** ZeroOrOnePath `?`: identity over source nodes ∪ single hop
    * (path.clj:104-107).
    */
  def zeroOrOnePath(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("src").as("dst"))
      .union(edges.select(col("src"), col("dst")))
      .distinct()

  /** NegatedPropertySet `!`: hop via any predicate NOT in the excluded set
    * (path.clj:109-112) — a static-set anti-filter, never a join.
    */
  def negatedPath(edges: DataFrame, predicateCol: String,
                  excluded: Seq[String]): DataFrame =
    edges.filter(!col(predicateCol).isin(excluded: _*))
      .select(col("src"), col("dst")).distinct()

  /** OneOrMorePath `+`: transitive closure (≥1 hop). Small edge sets
    * (≤ `driverMaxEdges` after distinct) close driver-side with a BFS —
    * the per-round fixed cost of the loop dwarfs them. Larger graphs run
    * the semi-naive iteration: frontier ⋈ edges, minus already-known
    * pairs, until empty. Checkpointing truncates plan lineage each round
    * (without it the plan doubles per iteration). The distributed path's
    * per-iteration work is one equi-join + one distinct and never
    * collects edges to the driver.
    *
    * THROWS when the frontier is still non-empty at `maxIters` — a
    * truncated closure is silently wrong, never an acceptable answer.
    *
    * @param reliableCheckpoint use `checkpoint()` (HDFS-backed, requires
    *   `sparkContext.setCheckpointDir`) instead of `localCheckpoint()`.
    *   `localCheckpoint` pins blocks in executor memory and dies with an
    *   executor — for deep closures on a real cluster the reliable variant
    *   is the fault-tolerant choice.
    */
  def transitiveClosure(edges: DataFrame, maxIters: Int = 20,
                        reliableCheckpoint: Boolean = false,
                        driverMaxEdges: Long = DriverClosureMaxEdges): DataFrame = {
    def cp(df: DataFrame): DataFrame =
      if (reliableCheckpoint) df.checkpoint() else df.localCheckpoint()
    val edgeCount = Observation()
    val e = cp(edges.select("src", "dst").distinct()
      .observe(edgeCount, count(lit(1)).as("n")))
    // SMALL-GRAPH FAST PATH: the semi-naive loop pays a join + distinct +
    // exceptAll + checkpoint + emptiness action PER ROUND — a fixed
    // multi-second floor that dwarfs small graphs. Below the edge bound
    // (counted by an observation on the checkpoint's own job, no extra
    // action) a driver-side BFS produces the identical pair set,
    // type-generically; a closure that explodes past the pair bound
    // mid-computation falls through to the distributed loop (same gate
    // philosophy as a broadcast threshold).
    if (edgeCount.get("n").asInstanceOf[Long] <= driverMaxEdges)
      driverClosure(e).foreach(df => return df)
    var closure = e
    var frontier = e
    var i = 0
    var done = false
    while (!done && i < maxIters) {
      // distinct BEFORE exceptAll: a pair re-derived through ≥2 midpoints
      // in one round (diamond graph) carries multiplicity > 1, and
      // exceptAll only subtracts `closure`'s single copy — the survivor
      // would be unioned into `closure` as a duplicate row.
      val next = cp(frontier.withColumnRenamed("dst", "mid")
        .join(e.withColumnRenamed("src", "mid"), "mid")
        .select("src", "dst")
        .distinct()
        .exceptAll(closure))
      if (next.isEmpty) done = true
      else {
        closure = cp(closure.union(next))
        frontier = next
      }
      i += 1
    }
    if (!done) throw new IllegalStateException(
      s"transitive closure did not converge within $maxIters iterations " +
        "(frontier still non-empty) — raise maxIters; refusing to return " +
        "a silently truncated closure")
    closure
  }

  /** ZeroOrMorePath `*`: closure ∪ identity over the node set. */
  def reflexiveTransitiveClosure(edges: DataFrame, maxIters: Int = 20,
                                 reliableCheckpoint: Boolean = false): DataFrame = {
    val nodes = edges.select(col("src").as("n"))
      .union(edges.select(col("dst").as("n"))).distinct()
    transitiveClosure(edges, maxIters, reliableCheckpoint)
      .union(nodes.select(col("n").as("src"), col("n").as("dst")))
      .distinct()
  }

  /** Edge bound for [[transitiveClosure]]'s driver-side BFS fast path:
    * 8k distinct edges collect to well under a MB; graphs past it — the
    * 100 TB posture — take the distributed semi-naive loop. */
  val DriverClosureMaxEdges: Long = 8192

  /** Pair bound for the driver BFS result: a closure that exceeds it
    * (pathological density from a small edge set) aborts back to the
    * distributed loop rather than ballooning driver memory. */
  private val DriverClosureMaxPairs: Int = 1 << 21

  /** Driver-side BFS closure over a collected edge set, generic in the
    * src/dst types (no cast — the output schema is the input's). Returns
    * None when the pair set outgrows [[DriverClosureMaxPairs]]. */
  private def driverClosure(e: DataFrame): Option[DataFrame] = {
    val rows = e.collect()
    val adj = new java.util.HashMap[Any, java.util.ArrayList[Any]]()
    rows.foreach { r =>
      adj.computeIfAbsent(r.get(0),
        _ => new java.util.ArrayList[Any]()).add(r.get(1))
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
    val srcs = adj.keySet().iterator()
    while (srcs.hasNext) {
      val a = srcs.next()
      val seen = new java.util.HashSet[Any]()
      val stack = new java.util.ArrayDeque[Any]()
      // reach-with-≥1-step: seed with a's neighbors; a itself is emitted
      // only when a cycle leads back to it
      val nb0 = adj.get(a)
      var i = 0
      while (i < nb0.size()) {
        val n = nb0.get(i); if (seen.add(n)) stack.push(n); i += 1
      }
      while (!stack.isEmpty) {
        val x = stack.pop()
        out.add(org.apache.spark.sql.Row(a, x))
        if (out.size() > DriverClosureMaxPairs) return None
        val nbs = adj.get(x)
        if (nbs != null) {
          var j = 0
          while (j < nbs.size()) {
            val n = nbs.get(j); if (seen.add(n)) stack.push(n); j += 1
          }
        }
      }
    }
    Some(e.sparkSession.createDataFrame(out, e.schema))
  }
}
