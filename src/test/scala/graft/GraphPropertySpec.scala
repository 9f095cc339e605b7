package graft

import org.scalacheck.Gen

import graft.operators.DedupOps

/** Generative pin for connected components: random undirected graphs vs
  * an in-memory union-find oracle — the distributed pointer-jumped
  * min-label fixpoint must produce EXACTLY the oracle's partition with
  * min-id canonical labels, for every random shape (forests, cliques,
  * chains, isolated pairs).
  */
class GraphPropertySpec extends SparkSpec {
  import spark.implicits._

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-id canonical: path-compress everything, root IS the min because
    // unions always attach the larger root under the smaller
    parent.keys.toSeq.map(v => v -> find(v)).toMap
  }

  test("connected components == union-find oracle on random graphs") {
    val gen = for {
      n <- Gen.choose(2, 50)
      m <- Gen.choose(1, 80)
      edges <- Gen.listOfN(m,
        Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
    } yield edges.filter(e => e._1 != e._2)
    // a handful of random graphs, each checked exactly (one job per graph
    // is inherent — the fixpoint loop is per-graph)
    (1 to 5).foreach { _ =>
      val edges = gen.sample.getOrElse(Seq((0L, 1L)))
      if (edges.nonEmpty) {
        val want = unionFind(50, edges)
        // driver union-find fast path (the small-graph default)
        val got = DedupOps.connectedComponents(edges.toDF("a", "b"), "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want, s"edges=$edges")
        // distributed pointer-jumped fixpoint (forced past the gate):
        // must produce the identical partition and labels
        val gotDist = DedupOps.connectedComponents(edges.toDF("a", "b"),
            "a", "b", driverMaxEdges = -1L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(gotDist == want, s"edges=$edges (distributed path)")
      }
    }
  }

  test("connected components: null and uncastable ids are dropped on both paths") {
    def labels(pairs: org.apache.spark.sql.DataFrame, maxEdges: Long): Map[Long, Long] =
      DedupOps.connectedComponents(pairs, "a", "b", driverMaxEdges = maxEdges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L)
    val nullIds = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, null),
      (null, 3L), (null, null), (4L, 5L)).toDF("a", "b")
    // a failed cast is null only outside ANSI mode (inside it, it throws)
    val uncastable = Seq[(String, String)](("1", "2"), ("2", "x"), ("y", "3"),
      (null, "3"), ("4", "5")).toDF("a", "b")
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try Seq(nullIds, uncastable).foreach { pairs =>
      assert(labels(pairs, DedupOps.DriverComponentsMaxEdges) == want, "driver path")
      assert(labels(pairs, 0L) == want, "distributed path")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }
}
