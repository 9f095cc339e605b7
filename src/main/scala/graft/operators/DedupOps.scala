package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.functions.TextOps

/** Deduplication family for training corpora: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash. All hashing is md5-based so every stage has an
  * exact DuckDB-SQL twin (verified oracles, not rows-only checks).
  *
  * The dedup-key philosophy follows grafter's `triple=` — payload equality
  * ignoring provenance (/root/reference/grafter.core/src/grafter_2/rdf/
  * protocols.cljc:457-469): all of these key on content, never on
  * `source`/`doc_id`.
  *
  * Scale notes (100 TB): every stage is shuffle-by-content-key — exact
  * dedup is one hash aggregate; shingling fans out rows but each shingle
  * row is ~50 bytes and partial aggregation collapses (doc, gram) locally;
  * LSH banding turns the quadratic candidate problem into an equi-join on
  * band keys. The only quadratic step left (exact Jaccard on candidates)
  * runs on the candidate set, not the corpus. SimHash needs no shuffle at
  * all: a document's hash is a pure function of its row, computed by the
  * native per-row [[graft.functions.SimHash64]] kernel inside the scan's
  * code-generated stage, so the SimHash operators key on the input ROW
  * (one hash per row; callers de-duplicate repeated ids first).
  */
object DedupOps {

  /** Edge bound for [[connectedComponents]]' driver-side union-find fast
    * path: 1M edges collect to a few tens of MB of driver memory (two
    * longs each, same bound philosophy as a broadcast threshold); larger
    * graphs take the distributed pointer-jumped fixpoint. */
  val DriverComponentsMaxEdges: Long = 1L << 20

  /** Exact content dedup: hash-groupBy on md5(content), keep the smallest
    * doc_id as canonical. One shuffle, map-side partial agg.
    */
  def exactClusters(docs: DataFrame, contentCol: String, prefixLen: Int): DataFrame =
    docs
      .select(col("doc_id"), TextOps.prefixFingerprint(col(contentCol), prefixLen).as("h"))
      .groupBy(col("h"))
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("cluster_size"))

  /** Explode text into (doc_id, gram) rows of w-char shingles over the
    * first `maxLen` chars. DISTINCT per doc (set semantics for Jaccard).
    */
  def shingles(docs: DataFrame, w: Int, maxLen: Int): DataFrame =
    docs
      .select(col("doc_id"), substring(col("text"), 1, maxLen).as("t"))
      .select(col("doc_id"),
        explode(sequence(lit(1), greatest(lit(1), length(col("t")) - (w - 1)))).as("pos"),
        col("t"))
      .select(col("doc_id"), col("t").substr(col("pos"), lit(w)).as("gram"))
      .distinct()

  /** Pairwise n-gram Jaccard similarity for all doc pairs sharing at least
    * one shingle (id1 < id2). |A∩B| from the gram equi-join; |A|,|B| from
    * per-doc counts; J = inter / (|A|+|B|-inter).
    *
    * `maxDocFreq` gates the self-join: a gram shared by f documents
    * produces O(f²) join rows, so one stopword-like shingle shared by 10⁶
    * docs explodes quadratically at corpus scale. Grams with document
    * frequency above the cut are dropped BEFORE the join, bounding the
    * join output by Σ min(f, cut)² — the standard CCP/positional-filter
    * mitigation. The cut is an approximation of the intersection when it
    * engages (a dropped common gram no longer counts toward |A∩B|); pass
    * a cut ≥ the corpus doc count for exact semantics.
    */
  def ngramJaccard(docs: DataFrame, w: Int, maxLen: Int, minJaccard: Double,
                   maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val sh = shingles(docs, w, maxLen).cache()
    // set sizes are computed from the UNCUT shingle sets — the denominator
    // stays exact even when the frequency cut engages
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val joinable =
      if (maxDocFreq == Int.MaxValue) sh
      else {
        val rare = sh.groupBy("gram").agg(count(lit(1)).as("_df"))
          .filter(col("_df") <= maxDocFreq)
          .select("gram")
        sh.join(rare, "gram")
      }
    val inter = joinable.as("a").join(joinable.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "id1").withColumnRenamed("n", "n1"), "id1")
      .join(sizes.withColumnRenamed("doc_id", "id2").withColumnRenamed("n", "n2"), "id2")
      .select(col("id1"), col("id2"),
        graft.functions.TextOps.round4(col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** MinHash signatures: for seed s in [0, k), minhash_s(doc) =
    * min over shingles of md5(s || gram). Row shape (doc_id, seed, mh).
    */
  def minhash(docs: DataFrame, w: Int, maxLen: Int, k: Int): DataFrame = {
    val sh = shingles(docs, w, maxLen)
    sh
      .select(col("doc_id"), explode(sequence(lit(0), lit(k - 1))).as("seed"), col("gram"))
      .groupBy("doc_id", "seed")
      .agg(min(md5(concat(col("seed").cast("string"), col("gram")))).as("mh"))
  }

  /** LSH banding: group the k minhashes into `bands` bands of k/bands rows,
    * band key = md5 of the concatenated (seed-ordered) minhashes. Candidate
    * pairs = docs sharing any band key. Equi-join on (band, key) — never a
    * cross join.
    */
  def minhashLshCandidates(docs: DataFrame, w: Int, maxLen: Int,
                           k: Int, bands: Int): DataFrame = {
    val mh = minhash(docs, w, maxLen, k)
    val rowsPerBand = k / bands
    // materialise band keys once before the self-join (no ReusedExchange
    // for the identical subplans — see simhashCandidatePairs)
    val banded = mh
      .withColumn("band", floor(col("seed") / rowsPerBand).cast("int"))
      .groupBy("doc_id", "band")
      // array_agg ordered by seed → deterministic band key
      .agg(md5(concat_ws(",", array_sort(collect_list(
        concat_ws(":", lpad(col("seed").cast("string"), 4, "0"), col("mh")))))).as("bkey"))
      .localCheckpoint()
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
  }

  /** 16-bit SimHash over whitespace words: bit j of md5(word) is the top
    * bit of hex nibble j; simhash bit j = majority vote across words.
    * Output (doc_id, simhash int). That vote is the MSB of hex char j of
    * [[simhash64]] (same md5 nibble, same tie rule), so this is one
    * projection over the fused kernel's output. One hash per ROW (see
    * [[simhash64]]).
    */
  def simhash16(docs: DataFrame, maxLen: Int): DataFrame = {
    simhash64(docs, maxLen).select(col("doc_id"),
      (0 until 16).map { j =>
        // hex chars sort '0'..'9' < 'a'..'f': >= '8' ⇔ the nibble's top bit
        when(col("simhash").substr(j + 1, 1) >= "8", 1 << j).otherwise(0)
      }.reduce(_ + _).as("simhash"))
  }

  /** 64-bit SimHash over whitespace words, emitted as a 16-hex-char string
    * (MSB-first: char i covers bits 4i..4i+3 of the md5-derived space).
    * Bit j of a word's hash = bit (3 − j mod 4) of hex nibble ⌊j/4⌋ of
    * md5(word); simhash bit j = majority vote across words (a tie is 0).
    * Words are the non-empty runs between ASCII spaces of the first
    * `maxLen` characters.
    *
    * Computed per row by the native [[graft.functions.SimHash64]]
    * expression: one projection, no explode, no shuffle. The DuckDB
    * oracle's explode-and-aggregate SQL is exact against it (hex-digit
    * decode + integer ops, no float, no 2^63 signed-overflow edge).
    *
    * ROW-KEY CONTRACT: the hash is per input row, not per `doc_id` — a
    * frame that repeats an id gets one row per occurrence (de-duplicate
    * ids first, as [[graft.stream.DedupIngest]] does). Null or tokenless
    * (empty / all-space) text emits no row.
    */
  def simhash64(docs: DataFrame, maxLen: Int): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    // drop the rows the kernel maps to null BEFORE hashing, by its own
    // rule (null text, or no non-space byte in the cut): a null test on
    // the kernel's output is pushed below the projection by Catalyst and
    // would run the kernel twice per row
    docs
      .filter(trim(substring(col("text"), 1, maxLen)) =!= "")
      .select(col("doc_id"),
        graft.functions.VectorExprs.simhash64(col("text"), maxLen).as("simhash"))
  }

  /** SimHash near-dup candidate pairs via Hamming-block banding: split the
    * 64-bit hash into 4 blocks of 16 bits (4 hex chars); by pigeonhole,
    * any two hashes within Hamming distance 3 share at least one block
    * exactly. Candidates = pairs sharing any (block index, block value) —
    * an equi-join on the banded key, never an all-pairs comparison.
    */
  def simhashCandidates(docs: DataFrame, maxLen: Int): DataFrame =
    simhashCandidatePairs(simhash64(docs, maxLen))
      .select(col("id1"), col("id2"))

  /** One row per 16-bit Hamming band of a (doc_id, simhash) frame:
    * (doc_id, blk, bval, simhash). THE band definition — every banded
    * consumer (batch candidate self-join here, the streaming admission
    * probe in [[graft.stream.DedupIngest]]) derives from this one place,
    * so the pigeonhole arithmetic (4 blocks × 4 hex chars ⇒ recall
    * guaranteed within Hamming distance 3) cannot drift between sites.
    */
  private[graft] def bandFrame(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), explode(sequence(lit(0), lit(3))).as("blk"), col("simhash"))
      .select(col("doc_id"), col("blk"),
        col("simhash").substr(col("blk") * 4 + 1, lit(4)).as("bval"), col("simhash"))

  /** Banded candidate pairs over a precomputed (doc_id, simhash) frame,
    * carrying both hashes: (id1, id2, sh1, sh2). The hash frame is
    * materialised ONCE (localCheckpoint) before the self-join — Catalyst
    * does not reuse the two identical subplans (verified: no
    * ReusedExchange), and at corpus scale hashing the corpus twice
    * doubles the most expensive stage.
    */
  private[graft] def simhashCandidatePairs(sh0: DataFrame,
                                           materialized: Boolean = false): DataFrame = {
    // the hash frame feeds BOTH sides of the self-join — materialise it
    // once, unless the caller already holds a checkpointed frame
    val sh = if (materialized) sh0 else sh0.localCheckpoint()
    val banded = bandFrame(sh)
    banded.as("a").join(banded.as("b"),
        col("a.blk") === col("b.blk") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.simhash").as("sh1"), col("b.simhash").as("sh2"))
      .distinct()
  }

  /** Per-nibble popcount lookup: popcount(i) = digit i of this string.
    * Same table works verbatim in the DuckDB oracle — no bit_count
    * builtin dependency, no integer-width edge cases.
    */
  private val NibblePopcount = "0112122312232334"

  /** Hamming distance between two 16-hex-char simhash strings as a pure
    * Column: per hex position, XOR the decoded nibbles and look the
    * popcount up in a 16-entry table — 16 fixed terms, no explode, stays
    * inside whole-stage codegen. This is the REFERENCE implementation the
    * DuckDB oracle mirrors term-for-term; the hot path uses the native
    * fused-loop [[graft.functions.HammingHex]] expression, which is
    * property-pinned bit-identical to this on the hex domain.
    */
  def hammingHex64(a: Column, b: Column): Column =
    (0 until 16).map { i =>
      val x = conv(a.substr(i + 1, 1), 16, 10).cast("int")
        .bitwiseXOR(conv(b.substr(i + 1, 1), 16, 10).cast("int"))
      lit(NibblePopcount).substr(x + 1, lit(1)).cast("int")
    }.reduce(_ + _)

  /** The full simhash near-dup pipeline: banded candidate generation
    * (recall: pigeonhole guarantees no false negatives within `maxDist` ≤ 3
    * for 4 blocks) followed by the exact Hamming-distance verify filter
    * (precision). The verify runs on the CANDIDATE set only — the
    * candidate-then-exact-check shape of the reference's `triple=` equality
    * after pattern matching (protocols.cljc:457-469). Output
    * (id1, id2, dist).
    */
  def simhashNearDups(docs: DataFrame, maxLen: Int, maxDist: Int): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    simhashCandidatePairs(simhash64(docs, maxLen))
      .select(col("id1"), col("id2"),
        graft.functions.VectorExprs.hammingHex(col("sh1"), col("sh2")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Eval-set contamination check: flag every corpus doc that shares at
    * least one `w`-char shingle (over the first `maxLen` chars) with any
    * eval doc — the decontamination step a training pipeline runs before
    * an eval set can be trusted. Shingles are md5-hashed and equi-joined
    * (never an all-pairs scan); the eval side is the broadcast side by
    * construction (eval sets are small). Returns (doc_id, eval_id,
    * n_shared) per contaminated pair.
    */
  def contamination(corpus: DataFrame, eval: DataFrame, w: Int,
                    maxLen: Int): DataFrame = {
    // ONE shingle definition repo-wide (the bandFrame lesson): both sides
    // derive from [[shingles]], hashed for join-key compactness
    def hashed(df: DataFrame, idCol: String): DataFrame =
      shingles(df, w, maxLen)
        .select(col("doc_id").as(idCol), md5(col("gram")).as("g"))
    hashed(corpus, "doc_id")
      .join(broadcast(hashed(eval, "eval_id")), "g")
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Connected components over an undirected pair graph — the CLUSTERING
    * step a dedup pipeline runs after pair generation: near-duplicate is
    * not transitive, but keep-one-per-cluster must be, so the pairs are
    * closed into components and one canonical doc (the min id) represents
    * each. Returns `(v, comp)` for every vertex that appears in a pair;
    * `comp` = min id reachable, so `v === comp` is the keep-list test.
    *
    * Algorithm: min-label propagation WITH pointer jumping — per round,
    * every vertex takes the min of its own, its neighbors', and its
    * current label's label (`comp(comp)`, the Shiloach–Vishkin shortcut;
    * public classic, SICOMP'82). Neighbor-min alone needs
    * diameter-many rounds; the jump halves label-tree depth each round,
    * so convergence is O(log diameter) — a diameter-19 chain closes in
    * ~6 rounds (spec-pinned). Per round: two joins + one aggregate
    * hashing on the vertex id (AQE reuses the exchange), one
    * `localCheckpoint` to cut lineage ([[GraphOps]]-style), and ONE
    * convergence action — labels only ever decrease, so `sum(comp)`
    * strictly decreases iff anything changed (no join-and-count pass).
    * The round cap fails LOUDLY: a truncated fixpoint is silently-wrong
    * clustering.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 50,
                          driverMaxEdges: Long = DedupOps.DriverComponentsMaxEdges)
      : DataFrame = {
    // checkpoint the DIRECTED pair frame, not the symmetrized union: the
    // two union branches don't share their subplan (no CSE across union
    // in Catalyst), so checkpointing after the union would compute the
    // caller's pair pipeline — often an LSH join + verify — twice. The
    // symmetrize itself is a cheap projection over the cached RDD.
    // an edge with a null end (null id, or a failed cast) joins nothing:
    // dropped here, where it feeds both paths below. The edge count is
    // observed on the checkpoint's own job, not counted by another.
    val edgeCount = Observation()
    val e0 = pairs.select(col(aCol).cast("long").as("src"),
        col(bCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .observe(edgeCount, count(lit(1)).as("n"))
      .localCheckpoint()
    // SMALL-GRAPH FAST PATH: below the edge bound, close the components
    // driver-side with union-find — one bounded collect of two long
    // columns. The distributed fixpoint below pays ~3 shuffles + 2 driver actions
    // PER ROUND, a fixed multi-second floor that dwarfs a tiny graph;
    // same gate philosophy as a broadcast-join threshold. Results are
    // identical (min reachable id per vertex, order-insensitive), and
    // graphs past the bound — the 100 TB posture — take the distributed
    // path unchanged.
    if (edgeCount.get("n").asInstanceOf[Long] <= driverMaxEdges) {
      val es = e0.collect()
      val parent = new java.util.HashMap[Long, Long](es.length * 2)
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != c) {
          val n = parent.getOrDefault(c, c); parent.put(c, r); c = n
        }
        r
      }
      es.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        val (ra, rb) = (find(a), find(b))
        // union by MIN id: the root is always the component's least
        // vertex, which is exactly the label the fixpoint converges to
        if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
      }
      val verts = es.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
      val labels = verts.map(v => (v, find(v))).toSeq
      val sp = pairs.sparkSession
      import sp.implicits._
      return labels.toDF("v", "comp")
    }
    // no distinct: min-aggregation is duplicate-insensitive, so duplicate
    // edges only pad the per-round join input — a full dedup shuffle of
    // the edge list costs more than they ever will
    val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    // round 0 for free: over the SYMMETRIZED edge list, one aggregate
    // yields min(v, min(neighbors)) — exactly what the first
    // propagate-round's join+union+aggregate would produce, one shuffle
    // cheaper (and it subsumes the vertex-set distinct)
    var labels = edges
      .groupBy(col("src"))
      .agg(least(min(col("dst")), col("src")).as("comp"))
      .select(col("src").as("v"), col("comp"))
      .localCheckpoint()
    var prevSum = Option.empty[java.math.BigDecimal]
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val nbr = edges.join(labels, edges("dst") === labels("v"))
        .select(edges("src").as("v"), col("comp"))
      val half = labels.union(nbr)
        .groupBy("v").agg(min("comp").as("comp"))
      // pointer jump: comp := min(comp, comp(comp)) — comp is always a
      // vertex id (labels start as identity and only ever take existing
      // ids), so the self-join is total; left join guards regardless.
      // toDF re-aliases the right side so the self-join resolves.
      val jump = half.toDF("_c", "_cc")
      val next = half
        .join(jump, col("comp") === col("_c"), "left")
        .select(col("v"),
          least(col("comp"), coalesce(col("_cc"), col("comp"))).as("comp"))
        .localCheckpoint()
      // sum as exact decimal: ids are longs, a 10^10-vertex sum overflows
      // a long and a wrapped sum could fake convergence
      // null on an EMPTY vertex set (no pairs at all) → zero, so the
      // empty graph converges in two rounds instead of NPE-ing
      val sumNow = Option(next.agg(sum(col("comp").cast("decimal(38,0)")))
        .head().getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
      converged = prevSum.exists(_.compareTo(sumNow) == 0)
      prevSum = Some(sumNow)
      labels = next
      it += 1
    }
    require(converged,
      s"connected components did not converge in $maxIters rounds — " +
        "pathological structure; raise maxIters")
    labels
  }
}
