package graft.queries

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k as the exactness baseline, random-hyperplane
  * LSH as the approximate scale path (query-vs-corpus ANN in q22,
  * corpus-level embedding-cosine near-dup pairs in q40), and per-label
  * centroid stats.
  *
  * Determinism/oracle design: per-element double products are quantized
  * with floor(x*y*1e6) to BIGINT before summing. Integer addition is
  * associative (any partitioning order gives the identical sum), BIGINT
  * -> DOUBLE conversion is exact in both Spark and DuckDB (values <<
  * 2^53), and floor has no rounding-mode ties — so cosines are
  * bit-identical across engines. (Decimal accumulators are NOT portable
  * here: DuckDB's DECIMAL->DOUBLE conversion double-rounds via int128 *
  * 10^-s, diverging from the JVM's correctly-rounded BigDecimal path in
  * the last ulp.) The 1e-6 product quantization bounds the cosine error
  * at ~1e-4 — irrelevant for ranking, and ranking ties break on vec_id.
  * The LSH plane matrix is md5-derived on the driver and inlined as
  * +/- sign strings into BOTH the Spark plan and the oracle SQL.
  *
  * Scale design: brute force is quadratic and kept only as the baseline
  * over a bounded query set (top-k for Q query vectors is a broadcast of
  * Q rows against the corpus — linear). The LSH variant is the 100 TB
  * path: signatures from one codegen hash-aggregate, a bucket join on
  * (band, 8-bit chunk) carrying ids only (256 buckets/band keeps the
  * within-bucket quadratic term near-linear overall), embedding rejoin
  * after candidate dedup, exact re-scoring on candidates, per-query
  * top-k.
  */
object Similarity {

  /** The IVF coarse quantizer: k (= one per label) centroid rows
    * (cell, cav: array<float>), the q23 construction — integer-quantized
    * per-dim sums → exact-in-double means, dim-ordered, float-rounded
    * (IEEE round-to-nearest in both engines, so quantized_dot scores
    * stay bit-identical to the oracle). Shared by q41's batch
    * assignment and the streaming twin
    * (EventStreams.assignToCells); k rows, always broadcastable.
    */
  def cellCentroids(s: SparkSession, dir: String): DataFrame =
    cellCentroidsOf(s, Tables.load(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism, col("vec_id")))

  /** [[cellCentroids]] over an arbitrary (label, embedding) frame —
    * what lets the spec's recall law run the quantizer on a synthetic
    * boundary-heavy corpus.
    */
  def cellCentroidsOf(s: SparkSession, emb: DataFrame): DataFrame = {
    registerFns(s)
    emb
      .select(col("label"), col("embedding"),
        explode(expr("sequence(1, 64)")).as("dim"))
      .select(col("label"), col("dim"),
        expr("cast(floor(cast(element_at(embedding, dim) as double) * 1000000) as bigint)")
          .as("vq"))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("vq")).as("sv"), count(lit(1)).as("n"))
      .select(col("label").as("cell"), col("dim"),
        expr("cast(sv as double) / 1000000 / n").as("av"))
      .groupBy(col("cell"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(dim, av))), p -> cast(p.av as float))")
        .as("cav"))
  }

  /** 32 hyperplanes as 64-char '+'/'-' sign strings, deterministically
    * derived from md5("p{h}_{i}") (first byte >= 0x80 -> '+'). 32 planes
    * = 4 LSH bands x 8 bits: 256 buckets per band, so expected bucket
    * occupancy is n/256 — the candidate set stays near-linear in corpus
    * size (4-bit chunks gave n/16, quasi-quadratic at scale).
    */
  val planes: Seq[String] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until 32).map { h =>
      (1 to 64).map { i =>
        md.reset()
        val hex = md.digest(s"p${h}_$i".getBytes(StandardCharsets.UTF_8))
        if ((hex(0) & 0xff) >= 0x80) '+' else '-'
      }.mkString
    }
  }

  /** Plane h as a literal ±1 array indexed by dim (1-based). */
  private def signsSpark(h: Int): String =
    planes(h).map(c => if (c == '+') "1" else "-1").mkString("array(", ", ", ")")
  private def signsDuck(h: Int): String =
    planes(h).map(c => if (c == '+') "1" else "-1").mkString("[", ", ", "]")

  /** Spark side: integer-quantized dot product of two float arrays via
    * the native codegen expression (functions.QuantizedDot — bit-for-bit
    * the same `Σ floor(a_i·b_i·1e6)` as [[dotDuck]], but a fused
    * primitive loop instead of an interpreted `aggregate(zip_with(...))`
    * lambda). Callers must [[registerFns]] on the session first.
    */
  private def dotSpark(a: String, b: String): String =
    s"quantized_dot($a, $b)"

  private def registerFns(s: SparkSession): Unit =
    graft.functions.GraftFunctions.register(s)

  /** DuckDB: the same quantized accumulation. */
  private def dotDuck(a: String, b: String): String =
    s"""CAST(list_sum([CAST(floor(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) * 1000000) AS BIGINT)
        for i in generate_series(1, 64)]) AS BIGINT)"""

  private val nQueries = 8
  private val topK = 3

  /** How many nearest cells a QUERY probes in IVF search (q41).
    * nprobe=1 misses neighbors that sit just across a cell boundary —
    * the classic IVF recall cliff; probing the nprobe nearest
    * centroids trades candidate volume (~nprobe·n/k rescorings per
    * query) for recall. Corpus vectors stay assigned to exactly one
    * cell either way.
    */
  val IvfNprobe = 2

  /** Exact-cosine threshold for embedding near-duplicate pairs (q40). */
  val nearDupCos = 0.40

  /** SemDeDup cosine threshold (q145): within-cell pairs at or above it
    * are semantic duplicates; one representative per component is kept.
    */
  val semDedupCos = 0.40

  /** How many Lloyd iterations PQ codebook training runs (q166/q170).
    * Two is enough to visibly beat the sliced-centroid init on skewed
    * fixtures (the SimilaritySpec recall law) while keeping the
    * unrolled oracle chain readable; every iteration is the SAME
    * deterministic quantized-mean arithmetic, so any count is
    * DuckDB-re-derivable.
    */
  val PqTrainIters = 2

  /** Round 11's whole codebook, now the trainer's INIT: the per-label
    * centroid SLICED to each subspace's dims (per-dim means are
    * independent, so the slice is the per-subspace label mean).
    */
  private[graft] def pqSlicedBooks(cent: DataFrame): DataFrame =
    cent
      .select(col("cell"), explode(expr("sequence(0, 7)")).as("j"),
        col("cav"))
      .select(col("cell"), col("j"),
        expr("slice(cav, j * 8 + 1, 8)").as("bk"))

  /** (vec_id, j, sv) subspace slices of every embedding — the shared
    * input of PQ training, encoding, and the query LUT.
    */
  private[graft] def pqSlices(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding"),
      explode(expr("sequence(0, 7)")).as("j"))
      .select(col("vec_id"), col("j"),
        expr("slice(embedding, j * 8 + 1, 8)").as("sv"))

  /** Per-subspace k-means-TRAINED PQ codebooks (round 12): Lloyd
    * iterations under the MAXIMUM-INNER-PRODUCT objective the encoder
    * actually uses — assign every subspace slice to its argmax
    * quantized sub-dot entry (the pqCodes rule, cell-asc tie-break),
    * then recompute each entry as the quantized mean of its assigned
    * slices (floor(x·10⁶) integer sums → exact-in-double mean →
    * float-rounded — cellCentroidsOf's arithmetic, so every iterate is
    * bit-portable). Entries that attract no slices KEEP their previous
    * value (the deterministic empty-cell rule, mirrored by the
    * oracle's left-join coalesce). Initialization is the per-label
    * centroid SLICE (round 11's whole codebook): training can only
    * move entries toward the data's own subspace structure, which the
    * SimilaritySpec recall law measures. Returns (cell, j, bk).
    */
  private[graft] def pqTrainedBooks(slices: DataFrame, cent: DataFrame,
      iters: Int = PqTrainIters): DataFrame = {
    val sl = slices.localCheckpoint()
    var book = pqSlicedBooks(cent).localCheckpoint()
    var it = 0
    while (it < iters) {
      val asg = sl.join(broadcast(book), Seq("j"))
        .select(col("vec_id"), col("j"), col("sv"), col("cell"),
          expr("quantized_dot(sv, bk)").as("sc"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id"), col("j"))
        .orderBy(col("sc").desc, col("cell").asc)
      val assigned = asg.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("j"), col("cell"), col("sv"))
      val upd = assigned
        .select(col("cell"), col("j"), explode(expr("sequence(1, 8)")).as("d"),
          col("sv"))
        .select(col("cell"), col("j"), col("d"),
          expr("cast(floor(cast(element_at(sv, d) as double) * 1000000) as bigint)")
            .as("vq"))
        .groupBy(col("cell"), col("j"), col("d"))
        .agg(expr("cast(sum(vq) as double) / 1000000 / count(*)").as("av"))
        .groupBy(col("cell"), col("j"))
        .agg(expr(
          "transform(array_sort(collect_list(struct(d, av))), p -> cast(p.av as float))")
          .as("nbk"))
      val next = book.join(upd, Seq("cell", "j"), "left")
        .select(col("cell"), col("j"),
          expr("coalesce(nbk, bk)").as("bk"))
        .localCheckpoint()
      // the superseded iterate's blocks are retired the moment the
      // next one materializes (eager checkpoint above) — Lloyd runs
      // hold ONE codebook generation live, not `iters`
      Checkpoints.free(book)
      book = next
      it += 1
    }
    Checkpoints.free(sl)
    book
  }

  private val bookMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  /** Trained PQ codebooks for the dir's embeddings table, materialized
    * ONCE per (session, dir) — q166 and q170 (×3 bench passes each)
    * otherwise re-run the Lloyd iterations for identical values
    * (the training arithmetic is partition-independent, so the memo is
    * a pure dedup). Eviction mirrors Dedup.memo.
    */
  private[graft] def trainedBooksFor(s: SparkSession, dir: String): DataFrame = {
    bookMemo.keysIterator.filter(_._1.sparkContext.isStopped)
      .foreach(bookMemo.remove)
    bookMemo.getOrElseUpdate((s, dir), {
      registerFns(s)
      val e = Tables.load(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      // pqTrainedBooks already returns a materialized checkpoint — a
      // second .localCheckpoint() here would copy the blocks and
      // permanently strand the inner generation
      pqTrainedBooks(pqSlices(e), cellCentroidsOf(s, e))
    })
  }

  /** PQ codes of the dir's embeddings — (nid, j, code), memoized per
    * (session, dir) with the [[trainedBooksFor]] policy (round 17): in
    * a real PQ index the 8-byte codes ARE the persisted index, built
    * once alongside the codebooks — yet q166 re-encoded the WHOLE
    * corpus (n×8×k sub-dots + the n×8-row argmax window) on every
    * invocation, and q170 re-encoded its candidate set per call.
    * Consumers read this table; only the per-query LUT (nQueries×8×k
    * sub-dots) stays per-call work.
    */
  private val codesMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private[graft] def pqCodesFor(s: SparkSession, dir: String): DataFrame = {
    codesMemo.keysIterator.filter(_._1.sparkContext.isStopped)
      .foreach(codesMemo.remove)
    codesMemo.getOrElseUpdate((s, dir), {
      registerFns(s)
      val e = Tables.load(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      pqCodes(pqSubScores(pqSlices(e), trainedBooksFor(s, dir)))
        .localCheckpoint()
    })
  }

  /** (vec_id, embedding, nrm) with the quantized self-dot-product
    * computed ONCE per vector — rescoring joins read this instead of
    * recomputing self-norms per candidate pair (the interpreted
    * higher-order dot is the costly part; one per pair, not three).
    * Memoized per (session, dir) since round 15: every ANN query (and
    * three bench passes of each) previously materialized a FRESH
    * checkpoint of the identical frame — both redundant work and the
    * retired-block accumulation behind the r14 q170 pass degradation.
    */
  private val nembMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private def normedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    nembMemo.keysIterator.filter(_._1.sparkContext.isStopped)
      .foreach(nembMemo.remove)
    nembMemo.getOrElseUpdate((s, dir), {
      registerFns(s)
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          expr(dotSpark("embedding", "embedding")).as("nrm"))
        .localCheckpoint()
    })
  }

  /** Every vector's single nearest cell under the coarse quantizer —
    * argmax quantized sub-dot, cell-asc tie-break (the SemDeDup / q145
    * assignment; IVF probing uses [[ivfTopKOf]]'s multi-cell variant).
    * Returns (vec_id, cell). `e` needs (vec_id, label, embedding).
    */
  private[graft] def cellAssignmentsOf(s: SparkSession, e: DataFrame): DataFrame =
    cellAssignmentsWith(s, e, cellCentroidsOf(s, e))

  /** [[cellAssignmentsOf]] against a CALLER-SUPPLIED centroid table —
    * the dir-based memo paths pass the memoized coarse quantizer so the
    * centroid aggregate is not re-planned per build (round 17).
    */
  private def cellAssignmentsWith(s: SparkSession, e: DataFrame,
      cent: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    registerFns(s)
    val w1 = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("cell").asc)
    e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cell"),
        expr("quantized_dot(embedding, cav)").as("score"))
      .withColumn("rn", row_number().over(w1))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cell"))
  }

  /** The dir's coarse quantizer (k centroid rows), memoized per
    * (session, dir) like [[trainedBooksFor]] (round 17): centroids are
    * an OFFLINE index artifact — q41, q170, the SemDeDup assignment
    * build, and every probe-scoring pass read the same k-row table, and
    * re-running the n×64 component aggregate per query invocation was
    * pure waste. k rows — trivially small, one checkpoint per dir.
    */
  private val centMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private[graft] def cellCentroidsFor(s: SparkSession, dir: String): DataFrame = {
    centMemo.keysIterator.filter(_._1.sparkContext.isStopped)
      .foreach(centMemo.remove)
    centMemo.getOrElseUpdate((s, dir), {
      registerFns(s)
      cellCentroidsOf(s, Tables.load(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism, col("vec_id")))
        .localCheckpoint()
    })
  }

  /** The embeddings table's cell assignment, memoized per
    * (session, dir) with the [[trainedBooksFor]] policy: q145,
    * the bench's scale-stats pass, and any repeated SemDeDup run score
    * the SAME deterministic argmax — re-running the n×k centroid
    * cross-score for identical output is pure waste (it was the
    * single largest stage in the round-13 q145 probe: 1.1 s warm).
    */
  private val assignMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private[graft] def cellAssignmentsFor(s: SparkSession,
      dir: String): DataFrame = {
    assignMemo.keysIterator.filter(_._1.sparkContext.isStopped)
      .foreach(assignMemo.remove)
    assignMemo.getOrElseUpdate((s, dir), {
      val e = Tables.load(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      cellAssignmentsWith(s, e, cellCentroidsFor(s, dir)).localCheckpoint()
    })
  }

  /** SemDeDup's scale arithmetic, measured (bench support): cells k,
    * within-cell pair count Σ_c C(n_c,2) — the pairs q145 actually
    * scores — and the all-pairs C(n,2) a naive semantic dedup would
    * score. The ratio is the operator's reason to exist (≈ 1/k on
    * balanced cells; raise k at scale to hold it down).
    */
  def semDedupCellStats(s: SparkSession, dir: String): (Long, Long, Long) = {
    val sizes = cellAssignmentsFor(s, dir)
      .groupBy(col("cell")).agg(count(lit(1)).as("nc"))
      .agg(count(lit(1)).as("k"),
        sum(expr("nc * (nc - 1) div 2")).as("within"),
        sum(col("nc")).as("n"))
      .collect()(0)
    val n = sizes.getLong(2)
    (sizes.getLong(0), sizes.getLong(1), n * (n - 1) / 2)
  }

  /** The un-memoized SemDeDup directed edge pipeline (vec_a < vec_b,
    * within-cell cosine at or above [[semDedupCos]]) — kept callable so
    * the memo-parity spec can compare a fresh build against
    * [[semDedupUndFor]], the same move as `Dedup.minhashEdgesFresh`.
    */
  private[graft] def semDedupEdgesFresh(s: SparkSession,
      dir: String): DataFrame = {
    val assign = cellAssignmentsFor(s, dir)
    val nemb = normedEmbeddings(s, dir)
    assign.select(col("vec_id").as("vec_a"), col("cell"))
      .join(assign.select(col("vec_id").as("vec_b"), col("cell")), "cell")
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .join(nemb.select(col("vec_id").as("vec_a"),
        col("embedding").as("ae"), col("nrm").as("na")), "vec_a")
      .join(nemb.select(col("vec_id").as("vec_b"),
        col("embedding").as("be"), col("nrm").as("nb")), "vec_b")
      .withColumn("cos", expr(
        s"""cast(${dotSpark("ae", "be")} as double) /
            sqrt(cast(na as double) * cast(nb as double))"""))
      .filter(col("cos") >= semDedupCos)
      .select(col("vec_a"), col("vec_b"))
  }

  /** The SemDeDup candidate graph (both directions of the cosine edge
    * set), memoized per (session, dir) with the same policy as
    * `Dedup.minhashEdges`: the edge set IS the dedup index —
    * deterministic in the inputs — and re-running the within-cell
    * cosine join per invocation was 0.9 s of q145's 4.1 s warm pass
    * (round-17 probe) for identical output. The directed-edge
    * checkpoint exists only so the union reads the join once; it
    * retires as soon as the undirected copy is materialized.
    */
  private val undMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private[graft] def semDedupUndFor(s: SparkSession, dir: String): DataFrame = {
    undMemo.keysIterator.filter(_._1.sparkContext.isStopped)
      .foreach(undMemo.remove)
    undMemo.getOrElseUpdate((s, dir), {
      val edges = semDedupEdgesFresh(s, dir).localCheckpoint()
      val und = edges.select(col("vec_a").as("src"), col("vec_b").as("dst"))
        .unionAll(edges.select(col("vec_b").as("src"), col("vec_a").as("dst")))
        .localCheckpoint()
      Checkpoints.free(edges)
      und
    })
  }

  /** Propagation hops per materialization in [[semanticDedupOf]]: it
    * trades keyed shuffles per round against driver-action rounds
    * (identical fixpoint for ANY value — min-label propagation is
    * monotone and the convergence probe is exact). The round-17 probe
    * read 3/4/6 hops as a tie within host noise (2.93 / 2.96 / 2.80 s
    * warm), so the round-16 value 3 stays: fewer wasted post-fixpoint
    * hops (3 rounds x 3 = 9 vs 2 x 6 = 12 for the same depth-6
    * components) and smaller per-round plans at scale.
    */
  private val SemDedupHopsPerRound = 3

  /** q145's implementation (SemDeDup): cell assignment → within-cell
    * cosine edges → min-label propagation → kept flags.
    */
  private[graft] def semanticDedupOf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
    // min-label propagation over the cell-scoped edge set (the q44
    // iteration: one keyed shuffle per round, labels checkpointed,
    // scalar convergence test — nothing collects to the driver).
    // Per-round driver actions are the loop's real cost at any scale
    // (each is a full job round trip): labels only DECREASE, so the
    // exact DECIMAL(38,0) label sum is strictly monotone until the
    // fixpoint — ONE aggregate action per round both materializes the
    // lazy checkpoint and answers convergence, replacing the previous
    // eager-checkpoint action + join-and-count probe (two actions, one
    // of them a shuffle join). The round-13 probe put the loop at 3.0
    // of q145's 5.7 s.
    val und = semDedupUndFor(s, dir)
    var lbl = und.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint()
    def lblSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(expr("cast(lbl as decimal(38,0))"))).collect()(0)
        .getDecimal(0)
    var prevSum = lblSum(lbl)
    // a corpus where NO pair reaches semDedupCos has no edges, no
    // labels, and a NULL label sum — already at the fixpoint (every
    // vector is its own cluster); entering the loop would NPE on the
    // null-vs-null compareTo
    var converged = prevSum == null
    var iter = 0
    while (!converged && iter < 50) {
      // MULTIPLE propagation hops per materialization/action (round
      // 16 measured 3 as the optimum; round 17 re-probed 4 and 6 —
      // tie within noise, see semanticDedupOf doc):
      // per-round cost at any scale is the driver action + checkpoint
      // round trip, not the tiny keyed shuffles — chaining hops
      // before the convergence check converges in ceil(d/hops)+1
      // rounds with the identical min-label fixpoint (r16 measured
      // 7 rounds -> 3 at hops=3, q145 loop 2.5 s -> 1.9 s; the probes
      // pinned equal label checksums). Each hop is still one keyed
      // shuffle — nothing grows with corpus size.
      var cur = lbl
      for (_ <- 1 to SemDedupHopsPerRound) {
        val prop = und.join(cur, und("src") === cur("id"))
          .select(col("dst").as("id"), col("lbl"))
        cur = cur.unionAll(prop)
          .groupBy(col("id")).agg(min(col("lbl")).as("lbl"))
      }
      val next = cur
        .localCheckpoint(false) // lazy: materialized by the sum below
      val nextSum = lblSum(next)
      // a DECIMAL(38,0) overflow under non-ANSI sum semantics would
      // surface as a NULL sum mid-loop — fail loud, never NPE on the
      // compareTo below (defensive: headroom is ~2^60 × corpus size)
      require(nextSum != null,
        "q145 label-sum overflowed decimal(38,0) — convergence probe invalid")
      // the sum above materialized `next`; the superseded iterate's
      // blocks retire immediately (one label generation live)
      Checkpoints.free(lbl)
      lbl = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iter += 1
    }
    // `und` is the session-memoized candidate graph — it stays live
    // for the next invocation (the minhashEdges policy). The final
    // `lbl` rides the one-generation pool: it lives until the next
    // semanticDedup run, by which point this run's result has been
    // consumed (build-then-consume discipline).
    Checkpoints.retireSwap(s, "semdedup_labels", lbl)
    e.select(col("vec_id"))
      .join(lbl.select(col("id").as("vec_id"), col("lbl")), Seq("vec_id"),
        "left")
      .select(col("vec_id"), expr("coalesce(lbl, vec_id)").as("cluster_id"))
      .withColumn("kept", expr("cast(vec_id = cluster_id as int)"))
      .orderBy(col("vec_id"))
  }

  /** IVF top-k over an arbitrary corpus frame: per-label centroids as
    * the coarse quantizer, every vector assigned to its nearest cell,
    * queries (vec_id < nQueries) probing their `nprobe` nearest cells,
    * exact quantized-cosine rescoring + per-query top-k. q41 runs this
    * on the embeddings table at [[IvfNprobe]]; the spec's recall law
    * runs it on a boundary-heavy synthetic corpus at nprobe 1 vs 4.
    * `emb` needs (vec_id, label, embedding); `nemb` is its normed
    * companion (vec_id, embedding, nrm).
    */
  private[graft] def ivfTopKOf(s: SparkSession, e: DataFrame,
      nemb: DataFrame, nprobe: Int,
      assign0: Option[DataFrame] = None,
      cent0: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    registerFns(s)
    val centArr = cent0.getOrElse(cellCentroidsOf(s, e))
    // Corpus assignment (round 17): the dir-based callers pass the
    // MEMOIZED assignment — in a real IVF index the corpus-to-cell map
    // IS the persisted inverted list, and the old shape re-scored ALL
    // n vectors × k cells (plus an n-row window) on every invocation
    // just to re-derive it. Spec fixtures still compute it fresh.
    val assign = assign0.getOrElse(cellAssignmentsWith(s, e, centArr))
      .select(col("vec_id").as("nid"), col("cell"))
    // the QUERY probe set scores only the nQueries query vectors — a
    // q×k cross join, not n×k
    val w1 = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("cell").asc)
    val probes = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("cell"),
        expr("quantized_dot(embedding, cav)").as("score"))
      .withColumn("rn", row_number().over(w1))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("qid"), col("cell"))
    // a corpus vector lives in exactly ONE cell, so probing several
    // cells cannot duplicate a (qid, nid) candidate
    val cand = probes.join(assign, "cell")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"))
    val w2 = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid").asc)
    cand
      .join(nemb.select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn")), "qid")
      .join(nemb.select(col("vec_id").as("nid"), col("embedding").as("ne"),
        col("nrm").as("nn")), "nid")
      .withColumn("cos", expr(
        s"""cast(${dotSpark("qe", "ne")} as double) /
            sqrt(cast(qn as double) * cast(nn as double))"""))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("nid"), col("rank"), col("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** (vec_id, cell, j, sc): quantized 8-dim sub-dots of each vector
    * against every codebook entry, per subspace j ∈ [0, 8) — PQ's
    * shared building block (both the code assignment and the query
    * LUTs read it). Sub-dots of every (slice, codebook entry) pair
    * against the TRAINED per-subspace books from [[pqTrainedBooks]].
    * Shared by q166 and q170 — and mirrored by ONE oracle CTE block,
    * so the two cannot drift.
    */
  private def pqSubScores(slices: DataFrame, book: DataFrame): DataFrame =
    slices.join(broadcast(book), Seq("j"))
      .select(col("vec_id"), col("cell"), col("j"),
        expr("quantized_dot(sv, bk)").as("sc"))

  /** PQ code assignment: per (vector, subspace) the argmax sub-dot
    * codebook entry, cell-asc tie-break → (nid, j, code).
    */
  private def pqCodes(sub: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wCode = Window.partitionBy(col("vec_id"), col("j"))
      .orderBy(col("sc").desc, col("cell").asc)
    sub.withColumn("rn", row_number().over(wCode))
      .filter(col("rn") === 1)
      .select(col("vec_id").as("nid"), col("j"), col("cell").as("code"))
  }

  /** The q166 PQ/ADC pipeline over an arbitrary (vec_id, label,
    * embedding) frame with a CALLER-SUPPLIED codebook — what lets the
    * SimilaritySpec recall law compare trained books against the
    * sliced init on a synthetic fixture.
    */
  private[graft] def pqAdcTopKOf(s: SparkSession, emb: DataFrame,
      nemb: DataFrame, book: DataFrame, nQ: Long): DataFrame = {
    registerFns(s)
    val slices = pqSlices(emb)
    val sub = pqSubScores(slices, book)
    val codes = pqCodes(sub)
    val lut = sub.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("j"), col("cell"), col("sc"))
    val adc = codes
      .join(broadcast(lut),
        col("code") === col("cell") && codes("j") === lut("j"))
      .filter(col("qid") =!= col("nid"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("sc")).as("adc"))
    adcRescoreTopK(adc, nemb)
  }

  /** The ADC tail shared by q166/q170: shortlist the top-10 per query
    * by ADC score (nid-asc ties), rescore those exactly, and emit the
    * top-k by true cosine with the ADC score riding.
    */
  private def adcRescoreTopK(adc: DataFrame, nemb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wShort = Window.partitionBy(col("qid"))
      .orderBy(col("adc").desc, col("nid").asc)
    val shortlist = adc
      .withColumn("srn", row_number().over(wShort))
      .filter(col("srn") <= 10)
      .select(col("qid"), col("nid"), col("adc"))
    val wFinal = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid").asc)
    shortlist
      .join(nemb.select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn")), "qid")
      .join(nemb.select(col("vec_id").as("nid"), col("embedding").as("ne"),
        col("nrm").as("nn")), "nid")
      .withColumn("cos", expr(
        s"""cast(${dotSpark("qe", "ne")} as double) /
            sqrt(cast(qn as double) * cast(nn as double))"""))
      .withColumn("rank", row_number().over(wFinal))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("nid"), col("rank"), col("cos"), col("adc"))
      .orderBy(col("qid"), col("rank"))
  }

  /** (vec_id, band, chunk) LSH bucket assignments for the whole corpus:
    * ONE codegen hash-aggregate builds the 32-plane signature, then a
    * 4-way band explode. Shared by q22 (query-vs-corpus ANN) and q40
    * (corpus-level near-dup pairs); materialized once because both
    * consumers read it on two join sides. Memoized per (session, dir)
    * since round 15 (deterministic output; the per-call checkpoints
    * were part of the retired-block accumulation the r14 bench hit).
    */
  private val lshMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private def lshBands(s: SparkSession, dir: String): DataFrame = {
    lshMemo.keysIterator.filter(_._1.sparkContext.isStopped)
      .foreach(lshMemo.remove)
    lshMemo.getOrElseUpdate((s, dir), lshBandsOf(s, dir))
  }
  private def lshBandsOf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
    val vals = e
      .select(col("vec_id"), col("embedding"),
        explode(expr("sequence(1, 64)")).as("dim"))
      .select(col("vec_id"), col("dim"),
        expr("cast(element_at(embedding, dim) as double)").as("x"))
    val planeSums = (0 until 32).map(h =>
      expr(s"sum(cast(floor(x * element_at(${signsSpark(h)}, dim) * cast(1000000 as double)) as bigint))")
        .as(s"p$h"))
    val chunks = (0 until 4).map { b =>
      (0 until 8).map(k =>
        s"(case when p${8 * b + k} > 0 then ${1 << (7 - k)} else 0 end)")
        .mkString(" + ")
    }
    val sig = vals.groupBy(col("vec_id"))
      .agg(planeSums.head, planeSums.tail: _*)
    val bandStructs = (0 until 4)
      .map(b => s"struct($b as band, ${chunks(b)} as chunk)")
      .mkString("array(", ", ", ")")
    sig.select(col("vec_id"), explode(expr(bandStructs)).as("bc"))
      .select(col("vec_id"), col("bc.band"), col("bc.chunk"))
      .localCheckpoint()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-label embedding diversity in O(n): mean pairwise cosine via
    // the sum-vector identity (|Σq|² − Σ|q|²) / (n(n−1)) over unit-
    // normalized, integer-quantized vectors — the corpus-diversity
    // measurement a naive implementation pays O(n²) pairs for, here
    // two hash-aggregates over one 64-way dim explode. Quantization at
    // 1e4 keeps every per-dim sum-square ≤ ~2.5e13·64 exactly in int64
    // (headroom to ~100× the per-label count; past that, re-quantize
    // or subgroup). Fully integer until one fixed-form division, so
    // the APPROXIMATE (quantized) diversity score is oracle-gated
    // bit-for-bit.
    "q70_label_diversity" -> ((s, dir) => {
      registerFns(s)
      val e = Tables.load(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id"), col("label"), col("embedding"),
          expr(dotSpark("embedding", "embedding")).as("nrm"))
      val ex = e
        .select(col("label"), col("vec_id"), col("embedding"), col("nrm"),
          explode(expr("sequence(1, 64)")).as("dim"))
        .select(col("label"), col("vec_id"), col("dim"),
          expr("""cast(floor((cast(element_at(embedding, dim) as double)
              / sqrt(cast(nrm as double) / cast(1000000 as double)))
              * cast(10000 as double)) as bigint)""").as("q"))
      val perDim = ex.groupBy(col("label"), col("dim"))
        .agg(sum(col("q")).as("sd"))
      val s2 = perDim.groupBy(col("label"))
        .agg(sum(expr("sd * sd")).as("sum_sd2"))
      val perLabel = ex.groupBy(col("label"))
        .agg(countDistinct(col("vec_id")).as("n"),
          sum(expr("q * q")).as("sum_q2"))
      s2.join(perLabel, "label")
        .select(col("label"), col("n"), col("sum_sd2"), col("sum_q2"),
          expr("""case when n > 1
              then cast(sum_sd2 - sum_q2 as double)
                / (cast(n * (n - 1) as double) * cast(100000000 as double))
              else cast(null as double) end""").as("mean_pairwise_cos"))
        .orderBy(col("label"))
    }),

    // Brute-force cosine top-k: Q query vectors against the full corpus.
    // Q rows broadcast; corpus side streams — one pass, no shuffle before
    // the per-query top-k.
    "q21_cosine_topk" -> ((s, dir) => {
      registerFns(s)
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .withColumn("nq", expr(dotSpark("qe", "qe")))
      val c = e.select(col("vec_id").as("nid"), col("embedding").as("ne"))
        .withColumn("nn", expr(dotSpark("ne", "ne")))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("nid").asc)
      broadcast(q).crossJoin(c)
        .filter(col("qid") =!= col("nid"))
        .withColumn("cos", expr(
          s"cast(${dotSpark("qe", "ne")} as double) / sqrt(cast(nq as double) * cast(nn as double))"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= topK)
        .select(col("qid"), col("nid"), col("rank"), col("cos"))
        .orderBy(col("qid"), col("rank"))
    }),

    // LSH ANN: 32-bit random-hyperplane signature, 4 bands x 8 bits.
    // The signature is ONE whole-stage-codegen hash-aggregate (explode
    // dims -> 32 sign-weighted quantized sums), not an interpreted
    // higher-order lambda; the band self-join carries only
    // (vec_id, band, chunk); embeddings rejoin AFTER candidate-pair
    // dedup for exact re-scoring; per-query top-k.
    "q22_ann_lsh" -> ((s, dir) => {
      val bands = lshBands(s, dir)
      val cand = bands.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("band"), col("chunk"))
        .join(bands.select(col("vec_id").as("nid"), col("band"), col("chunk")),
          Seq("band", "chunk"))
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"))
        .distinct()
      // Norms once per VECTOR (not per pair): the interpreted quantized
      // dot is the expensive part of rescoring, so the pair stage pays
      // exactly one (the q·n product); self-norms ride the rejoin.
      val emb = normedEmbeddings(s, dir)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("nid").asc)
      cand
        .join(emb.select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("nrm").as("qn")), "qid")
        .join(emb.select(col("vec_id").as("nid"), col("embedding").as("ne"),
          col("nrm").as("nn")), "nid")
        .withColumn("cos", expr(
          s"""cast(${dotSpark("qe", "ne")} as double) /
              sqrt(cast(qn as double) * cast(nn as double))"""))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= topK)
        .select(col("qid"), col("nid"), col("rank"), col("cos"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Native-expression variant of cosine top-k: the codegen'd
    // CosineSimilarity expression computes plain-double cosines (fused
    // dot/norm loop inside the generated stage). ORACLE-GATED since
    // round 16: the plain-double sum itself is not bit-portable to
    // DuckDB, so the EMITTED score is the quantized-integer cosine
    // (the q21 construction — exact integer dots, one double division)
    // and the native expression gates every row through a consistency
    // filter |cos_native − cos_quantized| < 1e-3 (the quantization gap
    // is ≤ ~2e-4 on this corpus, so a correct expression passes all
    // rows and the oracle — which has no native side — matches
    // bit-for-bit; a wrong expression drops rows and the hash goes
    // red). FunctionsSpec additionally pins the raw double against a
    // reference implementation.
    "q38_cosine_native" -> ((s, dir) => {
      registerFns(s)
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .withColumn("nq", expr(dotSpark("qe", "qe")))
      val c = e.select(col("vec_id").as("nid"), col("embedding").as("ne"))
        .withColumn("nn", expr(dotSpark("ne", "ne")))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("nid").asc)
      broadcast(q).crossJoin(c)
        .filter(col("qid") =!= col("nid"))
        .withColumn("cos", expr(
          s"cast(${dotSpark("qe", "ne")} as double) / sqrt(cast(nq as double) * cast(nn as double))"))
        .withColumn("cos_native",
          graft.functions.GraftFunctions.cosineSimilarity(col("qe"), col("ne")))
        .filter(expr("abs(cos_native - cos) < 0.001"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= topK)
        .select(col("qid"), col("nid"), col("rank"), col("cos"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Embedding-cosine near-duplicate pairs over the WHOLE corpus — the
    // fifth dedup modality (exact / MinHash-LSH / Jaccard / SimHash /
    // embedding-cosine). Candidates come from the same 4x8-bit
    // random-hyperplane banding as q22 (id-only self-join, so the band
    // exchange carries 3 ints/row and within-bucket work is n/256 per
    // band — near-linear overall); embeddings rejoin after candidate
    // dedup for exact quantized-cosine re-scoring against the threshold.
    "q40_embed_neardup" -> ((s, dir) => {
      val bands = lshBands(s, dir)
      val cand = bands.select(col("vec_id").as("vec_a"), col("band"), col("chunk"))
        .join(bands.select(col("vec_id").as("vec_b"), col("band"), col("chunk")),
          Seq("band", "chunk"))
        .filter(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"))
        .distinct()
      val emb = normedEmbeddings(s, dir)
      cand
        .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("ae"),
          col("nrm").as("na")), "vec_a")
        .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("be"),
          col("nrm").as("nb")), "vec_b")
        .withColumn("cos", expr(
          s"""cast(${dotSpark("ae", "be")} as double) /
              sqrt(cast(na as double) * cast(nb as double))"""))
        .filter(col("cos") >= nearDupCos)
        .select(col("vec_a"), col("vec_b"), col("cos"))
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // IVF top-k search — the inverted-file ANN scale path: per-label
    // centroids form the coarse quantizer (the q23 building block made
    // whole), EVERY vector is assigned to its nearest centroid, and a
    // query probes its IvfNprobe nearest cells (multi-probe: the
    // nprobe=1 recall cliff at cell boundaries is the known IVF
    // failure mode) — candidate volume is nprobe·n/k instead of n,
    // then exact quantized-cosine rescoring + top-k. The assignment
    // scores each (vector, cell) pair with ONE fused quantized_dot
    // against the float-rounded centroid array (n×k rows through the
    // window, the centroid table is k rows and broadcast), feeding
    // BOTH the corpus assignment (rn=1) and the query probe set
    // (rn<=nprobe) from a single pass.
    "q41_ivf_topk" -> ((s, dir) => {
      registerFns(s)
      val e = Tables.load(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      // memoized inverted list + coarse quantizer (round 17): per-call
      // work drops to the q×k probe scoring + candidate rescore
      ivfTopKOf(s, e, normedEmbeddings(s, dir), IvfNprobe,
        Some(cellAssignmentsFor(s, dir)), Some(cellCentroidsFor(s, dir)))
    }),

    // PRODUCT-QUANTIZED (PQ/ADC) top-k (round 11; TRAINED codebooks
    // round 12) — the compressed-domain ANN pattern behind every
    // billion-scale index: the 64-dim space splits into 8 subspaces of
    // 8 dims; each subspace's codebook is k-means-TRAINED (Lloyd
    // iterations under the encoder's own max-inner-product objective,
    // initialized from the per-label centroid slices — every iterate
    // the same float-rounded quantized-mean arithmetic, so the whole
    // training run is DuckDB-re-derivable); every vector encodes as
    // 8 small codes (argmax sub-dot per subspace, cell-asc tie-break).
    // A query then scores the WHOLE corpus by Asymmetric Distance
    // Computation: its 8×k lookup table of sub-dots broadcasts, and
    // each candidate costs 8 integer adds against 8-byte codes instead
    // of 64 float multiplies against 256-byte vectors — the 32×
    // memory-bandwidth reduction is what makes an exhaustive scan
    // feasible at scale (and composes with q41's IVF partitioning).
    // The ADC top-10 shortlist is exactly rescored and the top-3 by
    // true cosine emitted; every stage is exact integer arithmetic, so
    // codes, ADC scores, and the final ranks all hash-match DuckDB.
    "q166_pq_adc_topk" -> ((s, dir) => {
      registerFns(s)
      val e = Tables.load(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      // round 17: codes come from the memoized index artifact
      // (pqCodesFor — built once with the codebooks, as a real PQ index
      // persists them); per-call work is the queries' own LUT plus the
      // exhaustive compressed-domain ADC scan the query declares.
      val book = trainedBooksFor(s, dir)
      val codes = pqCodesFor(s, dir)
      // the queries' LUT: their own sub-dots against every codebook entry
      val lut = pqSubScores(
        pqSlices(e.filter(col("vec_id") < nQueries)), book)
        .select(col("vec_id").as("qid"), col("j"), col("cell"), col("sc"))
      val adc = codes
        .join(broadcast(lut),
          col("code") === col("cell") && codes("j") === lut("j"))
        .filter(col("qid") =!= col("nid"))
        .groupBy(col("qid"), col("nid"))
        .agg(sum(col("sc")).as("adc"))
      adcRescoreTopK(adc, normedEmbeddings(s, dir))
    }),

    // IVF + PQ COMPOSED (round 11): the complete billion-scale ANN
    // pipeline in one query — the coarse quantizer restricts each query
    // to its IvfNprobe nearest cells' members (q41's probe machinery),
    // ADC scores ONLY those candidates from the 8-byte PQ codes against
    // the broadcast lookup table (q166's compressed-domain scan), the
    // ADC top-10 shortlist rescores exactly, and the top-3 by true
    // cosine emit. Per-query work drops from n (PQ-brute) to
    // nprobe·n/k code lookups — the multiplicative composition of both
    // reductions that real IVFPQ indexes run. Every stage stays exact
    // integer arithmetic, so the composed chain hash-matches DuckDB.
    "q170_ivfpq_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      registerFns(s)
      val e = Tables.load(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      // round 17: the corpus-to-cell map comes from the MEMOIZED
      // inverted-list artifact (cellAssignmentsFor — in a real IVFPQ
      // index it is persisted alongside the codes), and only the
      // nQueries query vectors are scored per call (q×k, not the old
      // n×k pass + n-row window + per-call checkpoint).
      val cent = cellCentroidsFor(s, dir)
      val assign = cellAssignmentsFor(s, dir)
        .select(col("vec_id").as("nid"), col("cell").as("acell"))
      val w1 = Window.partitionBy(col("vec_id"))
        .orderBy(col("score").desc, col("cell").asc)
      val probes = e.filter(col("vec_id") < nQueries)
        .select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(cent))
        .select(col("vec_id"), col("cell"),
          expr("quantized_dot(embedding, cav)").as("score"))
        .withColumn("rn", row_number().over(w1))
        .filter(col("rn") <= IvfNprobe)
        .select(col("vec_id").as("qid"), col("cell").as("acell"))
      val cand = probes.join(assign, "acell")
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"))
      // round 17: candidate codes come from the MEMOIZED pqCodesFor
      // table — a real IVFPQ index stores the codes next to the
      // inverted list, so per-call encode work drops to the queries'
      // own LUT (the round-16 shape re-encoded the candidate set every
      // invocation: a needed-semi-join + n_cand×8×k sub-dots + the
      // argmax window, per call)
      val book = trainedBooksFor(s, dir)
      val codes = pqCodesFor(s, dir)
      val lut = pqSubScores(
        pqSlices(e.filter(col("vec_id") < nQueries)), book)
        .select(col("vec_id").as("qid"), col("j"), col("cell"), col("sc"))
      val adc = cand
        .join(codes, "nid")
        .join(broadcast(lut),
          col("code") === lut("cell") && codes("j") === lut("j") &&
            cand("qid") === lut("qid"))
        .groupBy(cand("qid"), col("nid"))
        .agg(sum(col("sc")).as("adc"))
      adcRescoreTopK(adc, normedEmbeddings(s, dir))
    }),

    // SEMANTIC dedup (SemDeDup-style, round 11): the sixth dedup
    // modality — embedding-cluster-scoped near-duplicate REMOVAL, the
    // step that turns similarity infrastructure into a training-set
    // curation operator. Every vector is assigned to its nearest
    // centroid cell (the q41 coarse quantizer: one n×k scoring pass,
    // k-row centroid table broadcast), candidate pairs form ONLY
    // within a cell (Σ_c C(n_c, 2) ≈ n²/2k pairs — never all-pairs; at
    // 100 TB you raise k so cells stay bounded and the pair volume
    // stays near-linear), exact quantized-cosine rescoring keeps pairs
    // at or above the threshold, and min-label propagation (the q44
    // component machinery) collapses them into duplicate clusters.
    // Output: every vector with its cluster id and a kept flag — the
    // cluster representative (min vec_id — exactly the propagated
    // label's fixpoint) survives, the rest are the rows a curation
    // pipeline drops. Cross-cell near-dups are missed BY DESIGN —
    // SemDeDup's documented recall trade for never materializing the
    // all-pairs join.
    "q145_semantic_dedup" -> ((s, dir) => semanticDedupOf(s, dir)),

    // Per-label centroid statistics (the building block of IVF coarse
    // quantization): quantized component sums -> mean -> L2 norm.
    "q23_label_centroids" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val comp = e.select(col("label"), col("embedding"),
        explode(expr("sequence(1, 64)")).as("dim"))
        .select(col("label"), col("dim"),
          expr("cast(floor(cast(element_at(embedding, dim) as double) * 1000000) as bigint)")
            .as("vq"))
      val avgs = comp.groupBy(col("label"), col("dim"))
        .agg(sum(col("vq")).as("sv"), count(lit(1)).as("n"))
        .withColumn("av", expr("cast(sv as double) / 1000000 / n"))
      avgs.groupBy(col("label"))
        .agg(
          max(col("n")).as("n_vecs"),
          expr("sqrt(cast(sum(cast(floor(av * av * 1000000000000) as bigint)) as double)) / 1000000")
            .as("centroid_norm"))
        .orderBy(col("label"))
    })
  )

  /** DuckDB CTE chain computing the (vec_id, band, chunk) LSH buckets —
    * the oracle-side mirror of [[lshBands]], shared by q22 and q40.
    */
  /** Shared PQ oracle text (q166/q170): the q41 centroid chain, the
    * UNROLLED per-subspace Lloyd training (one assign/update pair per
    * [[PqTrainIters]], generated from the same constant so iteration
    * counts cannot drift), the per-subspace sub-dots against the
    * trained books, and the code assignment — one block so the two
    * oracles cannot drift. The update mirrors the engine exactly:
    * quantized integer sums → exact-in-double mean → float-rounded;
    * codebook entries with no assigned slices keep their previous
    * value (LEFT JOIN + COALESCE — the engine's empty-cell rule).
    */
  private def duckPqBase: String = {
    val lloyd = (1 to PqTrainIters).map { t =>
      val prev = s"b${t - 1}"
      s"""s$t AS (SELECT xs.vec_id, $prev.cell, (xs.dim - 1) // 8 AS j,
            CAST(sum(CAST(floor(x * av * 1000000) AS BIGINT)) AS BIGINT) AS sc
          FROM xs JOIN $prev ON xs.dim = $prev.dim GROUP BY 1, 2, 3),
        a$t AS (SELECT vec_id, j, cell FROM (
            SELECT vec_id, j, cell,
              row_number() OVER (PARTITION BY vec_id, j ORDER BY sc DESC, cell ASC) AS rn
            FROM s$t) WHERE rn = 1),
        u$t AS (SELECT a$t.cell, xs.dim,
            CAST(CAST(CAST(CAST(sum(CAST(floor(x * 1000000) AS BIGINT)) AS BIGINT) AS DOUBLE)
              / 1000000 / count(*) AS FLOAT) AS DOUBLE) AS av
          FROM xs JOIN a$t ON xs.vec_id = a$t.vec_id
            AND (xs.dim - 1) // 8 = a$t.j
          GROUP BY a$t.cell, xs.dim),
        b$t AS (SELECT $prev.cell, $prev.dim, COALESCE(u$t.av, $prev.av) AS av
          FROM $prev LEFT JOIN u$t
            ON $prev.cell = u$t.cell AND $prev.dim = u$t.dim)"""
    }.mkString(",\n        ")
    val bT = s"b$PqTrainIters"
    s"""xsrc AS (SELECT vec_id, unnest(generate_series(1, 64)) AS dim, embedding FROM embeddings),
        xs AS (SELECT vec_id, dim, CAST(embedding[dim] AS DOUBLE) AS x FROM xsrc),
        csrc AS (SELECT label, unnest(generate_series(1, 64)) AS dim, embedding FROM embeddings),
        cv AS (SELECT label, dim,
            CAST(floor(CAST(embedding[dim] AS DOUBLE) * 1000000) AS BIGINT) AS vq
          FROM csrc),
        cent AS (SELECT label AS cell, dim,
            CAST(CAST(sum(vq) AS BIGINT) AS DOUBLE) / 1000000 / count(*) AS av
          FROM cv GROUP BY label, dim),
        centf AS (SELECT cell, dim, CAST(CAST(av AS FLOAT) AS DOUBLE) AS av FROM cent),
        b0 AS (SELECT cell, dim, av FROM centf),
        $lloyd,
        sub AS (SELECT xs.vec_id, $bT.cell, (xs.dim - 1) // 8 AS j,
            CAST(sum(CAST(floor(x * av * 1000000) AS BIGINT)) AS BIGINT) AS sc
          FROM xs JOIN $bT ON xs.dim = $bT.dim GROUP BY 1, 2, 3),
        codes AS (SELECT vec_id AS nid, j, cell AS code FROM (
            SELECT vec_id, j, cell,
              row_number() OVER (PARTITION BY vec_id, j ORDER BY sc DESC, cell ASC) AS rn
            FROM sub) WHERE rn = 1)"""
  }

  /** Shared ADC tail (q166/q170): shortlist, exact rescore, final
    * projection — mirrors [[adcRescoreTopK]].
    */
  private def duckAdcTail: String =
    s"""short AS (SELECT qid, nid, adc FROM (
            SELECT qid, nid, adc,
              row_number() OVER (PARTITION BY qid ORDER BY adc DESC, nid ASC) AS srn
            FROM adc) WHERE srn <= 10),
        nemb AS (SELECT vec_id, embedding, ${dotDuck("embedding", "embedding")} AS nrm FROM embeddings),
        we AS (SELECT qid, nid, adc, eq.embedding AS qe, en.embedding AS ne,
            eq.nrm AS qn, en.nrm AS nn
          FROM short JOIN nemb eq ON short.qid = eq.vec_id
                     JOIN nemb en ON short.nid = en.vec_id),
        scoredf AS (SELECT qid, nid, adc,
          CAST(${dotDuck("qe", "ne")} AS DOUBLE) /
            sqrt(CAST(qn AS DOUBLE) * CAST(nn AS DOUBLE)) AS cos
          FROM we),
        ranked AS (SELECT qid, nid, adc, cos,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
          FROM scoredf)
        SELECT qid, nid, CAST(rank AS INT) AS rank, cos, adc
        FROM ranked WHERE rank <= $topK ORDER BY qid, rank"""

  private def duckBandCtes: String = {
    val planeSums = (0 until 32).map(h =>
      s"sum(CAST(floor(x * (${signsDuck(h)})[dim] * CAST(1000000 AS DOUBLE)) AS BIGINT)) AS p$h")
      .mkString(", ")
    val chunkList = (0 until 4).map { b =>
      (0 until 8).map(k =>
        s"(CASE WHEN p${8 * b + k} > 0 THEN ${1 << (7 - k)} ELSE 0 END)")
        .mkString(" + ")
    }.mkString("[", ", ", "]")
    s"""vals AS (SELECT vec_id, unnest(generate_series(1, 64)) AS dim, embedding FROM embeddings),
        x AS (SELECT vec_id, dim, CAST(embedding[dim] AS DOUBLE) AS x FROM vals),
        sig AS (SELECT vec_id, $planeSums FROM x GROUP BY vec_id),
        bands AS (SELECT vec_id, unnest(generate_series(0, 3)) AS band, $chunkList AS chs FROM sig),
        ch AS (SELECT vec_id, band, chs[band + 1] AS chunk FROM bands),
        nemb AS (SELECT vec_id, embedding, ${dotDuck("embedding", "embedding")} AS nrm FROM embeddings)"""
  }

  val oracle: Map[String, String] = Map(
    "q70_label_diversity" ->
      s"""WITH e AS (SELECT vec_id, label, embedding,
              ${dotDuck("embedding", "embedding")} AS nrm
            FROM embeddings),
          ex AS (SELECT label, vec_id, dim,
              CAST(floor((CAST(embedding[dim] AS DOUBLE)
                / sqrt(CAST(nrm AS DOUBLE) / CAST(1000000 AS DOUBLE)))
                * CAST(10000 AS DOUBLE)) AS BIGINT) AS q
            FROM e, (SELECT unnest(generate_series(1, 64)) AS dim)),
          pd AS (SELECT label, dim, CAST(sum(q) AS BIGINT) AS sd
                 FROM ex GROUP BY label, dim),
          s2 AS (SELECT label, CAST(sum(sd * sd) AS BIGINT) AS sum_sd2
                 FROM pd GROUP BY label),
          pl AS (SELECT label, count(DISTINCT vec_id) AS n,
                   CAST(sum(q * q) AS BIGINT) AS sum_q2
                 FROM ex GROUP BY label)
          SELECT s2.label, n, sum_sd2, sum_q2,
            CASE WHEN n > 1
              THEN CAST(sum_sd2 - sum_q2 AS DOUBLE)
                / (CAST(n * (n - 1) AS DOUBLE) * CAST(100000000 AS DOUBLE))
              ELSE CAST(NULL AS DOUBLE) END AS mean_pairwise_cos
          FROM s2 JOIN pl ON s2.label = pl.label ORDER BY s2.label""",
    // q38: SAME oracle as q21 on purpose — the emitted score is the
    // quantized cosine, and the native-expression consistency filter
    // (|cos_native − cos| < 1e-3) passes every row iff the codegen'd
    // CosineSimilarity agrees with the portable arithmetic; a drifting
    // native cosine loses rows against this oracle and the gate trips.
    "q38_cosine_native" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe,
            ${dotDuck("embedding", "embedding")} AS nq
            FROM embeddings WHERE vec_id < $nQueries),
          c AS (SELECT vec_id AS nid, embedding AS ne,
            ${dotDuck("embedding", "embedding")} AS nn
            FROM embeddings),
          scored AS (SELECT qid, nid,
            CAST(${dotDuck("qe", "ne")} AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(nn AS DOUBLE)) AS cos
            FROM q CROSS JOIN c WHERE qid <> nid),
          ranked AS (SELECT qid, nid, cos,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
            FROM scored)
          SELECT qid, nid, CAST(rank AS INT) AS rank, cos
          FROM ranked WHERE rank <= $topK ORDER BY qid, rank""",
    "q21_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe,
            ${dotDuck("embedding", "embedding")} AS nq
            FROM embeddings WHERE vec_id < $nQueries),
          c AS (SELECT vec_id AS nid, embedding AS ne,
            ${dotDuck("embedding", "embedding")} AS nn
            FROM embeddings),
          scored AS (SELECT qid, nid,
            CAST(${dotDuck("qe", "ne")} AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(nn AS DOUBLE)) AS cos
            FROM q CROSS JOIN c WHERE qid <> nid),
          ranked AS (SELECT qid, nid, cos,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
            FROM scored)
          SELECT qid, nid, CAST(rank AS INT) AS rank, cos
          FROM ranked WHERE rank <= $topK ORDER BY qid, rank""",
    "q22_ann_lsh" ->
      s"""WITH $duckBandCtes,
          cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
            FROM ch q JOIN ch c ON q.band = c.band AND q.chunk = c.chunk
            WHERE q.vec_id < $nQueries AND q.vec_id <> c.vec_id),
          we AS (SELECT qid, nid, eq.embedding AS qe, en.embedding AS ne,
              eq.nrm AS qn, en.nrm AS nn
            FROM cand JOIN nemb eq ON cand.qid = eq.vec_id
                      JOIN nemb en ON cand.nid = en.vec_id),
          scored AS (SELECT qid, nid,
            CAST(${dotDuck("qe", "ne")} AS DOUBLE) /
              sqrt(CAST(qn AS DOUBLE) * CAST(nn AS DOUBLE)) AS cos
            FROM we),
          ranked AS (SELECT qid, nid, cos,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
            FROM scored)
          SELECT qid, nid, CAST(rank AS INT) AS rank, cos
          FROM ranked WHERE rank <= $topK ORDER BY qid, rank""",
    "q40_embed_neardup" ->
      s"""WITH $duckBandCtes,
          cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM ch a JOIN ch b ON a.band = b.band AND a.chunk = b.chunk
            WHERE a.vec_id < b.vec_id),
          we AS (SELECT vec_a, vec_b, ea.embedding AS ae, eb.embedding AS be,
              ea.nrm AS na, eb.nrm AS nb
            FROM cand JOIN nemb ea ON cand.vec_a = ea.vec_id
                      JOIN nemb eb ON cand.vec_b = eb.vec_id),
          scored AS (SELECT vec_a, vec_b,
            CAST(${dotDuck("ae", "be")} AS DOUBLE) /
              sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cos
            FROM we)
          SELECT vec_a, vec_b, cos FROM scored
          WHERE cos >= $nearDupCos ORDER BY vec_a, vec_b""",
    "q41_ivf_topk" ->
      s"""WITH xsrc AS (SELECT vec_id, unnest(generate_series(1, 64)) AS dim, embedding FROM embeddings),
          xs AS (SELECT vec_id, dim, CAST(embedding[dim] AS DOUBLE) AS x FROM xsrc),
          csrc AS (SELECT label, unnest(generate_series(1, 64)) AS dim, embedding FROM embeddings),
          cv AS (SELECT label, dim,
              CAST(floor(CAST(embedding[dim] AS DOUBLE) * 1000000) AS BIGINT) AS vq
            FROM csrc),
          cent AS (SELECT label AS cell, dim,
              CAST(CAST(sum(vq) AS BIGINT) AS DOUBLE) / 1000000 / count(*) AS av
            FROM cv GROUP BY label, dim),
          centf AS (SELECT cell, dim, CAST(CAST(av AS FLOAT) AS DOUBLE) AS av FROM cent),
          scores AS (SELECT xs.vec_id, centf.cell,
              CAST(sum(CAST(floor(x * av * 1000000) AS BIGINT)) AS BIGINT) AS score
            FROM xs JOIN centf ON xs.dim = centf.dim GROUP BY 1, 2),
          ranked0 AS (SELECT vec_id, cell,
              row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell ASC) AS rn
            FROM scores),
          assign AS (SELECT vec_id, cell FROM ranked0 WHERE rn = 1),
          probes AS (SELECT vec_id AS qid, cell FROM ranked0
            WHERE vec_id < $nQueries AND rn <= $IvfNprobe),
          cand AS (SELECT p.qid, n.vec_id AS nid
            FROM probes p JOIN assign n ON p.cell = n.cell
            WHERE p.qid <> n.vec_id),
          nemb AS (SELECT vec_id, embedding, ${dotDuck("embedding", "embedding")} AS nrm FROM embeddings),
          we AS (SELECT qid, nid, eq.embedding AS qe, en.embedding AS ne,
              eq.nrm AS qn, en.nrm AS nn
            FROM cand JOIN nemb eq ON cand.qid = eq.vec_id
                      JOIN nemb en ON cand.nid = en.vec_id),
          scored AS (SELECT qid, nid,
            CAST(${dotDuck("qe", "ne")} AS DOUBLE) /
              sqrt(CAST(qn AS DOUBLE) * CAST(nn AS DOUBLE)) AS cos
            FROM we),
          ranked AS (SELECT qid, nid, cos,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
            FROM scored)
          SELECT qid, nid, CAST(rank AS INT) AS rank, cos
          FROM ranked WHERE rank <= $topK ORDER BY qid, rank""",
    // q166: DuckDB re-derives the PQ chain — the q41 centroid
    // arithmetic grouped per subspace j = (dim-1)//8, codes by
    // (sc DESC, cell ASC) argmax, ADC sums of the query's own
    // sub-dots looked up by code over the WHOLE corpus, the top-10
    // shortlist, and the exact rescored top-3. The centroid/sub/code
    // CTEs and the shortlist/rescore tail are SHARED TEXT with q170
    // (duckPqBase / duckAdcTail), so the two oracles cannot drift.
    "q166_pq_adc_topk" ->
      s"""WITH $duckPqBase,
          adc AS (SELECT q.vec_id AS qid, c.nid,
              CAST(sum(q.sc) AS BIGINT) AS adc
            FROM codes c JOIN sub q ON q.j = c.j AND q.cell = c.code
            WHERE q.vec_id < $nQueries AND q.vec_id <> c.nid
            GROUP BY 1, 2),
          $duckAdcTail""",
    // q170: the q41 probe chain composed onto the shared PQ CTEs — the
    // candidate set comes from the nprobe nearest cells, ADC sums run
    // only over it. Breaks together with q41 (probe machinery) and
    // q166 (the shared PQ text) if either chain changes.
    "q170_ivfpq_topk" ->
      s"""WITH $duckPqBase,
          scores AS (SELECT xs.vec_id, centf.cell,
              CAST(sum(CAST(floor(x * av * 1000000) AS BIGINT)) AS BIGINT) AS score
            FROM xs JOIN centf ON xs.dim = centf.dim GROUP BY 1, 2),
          ranked0 AS (SELECT vec_id, cell,
              row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell ASC) AS rn
            FROM scores),
          assign AS (SELECT vec_id, cell FROM ranked0 WHERE rn = 1),
          probes AS (SELECT vec_id AS qid, cell FROM ranked0
            WHERE vec_id < $nQueries AND rn <= $IvfNprobe),
          cand AS (SELECT p.qid, n.vec_id AS nid
            FROM probes p JOIN assign n ON p.cell = n.cell
            WHERE p.qid <> n.vec_id),
          adc AS (SELECT cand.qid, cand.nid,
              CAST(sum(q.sc) AS BIGINT) AS adc
            FROM cand JOIN codes c ON cand.nid = c.nid
                      JOIN sub q ON q.j = c.j AND q.cell = c.code
                        AND q.vec_id = cand.qid
            GROUP BY 1, 2),
          $duckAdcTail""",
    // q145: DuckDB re-derives the whole SemDeDup chain — the q41
    // centroid assignment (float-rounded centroids, quantized scores,
    // deterministic rn=1 tie-break), within-cell pairs, exact
    // quantized-cosine edges, and the q44 recursive transitive closure
    // whose min reachable id IS min-label propagation's fixpoint.
    "q145_semantic_dedup" ->
      s"""WITH RECURSIVE xsrc AS (SELECT vec_id, unnest(generate_series(1, 64)) AS dim, embedding FROM embeddings),
          xs AS (SELECT vec_id, dim, CAST(embedding[dim] AS DOUBLE) AS x FROM xsrc),
          csrc AS (SELECT label, unnest(generate_series(1, 64)) AS dim, embedding FROM embeddings),
          cv AS (SELECT label, dim,
              CAST(floor(CAST(embedding[dim] AS DOUBLE) * 1000000) AS BIGINT) AS vq
            FROM csrc),
          cent AS (SELECT label AS cell, dim,
              CAST(CAST(sum(vq) AS BIGINT) AS DOUBLE) / 1000000 / count(*) AS av
            FROM cv GROUP BY label, dim),
          centf AS (SELECT cell, dim, CAST(CAST(av AS FLOAT) AS DOUBLE) AS av FROM cent),
          scores AS (SELECT xs.vec_id, centf.cell,
              CAST(sum(CAST(floor(x * av * 1000000) AS BIGINT)) AS BIGINT) AS score
            FROM xs JOIN centf ON xs.dim = centf.dim GROUP BY 1, 2),
          assign AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
              row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell ASC) AS rn
            FROM scores) WHERE rn = 1),
          nemb AS (SELECT vec_id, embedding, ${dotDuck("embedding", "embedding")} AS nrm FROM embeddings),
          cand AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM assign a JOIN assign b ON a.cell = b.cell
            WHERE a.vec_id < b.vec_id),
          we AS (SELECT vec_a, vec_b, ea.embedding AS ae, eb.embedding AS be,
              ea.nrm AS na, eb.nrm AS nb
            FROM cand JOIN nemb ea ON cand.vec_a = ea.vec_id
                      JOIN nemb eb ON cand.vec_b = eb.vec_id),
          edges AS (SELECT vec_a, vec_b FROM we
            WHERE CAST(${dotDuck("ae", "be")} AS DOUBLE) /
              sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= $semDedupCos),
          und AS (SELECT vec_a AS src, vec_b AS dst FROM edges
                  UNION ALL
                  SELECT vec_b AS src, vec_a AS dst FROM edges),
          reach(id, lbl) AS (
            SELECT DISTINCT src AS id, src AS lbl FROM und
            UNION
            SELECT u.dst AS id, r.lbl FROM reach r JOIN und u ON u.src = r.id),
          clusters AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id)
          SELECT e.vec_id, COALESCE(c.lbl, e.vec_id) AS cluster_id,
            CAST(CASE WHEN COALESCE(c.lbl, e.vec_id) = e.vec_id
              THEN 1 ELSE 0 END AS INT) AS kept
          FROM embeddings e LEFT JOIN clusters c ON e.vec_id = c.id
          ORDER BY e.vec_id""",
    "q23_label_centroids" ->
      """WITH comp AS (SELECT label, unnest(generate_series(1, 64)) AS dim, embedding FROM embeddings),
          vals AS (SELECT label, dim,
              CAST(floor(CAST(embedding[dim] AS DOUBLE) * 1000000) AS BIGINT) AS vq
            FROM comp),
          avgs AS (SELECT label, dim,
              CAST(CAST(sum(vq) AS BIGINT) AS DOUBLE) / 1000000 / count(*) AS av,
              count(*) AS n
            FROM vals GROUP BY label, dim)
          SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
            sqrt(CAST(CAST(sum(CAST(floor(av * av * 1000000000000) AS BIGINT)) AS BIGINT) AS DOUBLE)) / 1000000 AS centroid_norm
          FROM avgs GROUP BY label ORDER BY label"""
  )
}
