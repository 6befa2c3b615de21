package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryModule, Tables => T}

/** Similarity search (q64 cosine top-k, q65 MinHash-LSH near-dup join,
  * q59 exact embedding pairs, q67 IVF ANN, q75 SRP-banded embedding
  * near-dup) — SURVEY.md §2-B mandated extension surface.
  *
  * Scale notes:
  *  - q64: brute-force cosine of every vector against ONE broadcast query
  *    vector is O(n) with no shuffle — `orderBy().limit(k)` compiles to
  *    TakeOrderedAndProject (per-partition top-k, k-row driver merge), so
  *    this exact path scales linearly to any corpus size. The quadratic
  *    all-pairs case is what q65's LSH covers.
  *  - q65: hand-rolled MinHash banding, all DataFrame-native and seedless-
  *    deterministic (xxhash64 with fixed salts): per doc compute H minhash
  *    signatures, group them into B bands, hash each band, and self-join on
  *    (band, band_hash) — candidates only; then run the exact Jaccard
  *    verification (Dedup.jaccardPairs logic) on candidates alone. Shuffle
  *    volume is O(docs × B) small fixed-width rows; no all-pairs product.
  *    Probability a pair with Jaccard j collides: 1-(1-j^R)^B (R rows/band)
  *    — with H=16, B=8, R=2: j=0.5 → 0.25 per band → 0.90 overall (and
  *    ~1.0 for the j≥0.9 pairs that dominate real near-dup corpora); the
  *    recall floor is unit-tested against q61's exact pairs.
  */
object Similarity extends QueryModule {

  private val NumHashes = 16
  private val Bands = 8
  private val RowsPerBand = NumHashes / Bands

  /** SRP (q75) banding geometry: the 64 `graft_srp_sign` bits
    * ([[graft.expressions.SrpSign]], which owns the fixed hyperplane
    * matrix) split into 8 bands x 8 bits. Candidate-rate on the fixtures is
    * MEASURED by SimilaritySpec ("q75 SRP banding prunes ..."), which
    * asserts < 10% of the all-pairs space (Charikar theory for random
    * pairs: ~8/256 ~ 3%). */
  private val SrpBands = 8
  private val SrpBits = 8

  /** The q75 corpus: fixture embeddings (cast FLOAT->DOUBLE, exact) plus a
    * deterministically perturbed copy of each vector at vec_id + 10^7.
    * Every perturbation component is a small integer multiple of 2^-9 —
    * exactly representable, so Spark and DuckDB compute bit-identical
    * doubles — giving each planted pair cos ~ 0.998: a true engineered
    * near-duplicate (random fixture pairs top out at cos ~ 0.51). The same
    * union is spelled in the q75 oracle SQL. */
  private[graft] def srpCorpus(s: SparkSession, d: String): DataFrame = {
    val e = T.embeddings(s, d)
    val base = e.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    val pert = e.select((col("vec_id") + lit(10000000L)).as("vec_id"),
      expr("""transform(embedding, (x, k) ->
             |  CAST(x AS DOUBLE) + ((vec_id * 64 + k) % 13 - 6) * 0.001953125)"""
        .stripMargin).as("emb"))
    base.unionAll(pert)
  }

  /** SRP candidate pairs: docs sharing at least one (band, bits) bucket of
    * their 64-bit sign signature. Same shape as [[lshCandidates]]: shuffle
    * volume is O(docs x 8) fixed-width rows, candidates grow with bucket
    * occupancy — never an all-pairs product. (`>>` then `& 255` masks the
    * arithmetic-shift sign extension of bit 63.) */
  private[graft] def srpCandidates(corpus: DataFrame): DataFrame = {
    val sig = corpus.select(col("vec_id"),
      expr("graft_srp_sign(emb)").as("sig"))
    val bands = (0 until SrpBands).map { b =>
      struct(lit(b).as("band"),
             expr(s"(sig >> ${b * SrpBits}) & 255").as("bits"))
    }
    val bucketed = sig.select(col("vec_id"), explode(array(bands: _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.bits").as("bits"))
    bucketed.select(col("vec_id").as("i"), col("band"), col("bits"))
      .join(bucketed.select(col("vec_id").as("j"), col("band"), col("bits")),
            Seq("band", "bits"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j")).distinct()
  }

  /** Cosine via sequential double fold — mirrors the oracle's list_sum
    * exactly (left-to-right IEEE adds), so values are bit-identical.
    * `graft_cosine` ([[graft.expressions.CosineSimilarity]], injected by
    * GraftExtensions) computes the SAME fold as one codegen'd loop; this
    * HOF spelling is kept as the executable specification the oracle SQL
    * mirrors, and SimilaritySpec pins native == HOF bitwise. */
  private[graft] val cosExpr =
    """aggregate(zip_with(embedding, qv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
      |          CAST(0 AS DOUBLE), (acc, v) -> acc + v)
      |/ (sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      |                  CAST(0 AS DOUBLE), (acc, v) -> acc + v))
      | * sqrt(aggregate(transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      |                  CAST(0 AS DOUBLE), (acc, v) -> acc + v)))""".stripMargin

  /** LSH candidate pairs: (i, j) docs sharing at least one minhash band. */
  private[graft] def lshCandidates(sh: DataFrame): DataFrame = {
    // minhash_h = min over shingles of xxhash64(h, shingle), h = 0..H-1
    val hashes = (0 until NumHashes).map(h =>
      min(xxhash64(lit(h), col("sh"))).as(s"mh$h"))
    val sig = sh.groupBy(col("doc_id")).agg(hashes.head, hashes.tail: _*)
    // band_b = one 64-bit hash of that band's R signature values
    val bands = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => col(s"mh${b * RowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("bh"))
    }
    val bucketed = sig.select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    bucketed.select(col("doc_id").as("i"), col("band"), col("bh"))
      .join(bucketed.select(col("doc_id").as("j"), col("band"), col("bh")),
            Seq("band", "bh"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j")).distinct()
  }

  /** [[lshCandidates]] with the signature build as a STATELESS projection
    * (`array_min ∘ transform` over the distinct-shingle array — zero
    * signature shuffle). Kept-alive ALTERNATE shape, NOT the shipped path:
    * measured at sf0.1 (QTime, local[16]) the HOF variant runs ~5.8 s
    * steady vs ~1.1 s for the exploded groupBy-min agg — the 16 nested
    * lambda transforms allocate an 80-element array per (doc, hash) and
    * evaluate interpreted, while the exploded agg computes every hash in
    * one codegen'd pass and its "extra" exchange carries just 16 longs per
    * doc with map-side combine. Same regime lesson as q66's shape duel,
    * inverted: there the explode lost to a wide agg; here the explode-agg
    * WINS because the alternative multiplies per-row array allocations,
    * not shuffle rows. Signatures are bit-identical either way
    * (SimilaritySpec pins candidate-set equality), so the shape choice is
    * free to re-flip if a future corpus inverts the measurement. */
  private[graft] def lshCandidatesStateless(docs: DataFrame): DataFrame = {
    val sig = docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("shs", expr(
        "array_distinct(transform(sequence(0, size(toks)-3), " +
          "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))"))
      .select(col("doc_id"), expr(
        s"transform(sequence(0, ${NumHashes - 1}), " +
          "h -> array_min(transform(shs, s -> xxhash64(h, s))))").as("mh"))
    val bands = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r =>
        expr(s"mh[${b * RowsPerBand + r}]"))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("bh"))
    }
    val bucketed = sig.select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    bucketed.select(col("doc_id").as("i"), col("band"), col("bh"))
      .join(bucketed.select(col("doc_id").as("j"), col("band"), col("bh")),
            Seq("band", "bh"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j")).distinct()
  }

  /** Exact Jaccard >= tau, computed only for the given candidate (i, j)
    * pairs: each candidate is expanded by doc i's shingles and intersected
    * with doc j's via the (j, sh) equi-join — cost O(candidates × shingles
    * per doc), independent of corpus pair count. */
  private[ops] def verifyCandidates(sh: DataFrame, cand: DataFrame,
                                    tau: Double): DataFrame = {
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val inter = cand
      .join(sh.select(col("doc_id").as("i"), col("sh")), Seq("i"))
      .join(sh.select(col("doc_id").as("j"), col("sh")), Seq("j", "sh"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col("doc_id").as("i"), col("nsh").as("ni")), Seq("i"))
      .join(sz.select(col("doc_id").as("j"), col("nsh").as("nj")), Seq("j"))
      .withColumn("uni", col("ni") + col("nj") - col("inter"))
      .withColumn("jac", col("inter").cast(DoubleType) / col("uni").cast(DoubleType))
      .filter(col("jac") >= tau)
      .select(col("i"), col("j"), col("inter"), col("uni"), col("jac"))
  }

  /** q67's 16 fixed centroids (the vectors with vec_id < 16 —
    * deterministic, no training step), as (cid, qv). */
  private[graft] def ivfCentroids(s: SparkSession, d: String): DataFrame =
    T.embeddings(s, d).filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("qv"))

  /** Coarse-quantizer assignment of a corpus to an ARBITRARY (cid, qv)
    * centroid set: every vector labeled with its nearest centroid — one
    * broadcast join over the corpus, O(n × k) work, ties broken by
    * centroid id. This is the table a serving layout persists partitioned
    * by `cid`, for fixed (q67) and trained centroids alike. */
  private[graft] def ivfAssignTo(corpus: DataFrame,
                                 centroids: DataFrame): DataFrame = {
    val wAsg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("cid").asc)
    corpus.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("cid"),
              expr("graft_cosine(embedding, qv)").as("cos"))
      .withColumn("rn", row_number().over(wAsg))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cid"))
  }

  /** q67's assignment: the embedding corpus under the fixed seed
    * centroids. */
  private[graft] def ivfAssign(s: SparkSession, d: String): DataFrame =
    ivfAssignTo(T.embeddings(s, d), ivfCentroids(s, d))

  /** Snap a (cid, qv) centroid set to the exact 2^-20 float grid: each
    * component becomes round(x · 2^20) / 2^20 — an integer multiple of a
    * power of two that FLOAT represents exactly for |x| ≤ ~8. Trained
    * centroids are float-sum means whose low bits depend on reduction
    * order; serving QUANTIZED centroids makes the deployed index
    * replay-stable (a re-run trains to the same grid point unless a mean
    * sits within reduction-noise of a grid boundary) while moving any
    * assignment by at most 2^-20 per component — far below the
    * between-centroid cosine gaps k-means converges to. */
  private[graft] def quantizeCentroidsMicro(centroids: DataFrame): DataFrame =
    centroids.select(col("cid"), expr(
      "transform(qv, x -> CAST(round(CAST(x AS DOUBLE) * 1048576.0) / 1048576.0 AS FLOAT))")
      .as("qv"))

  /** Offline IVF training: `iters` rounds of Lloyd's algorithm over the
    * embedding corpus, seeded with [[ivfCentroids]]. Each round is one
    * broadcast-centroid assignment (O(n·k) map-side work, no shuffle of
    * the corpus) plus one element-wise mean per cell (posexplode →
    * (cid, pos) partial-avg — shuffle carries k·dim aggregate rows, never
    * vectors). Because `graft_cosine` is scale-invariant, the plain mean
    * update IS spherical k-means, so the mean assigned cosine is
    * non-decreasing round over round (spec-verified). A cell that loses
    * every member keeps its previous centroid. q67's ORACLED query stays
    * on the fixed seed centroids (training's float-sum reduction order is
    * not cross-engine reproducible); a deployment trains here, then
    * stages the assignment via [[ivfServing]] — same serving plan. */
  private[graft] def ivfTrainedCentroids(s: SparkSession, d: String,
                                         iters: Int): DataFrame = {
    val e = T.embeddings(s, d)
    var centroids = ivfCentroids(s, d)
    val wAsg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("cid").asc)
    for (_ <- 0 until iters) {
      val asg = e.crossJoin(broadcast(centroids))
        .select(col("vec_id"), col("embedding"), col("cid"),
                expr("graft_cosine(embedding, qv)").as("cos"))
        .withColumn("rn", row_number().over(wAsg))
        .filter(col("rn") === 1)
      val means = asg
        .select(col("cid"), posexplode(col("embedding")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("col")).as("m"))
        .groupBy(col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), " +
          "x -> CAST(x.m AS FLOAT))").as("mqv"))
      centroids = centroids.join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("mqv"), col("qv")).as("qv"))
        .localCheckpoint()
    }
    centroids
  }

  /** Mean assigned cosine of the corpus under a (cid, qv) centroid set —
    * spherical k-means' objective, used by the training spec. */
  private[graft] def ivfObjective(s: SparkSession, d: String,
                                  centroids: DataFrame): Double =
    T.embeddings(s, d).crossJoin(broadcast(centroids))
      .select(col("vec_id"), expr("graft_cosine(embedding, qv)").as("cos"))
      .groupBy(col("vec_id")).agg(max(col("cos")).as("best"))
      .agg(avg(col("best"))).head.getDouble(0)

  /** The cid-partitioned IVF serving table for a fixture dir, staged once
    * per (session, sf) via [[Layout.stagePartitionedBy]] — the offline
    * "build the index" step a real deployment runs once, not per query.
    * Every q67 probe reads THIS table, so the partition-pruned scan proven
    * in LayoutSpec is the registered query's own plan, not a sidecar demo.
    * Deliberate consequence: CONSTRUCTING the q67 frame runs jobs on a
    * cold session (the first call stages the index and resolves the 4
    * probe cells; both are memoized per (session, sf) after that) — an
    * ANN query without its index is not a plan, and the probe-cell
    * resolution is the literal-predicate step that makes static pruning
    * possible. Plan-only consumers (Plans) pay one index build per
    * session, like any serving system; Bench warms this path untimed so
    * the build never lands inside a timed iteration. Synchronized:
    * concurrently-running test suites share the session. */
  private[graft] def ivfServing(s: SparkSession, d: String): DataFrame =
    synchronized {
      val tbl = "graft_ivf_serve_" + d.replaceAll("[^A-Za-z0-9]", "_")
      if (!s.catalog.tableExists(tbl))
        Layout.stagePartitionedBy(ivfAssign(s, d), tbl, "cid")
      s.table(tbl)
    }

  /** A query's `n` nearest cells of an arbitrary centroid set by
    * centroid-vs-query cosine (centroid plays `embedding`), deterministic
    * tie-break on cid. */
  private[graft] def ivfProbeCellsOf(centroids: DataFrame, q: DataFrame,
                                     n: Int): DataFrame =
    centroids.select(col("cid"), col("qv").as("embedding"))
      .crossJoin(broadcast(q))
      .select(col("cid"), expr("graft_cosine(embedding, qv)").as("ccos"))
      .orderBy(col("ccos").desc, col("cid").asc).limit(n)
      .select(col("cid"))

  /** q67's probe: 4 nearest of the fixed seed centroids. */
  private[graft] def ivfProbeCells(s: SparkSession, d: String,
                                   q: DataFrame): DataFrame =
    ivfProbeCellsOf(ivfCentroids(s, d), q, 4)

  /** TRAINED-centroid serving: run `iters` Lloyd's rounds
    * ([[ivfTrainedCentroids]]), snap the result to the exact micro grid
    * ([[quantizeCentroidsMicro]]), and stage the corpus assignment
    * cid-partitioned — the same offline index build as [[ivfServing]],
    * with the trained coarse quantizer instead of the seeds. Returns
    * (serving table frame, quantized centroids). The serving PLAN is
    * identical to q67's by construction (same stage + probe + pruned-scan
    * shape — SimilaritySpec asserts the pruning on the executed plan);
    * q67's ORACLED query stays on the fixed seeds because no cross-engine
    * oracle can reproduce training's float-sum reduction order, which is
    * also why this path's correctness gate is the spec's IVF-semantics
    * reference equality, not DuckDB. */
  private[graft] def ivfTrainedServing(s: SparkSession, d: String,
                                       iters: Int): (DataFrame, DataFrame) =
    synchronized {
      val tbl = ("graft_ivf_trained_" + iters + "_" +
        d.replaceAll("[^A-Za-z0-9]", "_"))
      val centroids =
        quantizeCentroidsMicro(ivfTrainedCentroids(s, d, iters))
          .localCheckpoint(true)
      if (!s.catalog.tableExists(tbl))
        Layout.stagePartitionedBy(
          ivfAssignTo(T.embeddings(s, d), centroids), tbl, "cid")
      (s.table(tbl), centroids)
    }

  /** q67's probe cells for the FIXED registered query vector (vec_id 0),
    * resolved once per (session, fixture dir) and memoized: the fixture
    * tables are immutable and the centroids deterministic, so re-collecting
    * the 4-row probe on every q67 construction was pure per-call overhead
    * (the regression the round-6 bench measured). Weak session keys: a
    * stopped session's entry must not pin the session. */
  private val probeCellCache =
    new scala.collection.mutable.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, Seq[Long]]]
  private[graft] def ivfProbeCellIds(s: SparkSession, d: String,
                                     q: DataFrame): Seq[Long] = synchronized {
    probeCellCache
      .getOrElseUpdate(s, scala.collection.mutable.Map.empty)
      .getOrElseUpdate(d,
        ivfProbeCells(s, d, q).collect().toSeq.map(_.getLong(0)))
  }

  /** The staged trained-IVF serving table WITHOUT re-running training
    * when the table already exists — q110's per-construction read path
    * (the first call delegates to [[ivfTrainedServing]], which trains,
    * quantizes and stages). */
  private[graft] def ivfTrainedTable(s: SparkSession, d: String,
                                     iters: Int): DataFrame = synchronized {
    val tbl = ("graft_ivf_trained_" + iters + "_" +
      d.replaceAll("[^A-Za-z0-9]", "_"))
    if (!s.catalog.tableExists(tbl)) ivfTrainedServing(s, d, iters)._1
    else s.table(tbl)
  }

  /** q110's probe cells for the FIXED registered query vector, resolved
    * against the TRAINED (quantized) centroids once per (session, dir,
    * iters) and memoized — the trained twin of [[ivfProbeCellIds]]. The
    * first resolution trains and stages the index as a side effect, so
    * every later q110 construction touches neither training nor the
    * centroid frame. */
  private val trainedProbeCache =
    new scala.collection.mutable.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, Seq[Long]]]
  private[graft] def ivfTrainedProbeIds(s: SparkSession, d: String,
                                        iters: Int,
                                        q: DataFrame): Seq[Long] = synchronized {
    trainedProbeCache
      .getOrElseUpdate(s, scala.collection.mutable.Map.empty)
      .getOrElseUpdate(s"$d#$iters", {
        val (_, centroids) = ivfTrainedServing(s, d, iters)
        ivfProbeCellsOf(centroids, q, 4).collect().toSeq.map(_.getLong(0))
      })
  }

  // ---- product quantization (q105) ---------------------------------------

  /** Sub-vector view of an (vec_id, emb: Array[Double]) corpus for PQ:
    * (vec_id, m, sv) with m = 0..3 subspaces of 16 dims each (64-dim
    * fixture embeddings). */
  private[graft] def pqSubvectorsOf(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id"), posexplode(expr(
        "transform(sequence(0, 3), m -> slice(emb, m * 16 + 1, 16))")))
      .toDF("vec_id", "m", "sv")

  private[graft] def pqSubvectors(s: SparkSession, d: String): DataFrame =
    pqSubvectorsOf(T.embeddings(s, d).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb")))

  /** Squared-L2 between two double arrays (PQ trains under L2, unlike the
    * cosine coarse quantizer). */
  private[graft] val L2 =
    "aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), 0D, (a, v) -> a + v)"

  /** PQ codebooks: per subspace m, 16 centroids over the sub-vectors —
    * seeds are vec_id 0..15's sub-vectors, refined by `iters` Lloyd rounds
    * (broadcast assign → per-(m, cid, pos) mean; the shuffle carries
    * M×K×16 aggregate rows, never vectors — [[ivfTrainedCentroids]]'s
    * discipline per subspace). No oracle: float k-means reduction order is
    * not cross-engine reproducible (q65's declaration class); monotone
    * quantization-error descent and code quality are spec-pinned. */
  private[graft] def pqCodebooks(s: SparkSession, d: String,
                                 iters: Int): DataFrame =
    pqCodebooksOf(pqSubvectors(s, d), iters)

  /** [[pqCodebooks]] over an arbitrary (vec_id, m, sv) sub-vector frame —
    * the planted q105/q121 corpus trains through the SAME Lloyd loop as
    * the fixture corpus; only the seeds' source rows differ. */
  private[graft] def pqCodebooksOf(sub: DataFrame, iters: Int): DataFrame = {
    var cb = sub.filter(col("vec_id") < 16)
      .select(col("m"), col("vec_id").as("cid"), col("sv").as("cv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"), col("m"))
      .orderBy(col("l2").asc, col("cid").asc)
    for (_ <- 0 until iters) {
      val asg = sub.join(broadcast(cb), Seq("m"))
        .select(col("vec_id"), col("m"), col("sv"), col("cid"),
                expr(L2).as("l2"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      // mean via DECIMAL sum, not float avg: decimal accumulation is
      // order-independent, so training is bit-stable across retries /
      // partition orders (the SCALE.md determinism contract; float
      // summation order is not). DECIMAL(38,18) swallows any |x| ≤ ~1e19
      // sub-vector sum; the one rounding (double→decimal at 18 dp) is
      // value-deterministic.
      val means = asg.select(col("m"), col("cid"), posexplode(col("sv")))
        .groupBy(col("m"), col("cid"), col("pos"))
        .agg((sum(col("col").cast(DecimalType(38, 18))) /
              count(lit(1))).cast(DoubleType).as("mu"))
        .groupBy(col("m"), col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, mu))), " +
          "x -> x.mu)").as("mcv"))
      cb = cb.join(means, Seq("m", "cid"), "left")
        .select(col("m"), col("cid"),
                coalesce(col("mcv"), col("cv")).as("cv"))
        .localCheckpoint()
    }
    cb
  }

  /** Encode every vector against a codebook set: 4 argmin-L2 codes (one
    * per subspace, ties → lowest cid) + the exact total squared
    * reconstruction error (subspace L2s are additive — the PQ identity).
    * 4 codes of 4 bits ≡ 2 bytes per vector vs 256 bytes of float32: the
    * 128× memory lever ADC search runs on. */
  private[graft] def pqEncode(sub: DataFrame, cb: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"), col("m"))
      .orderBy(col("l2").asc, col("cid").asc)
    sub.join(broadcast(cb), Seq("m"))
      .select(col("vec_id"), col("m"), col("cid"), expr(L2).as("l2"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(m, cid))), " +
             "x -> x.cid)").as("codes"),
           // decimal accumulation: the 4 subspace errors sum identically
           // in any arrival order (run-to-run bit stability)
           sum(col("l2").cast(DecimalType(38, 18)))
             .cast(DoubleType).as("recon_err"))
  }

  /** Trained PQ codebooks memoized per (session, fixture, iters) — the
    * offline index-build discipline shared with q67's cell index and
    * q79's signature index: training runs once per session, serving
    * queries pay only the encode. The cached frame is an eager
    * localCheckpoint, so re-use never replays the Lloyd rounds; weak
    * session keys let stopped sessions unpin. */
  private val pqCbCache =
    new scala.collection.mutable.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[(String, Int), DataFrame]]
  private[graft] def pqCodebooksCached(s: SparkSession, d: String,
                                       iters: Int): DataFrame = synchronized {
    pqCbCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
      .getOrElseUpdate((d, iters), pqCodebooks(s, d, iters).localCheckpoint(true))
  }

  /** The PQ-CODED IVF serving table (vec_id, codes, cid), staged
    * cid-partitioned once per (session, dir) — the FAISS-style IVF-PQ
    * index artifact q121 serves from, composing the triad: the trained
    * coarse quantizer decides WHICH cell a vector lives in (q110's
    * serving table supplies the assignment), PQ decides what the cell
    * STORES — 4 codes ≡ 2 bytes per vector instead of the 256-byte
    * float64 embedding. At 100 TB this is the difference between an
    * in-memory index and an I/O-bound one: the ADC pass reads
    * codes-only partitions; full embeddings are touched ONLY for the
    * bounded rerank set. */
  private[graft] def ivfPqServing(s: SparkSession, d: String): DataFrame =
    synchronized {
      val tbl = "graft_ivfpq_" + d.replaceAll("[^A-Za-z0-9]", "_")
      if (!s.catalog.tableExists(tbl)) {
        val codes = pqEncode(pqSubvectors(s, d), pqCodebooksCached(s, d, 2))
          .select(col("vec_id"), col("codes"))
        Layout.stagePartitionedBy(
          ivfTrainedTable(s, d, 1).select(col("vec_id"), col("cid"))
            .join(codes, Seq("vec_id")),
          tbl, "cid")
      }
      s.table(tbl)
    }

  /** The per-query ADC lookup table: L2(query sub-vector m, codebook
    * entry (m, c)) for all 4×16 (m, c) — what FAISS computes once per
    * query before scanning codes. Resolved driver-side (64 doubles) and
    * memoized per (session, dir) like the probe-cell ids: folding the LUT
    * into the scan as array LITERALS keeps the ADC pass a stateless
    * whole-stage-codegen projection — no join, no shuffle, just
    * element_at per subspace — which is the entire point of ADC. Indexed
    * lut(m)(c). */
  /** Corpus size, memoized per (session, dir) — drives q121's rerank
    * budget. A recall sweep (SCALE.md q121 row) measured that a FIXED
    * K'=64 becomes the first recall limiter as cells grow with the
    * corpus (sf0.1: 0.34 → 0.61 recall@10 as K' rises to the probed-cell
    * ceiling), so the
    * budget scales with cell size: K' = max(64, N/8) — identical to the
    * old constant at fixture scale (N=500 → 64, the unit-pinned
    * operating point), ~N/8 beyond, still a bounded TakeOrdered whose
    * exact-rerank set stays ≪ probed candidates. */
  private val embCountCache =
    new scala.collection.mutable.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, Long]]
  /** Fixture embedding row count, memoized per (session, dir) — the
    * fixture-dirs-are-immutable convention (Tables.t's own caching
    * assumes it); rewriting a dir in place mid-session requires a new
    * session. */
  private[graft] def embCount(s: SparkSession, d: String): Long =
    synchronized {
      embCountCache
        .getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(d, T.embeddings(s, d).count())
    }
  private[graft] def adcRerankBudget(s: SparkSession, d: String): Int = {
    // clamp BEFORE the Int conversion: limit() takes an Int, and a
    // raw .toInt of n/8 wraps negative past ~17B rows.
    math.min(math.max(64L, embCount(s, d) / 8L), Int.MaxValue.toLong).toInt
  }

  private val adcLutCache =
    new scala.collection.mutable.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, IndexedSeq[IndexedSeq[Double]]]]
  private[graft] def adcLut(s: SparkSession, d: String)
      : IndexedSeq[IndexedSeq[Double]] = synchronized {
    adcLutCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
      .getOrElseUpdate(d, {
        val q = T.embeddings(s, d).filter(col("vec_id") === 0)
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
        val rows = pqSubvectorsOf(q)
          .join(broadcast(pqCodebooksCached(s, d, 2)), Seq("m"))
          .select(col("m"), col("cid"), expr(L2).as("qd"))
          .collect()
        val byM = rows.groupBy(_.getInt(0))
        (0 to 3).map(m => byM(m).sortBy(_.getLong(1)).map(_.getDouble(2)).toIndexedSeq)
      })
  }

  // ---- planted PQ corpus (q105/q121's oracle path) ------------------------

  /** The q105/q121 PLANTED corpus: 16 well-separated cluster centers with
    * engineered member noise, built so the ENTIRE trained IVF-PQ pipeline
    * provably collapses to a closed form an independent engine can pin —
    * the q75 planted-pairs discipline extended from banding to k-means.
    *
    * Construction (row v, component k; one row per fixture vec_id below
    * N32 = 32·⌊N/32⌋, so the corpus scales with the fixture):
    *   - cluster c(v) = v % 16; center_c[k] = 2.0 if k % 16 == c else 0.0
    *     — each center hot on ONE local dim of EVERY 16-dim PQ subspace,
    *     so clusters are far apart (L2 ≥ 8 per subspace, cos ≈ 0 across)
    *     in each subspace independently.
    *   - noise eps(v,k) = s(v) · (((v div 32)·64 + k) % 13 − 6) · 2⁻⁹ with
    *     s(v) = +1 for even (v div 16), −1 for odd: members of a cluster
    *     come in consecutive-16-block pairs with OPPOSITE noise, so the
    *     noise sums to EXACTLY zero over every cluster — which is why N32
    *     is a multiple of 32.
    *
    * Why every float is exact, in BOTH engines: components are integer
    * multiples of 2⁻⁹ bounded by ~2.01 (11 mantissa bits), products are
    * multiples of 2⁻¹⁸ bounded by ~4.1, and every partial sum stays far
    * below 2⁵³·2⁻¹⁸ — all IEEE-exact, so Spark and DuckDB compute
    * bit-identical doubles from the same formula with NO reduction-order
    * hazard. Consequences the q105/q121 oracles pin:
    *   - Lloyd (any rounds, L2 or cosine) from the vec_id<16 seeds assigns
    *     every member to its own planted cluster (margin ~8 vs ~0.009) and
    *     every mean collapses to the EXACT center (zero-sum noise; the
    *     decimal/double sums are exact, and B·2/B = 2 exactly).
    *   - PQ codes(v) = [c,c,c,c] and recon_err(v) = Σₖ eps(v,k)² — both
    *     closed-form in v alone.
    *   - the exact top-k for the planted query (vec 0) is all
    *     cluster-0 (cos ≈ 0.9995+ within, ≤ ~0.01 across), every one of
    *     which survives the ADC cut (identical minimal codes; the rerank
    *     budget max(64, N/8) always covers the N32/16-member cell), so
    *     the served top-10 EQUALS the brute-force top-10 the oracle
    *     recomputes. */
  private[graft] def plantedCorpus(s: SparkSession, d: String): DataFrame = {
    val n32 = 32L * (embCount(s, d) / 32L)
    T.embeddings(s, d).select(col("vec_id")).filter(col("vec_id") < n32)
      .select(col("vec_id"), expr(
        """transform(sequence(0, 63), k ->
          |  CASE WHEN k % 16 = vec_id % 16 THEN 2.0D ELSE 0.0D END
          |  + CASE WHEN (vec_id div 16) % 2 = 0 THEN 1.0D ELSE -1.0D END
          |    * CAST(((vec_id div 32) * 64 + k) % 13 - 6 AS DOUBLE)
          |    * 0.001953125D)""".stripMargin).as("emb"))
  }

  /** PQ codebooks trained on the planted corpus — the REAL 2-round Lloyd
    * loop ([[pqCodebooksOf]]), which on this corpus provably converges to
    * the exact centers. Memoized like the fixture codebooks. */
  private[graft] def plantedPqCodebooks(s: SparkSession,
                                        d: String): DataFrame = synchronized {
    pqCbCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
      .getOrElseUpdate((d + "#planted", 2),
        pqCodebooksOf(pqSubvectorsOf(plantedCorpus(s, d)), 2)
          .localCheckpoint(true))
  }

  /** The planted IVF-PQ serving table (vec_id, codes) staged
    * cid-partitioned once per (session, dir) — q121's registered index
    * artifact: coarse cells from the vec_id<16 seed quantizer (q67's
    * oracled discipline), payload = the trained PQ codes, never
    * embeddings. */
  private[graft] def plantedIvfPqServing(s: SparkSession,
                                         d: String): DataFrame = synchronized {
    val tbl = "graft_planted_ivfpq_" + d.replaceAll("[^A-Za-z0-9]", "_")
    if (!s.catalog.tableExists(tbl)) {
      val corpus = plantedCorpus(s, d)
      val seeds = corpus.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("emb").as("qv"))
      val asg = ivfAssignTo(
          corpus.select(col("vec_id"), col("emb").as("embedding")), seeds)
        .select(col("vec_id"), col("cid"))
      val codes = pqEncode(pqSubvectorsOf(corpus), plantedPqCodebooks(s, d))
        .select(col("vec_id"), col("codes"))
      Layout.stagePartitionedBy(asg.join(codes, Seq("vec_id")), tbl, "cid")
    }
    s.table(tbl)
  }

  /** q121's probe cells on the planted corpus: top-4 seed centroids by
    * query cosine, memoized per (session, dir) like the fixture probes. */
  private[graft] def plantedProbeIds(s: SparkSession,
                                     d: String): Seq[Long] = synchronized {
    trainedProbeCache
      .getOrElseUpdate(s, scala.collection.mutable.Map.empty)
      .getOrElseUpdate(s"$d#planted", {
        val corpus = plantedCorpus(s, d)
        val seeds = corpus.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cid"), col("emb").as("qv"))
        val q = corpus.filter(col("vec_id") === 0)
          .select(col("emb").as("qv"))
        ivfProbeCellsOf(seeds, q, 4).collect().toSeq.map(_.getLong(0))
      })
  }

  /** q121's per-query ADC lookup table against the PLANTED codebooks —
    * [[adcLut]]'s shape on the planted corpus. */
  private[graft] def plantedAdcLut(s: SparkSession, d: String)
      : IndexedSeq[IndexedSeq[Double]] = synchronized {
    adcLutCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
      .getOrElseUpdate(d + "#planted", {
        val q = plantedCorpus(s, d).filter(col("vec_id") === 0)
        val rows = pqSubvectorsOf(q)
          .join(broadcast(plantedPqCodebooks(s, d)), Seq("m"))
          .select(col("m"), col("cid"), expr(L2).as("qd"))
          .collect()
        val byM = rows.groupBy(_.getInt(0))
        (0 to 3).map(m =>
          byM(m).sortBy(_.getLong(1)).map(_.getDouble(2)).toIndexedSeq)
      })
  }

  /** q65's PLANTED doc corpus: one row per fixture doc_id, text built
    * from doc_id arithmetic alone — group g = doc_id div 4; every member
    * of a group carries the IDENTICAL token stream `w(23g) … w(23g+7+g%5)`
    * (8 + g%5 tokens, so shingle counts vary across groups), and group
    * vocabularies are disjoint (token indices advance 23 per group, past
    * the max in-group offset of 12). Consequences the oracle pins in
    * closed form: true near-dup pairs are EXACTLY the within-group pairs
    * at Jaccard 1.0 (identical shingle SETS → identical minhash
    * signatures → every band collides: recall 1.0 as a theorem, q75's
    * discipline); every cross-group pair has Jaccard 0 and cannot
    * survive the exact verify no matter what the banding hashes do. */
  private[graft] def plantedLshDocs(s: SparkSession, d: String): DataFrame =
    T.documents(s, d).select(col("doc_id"))
      .select(col("doc_id"), expr(
        """array_join(transform(
          |  sequence(0, 7 + CAST((doc_id div 4) % 5 AS INT)),
          |  p -> concat('w', CAST((doc_id div 4) * 23 + p AS STRING))),
          |  ' ')""".stripMargin).as("text"))

  /** The FIXTURE-corpus LSH join — q65's shape over the real document
    * texts, where banding recall is a measured property, not a theorem:
    * SimilaritySpec gates it against q61's exact pairs (recall ≥ 0.8,
    * zero false positives). */
  private[graft] def fixtureLshJoin(s: SparkSession, d: String): DataFrame = {
    val sh = Dedup.shingles(s, d)
    val cand = lshCandidates(sh)
    verifyCandidates(sh, cand, 0.5).orderBy(col("i"), col("j"))
  }

  /** The FIXTURE-corpus ADC serving plan — q121's shape over the real
    * fixture embeddings with the TRAINED coarse quantizer (q110's
    * discipline): the path a deployment runs, where no closed form
    * exists and recall is a measured property, not a theorem. The
    * registered q121 pins the same plan's exactness on the planted
    * corpus; THIS twin keeps the honest float-geometry gates — recall@10
    * vs the exact scan (SimilaritySpec) and the nprobe/budget recall
    * curves in SCALE.md's q121 row. */
  private[graft] def fixtureAdcTopK(s: SparkSession, d: String): DataFrame = {
    val e = T.embeddings(s, d)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val probed = ivfTrainedProbeIds(s, d, 1, q)
    val lut = adcLut(s, d)
    val adc = (0 to 3).map(m =>
      element_at(typedLit(lut(m)), col("codes").getItem(m).cast("int") + 1))
      .reduce(_ + _)
    val cand = ivfPqServing(s, d).filter(col("cid").isin(probed: _*))
      .select(col("vec_id"), adc.as("adc"))
      .orderBy(col("adc").asc, col("vec_id").asc)
      .limit(adcRerankBudget(s, d))
    cand.join(e, Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), expr("graft_cosine(embedding, qv)").as("cos"))
      .select(col("vec_id"),
              floor(col("cos") * 1000000).cast(LongType).as("cos_micro"))
      .orderBy(col("cos_micro").desc, col("vec_id").asc)
      .limit(10)
  }

  /** q112's verified near-dup pair list, materialized ONCE per (session,
    * fixture dir). The symmetrizing union consumes the list twice, and
    * un-checkpointed that re-runs the whole banded candidate build +
    * cosine verify per branch (16 parquet scans in the round-9 plan
    * audit). Post-verify rows are three longs each — pinning them is
    * nearly free — but an eager checkpoint at query CONSTRUCTION with no
    * release pinned one RDD per construction (every Bench run, every
    * Plans audit). The fixture is immutable, so the checkpoint is memoized
    * like the probe-cell / codebook caches: one pinned block set per
    * (session, dir) for the session's lifetime, weak keys unpin stopped
    * sessions. */
  private val knnPairCache =
    new scala.collection.mutable.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, DataFrame]]
  private[graft] def knnVerifiedPairs(s: SparkSession, d: String): DataFrame =
    synchronized {
      knnPairCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(d, {
          val u = srpCorpus(s, d)
          val cand = srpCandidates(u)
          cand
            .join(u.select(col("vec_id").as("i"), col("emb").as("ei")), Seq("i"))
            .join(u.select(col("vec_id").as("j"), col("emb").as("ej")), Seq("j"))
            .select(col("i"), col("j"), expr("graft_cosine(ei, ej)").as("cos"))
            .filter(col("cos") >= 0.85)
            .select(col("i"), col("j"),
                    floor(col("cos") * 1000000).cast(LongType).as("cos_micro"))
            .localCheckpoint(true)
        })
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q105_sim_pq" -> ((s, d) => {
      // PQ train + encode, END-TO-END ORACLED (round 16; unit-only
      // before): 2 real Lloyd rounds per subspace over the PLANTED
      // corpus ([[plantedCorpus]] — engineered so training provably
      // converges to the exact cluster centers), then 4-code encoding.
      // The DuckDB oracle pins codes = vec_id % 16 and
      // recon_err = Σ eps² in CLOSED FORM — it never re-runs k-means,
      // it checks the theorem the corpus construction proves. Completes
      // the ANN serving triad — q67's IVF prunes WHICH cells a probe
      // scans, q96's int8 shrinks each vector 4x, PQ shrinks it 128×
      // for the in-memory ADC pass. The fixture-corpus training path
      // (no closed form — real float geometry) keeps its unit gates:
      // error descent, code bounds, planted-twin code collision.
      pqEncode(pqSubvectorsOf(plantedCorpus(s, d)),
          plantedPqCodebooks(s, d))
        .select(col("vec_id"),
          expr("CAST(codes[0] AS BIGINT)").as("c0"),
          expr("CAST(codes[1] AS BIGINT)").as("c1"),
          expr("CAST(codes[2] AS BIGINT)").as("c2"),
          expr("CAST(codes[3] AS BIGINT)").as("c3"),
          col("recon_err"))
        .orderBy(col("vec_id"))
    }),

    "q64_sim_topk" -> ((s, d) => {
      val e = T.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      e.crossJoin(broadcast(q))
        .select(col("vec_id"), expr("graft_cosine(embedding, qv)").as("cos"))
        .select(col("vec_id"),
                floor(col("cos") * 1000000).cast(LongType).as("cos_micro"))
        .orderBy(col("cos_micro").desc, col("vec_id").asc)
        .limit(10)
    }),

    "q59_sim_embed_nn" -> ((s, d) => {
      // Embedding-cosine near-dup PAIRS (vs q64's one-query top-k): exact
      // pairwise scan with the native cosine, pairs with cos >= 0.4.
      // Scale note: this block-nested exact scan is the oracle reference —
      // q75_sim_srp_join is the shipped 100 TB path (sign-banded
      // candidates + exact verify at a real near-dup threshold). At the
      // LOW threshold this random fixture forces, sign banding cannot
      // prune (a cos ~ 0.4 pair agrees per-bit w.p. only 1 - θ/π ~ 0.63),
      // which is exactly why the threshold choice belongs to the caller.
      val a = T.embeddings(s, d).select(col("vec_id").as("i"), col("embedding").as("ei"))
      val b = T.embeddings(s, d).select(col("vec_id").as("j"), col("embedding").as("ej"))
      a.crossJoin(b).filter(col("i") < col("j"))
        .select(col("i"), col("j"), expr("graft_cosine(ei, ej)").as("cos"))
        .filter(col("cos") >= 0.4)
        .select(col("i"), col("j"),
                floor(col("cos") * 1000000).cast(LongType).as("cos_micro"))
        .orderBy(col("i"), col("j"))
    }),

    "q67_sim_ivf" -> ((s, d) => {
      // IVF-style ANN: the scale path for top-k when the corpus is too big
      // to brute-force (q64). Coarse quantizer = 16 fixed centroids (the
      // vectors with vec_id < 16 — deterministic, no training step); every
      // vector is assigned to its nearest centroid (one broadcast join over
      // the corpus, O(n x 16) work) and persisted cid-partitioned ONCE per
      // (session, sf) — the offline index build (ivfServing). The query
      // resolves its 4 nearest cells (a 4-row driver merge, same class as
      // a top-k) into LITERAL partition predicates, so the serving scan
      // statically prunes to 4 of the cell directories — asserted on this
      // query's own executed plan in LayoutSpec. All cosines use the
      // sequential-double fold so the oracle reproduces them bitwise.
      val e = T.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val probed = ivfProbeCellIds(s, d, q)
      ivfServing(s, d).filter(col("cid").isin(probed: _*))
        .crossJoin(broadcast(q))
        .select(col("vec_id"), expr("graft_cosine(embedding, qv)").as("cos"))
        .select(col("vec_id"), floor(col("cos") * 1000000).cast(LongType).as("cos_micro"))
        .orderBy(col("cos_micro").desc, col("vec_id").asc)
        .limit(10)
    }),

    "q110_sim_ivf_trained" -> ((s, d) => {
      // q67's serving plan with a TRAINED coarse quantizer: one Lloyd
      // round over the corpus seeded with the 16 fixed centroids, means
      // snapped to the exact 2^-20 float grid (quantizeCentroidsMicro) —
      // which is what makes the trained index CROSS-ENGINE oracle-able:
      // the grid absorbs float-sum reduction-order noise in the means, so
      // DuckDB recomputes bit-identical centroids and every downstream
      // cosine/assignment/probe matches hash-exactly. Train + stage run
      // once per (session, sf) (ivfTrainedServing via ivfTrainedProbeIds);
      // the registered query reads the cid-partitioned table pruned to the
      // 4 probed cells, exactly like q67 (SimilaritySpec asserts the
      // pruned scan on the iters=2 twin of this plan).
      val e = T.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val probed = ivfTrainedProbeIds(s, d, 1, q)
      ivfTrainedTable(s, d, 1).filter(col("cid").isin(probed: _*))
        .crossJoin(broadcast(q))
        .select(col("vec_id"), expr("graft_cosine(embedding, qv)").as("cos"))
        .select(col("vec_id"), floor(col("cos") * 1000000).cast(LongType).as("cos_micro"))
        .orderBy(col("cos_micro").desc, col("vec_id").asc)
        .limit(10)
    }),

    "q121_sim_ivf_adc" -> ((s, d) => {
      // IVF-PQ ADC serving — the triad (q67/q110 cell pruning, q96 int8,
      // q105 PQ) COMPOSED into the FAISS-style serving plan each exists
      // for: (1) coarse probe picks 4 of 16 cells (driver-side literals
      // -> static partition pruning); (2) the ADC pass scans ONLY the
      // probed cells of the codes table — 2-byte codes, never
      // embeddings — ranking by the asymmetric distance
      // sum_m lut[m][code_m], the per-query LUT folded in as array
      // literals so the pass is one stateless codegen projection; (3)
      // the top-K' ADC candidates (a driver-bounded TakeOrdered,
      // deterministic adc-then-id tie-break; K' = [[adcRerankBudget]] —
      // max(64, N/8), SCALING WITH CELL SIZE per the recall sweep in
      // SCALE.md's q121 row) rerank by EXACT cosine against their full
      // embeddings — the only point the full vectors are read. Cost at
      // 100 TB: probed-cell code bytes + K' embedding lookups, never
      // corpus x query. END-TO-END ORACLED (round 16; unit-only
      // before) on the PLANTED corpus, where the construction proves
      // the ADC cut keeps every true neighbor (the query's whole
      // cluster fits under K' with strictly minimal codes), so the
      // served top-10 EQUALS the brute-force top-10 DuckDB recomputes.
      // The fixture-corpus serving twin ([[fixtureAdcTopK]] — trained
      // coarse quantizer, no closed form) keeps its unit recall gate.
      val corpus = plantedCorpus(s, d)
      val q = corpus.filter(col("vec_id") === 0).select(col("emb").as("qv"))
      val probed = plantedProbeIds(s, d)
      val lut = plantedAdcLut(s, d)
      val adc = (0 to 3).map(m =>
        element_at(typedLit(lut(m)), col("codes").getItem(m).cast("int") + 1))
        .reduce(_ + _)
      val cand = plantedIvfPqServing(s, d).filter(col("cid").isin(probed: _*))
        .select(col("vec_id"), adc.as("adc"))
        .orderBy(col("adc").asc, col("vec_id").asc)
        .limit(adcRerankBudget(s, d))
      cand.join(corpus, Seq("vec_id"))
        .crossJoin(broadcast(q))
        .select(col("vec_id"), expr("graft_cosine(emb, qv)").as("cos"))
        .select(col("vec_id"),
                floor(col("cos") * 1000000).cast(LongType).as("cos_micro"))
        .orderBy(col("cos_micro").desc, col("vec_id").asc)
        .limit(10)
    }),

    "q75_sim_srp_join" -> ((s, d) => {
      // SRP-banded embedding near-dup join — the 100 TB serving path for
      // what q59 computes exactly. Candidates from 8x8 sign-bit banding,
      // exact graft_cosine verify at tau=0.85 on candidates ONLY. On the
      // fixture corpus (planted cos~0.998 pairs, random pairs <= ~0.51)
      // banding recall is 1.0 — deterministic, since planes and data are
      // fixed — so the output EQUALS the exact all-pairs result and the
      // DuckDB oracle hash-checks it end-to-end; the recall + candidate-
      // rate properties are additionally pinned in SimilaritySpec.
      // Pinning the union corpus (localCheckpoint) was A/B-measured here
      // (round 22): 0.71 s without vs 0.72 s with — a WASH (the four
      // plan references recompute cheaply: the band sides ride one
      // broadcast). q97 keeps the pin (five references plus an eager
      // fixpoint construction; 1.05 -> 0.88 s there). Shipped shape kept.
      val u = srpCorpus(s, d)
      val cand = srpCandidates(u)
      cand
        .join(u.select(col("vec_id").as("i"), col("emb").as("ei")), Seq("i"))
        .join(u.select(col("vec_id").as("j"), col("emb").as("ej")), Seq("j"))
        .select(col("i"), col("j"), expr("graft_cosine(ei, ej)").as("cos"))
        .filter(col("cos") >= 0.85)
        .select(col("i"), col("j"),
                floor(col("cos") * 1000000).cast(LongType).as("cos_micro"))
        .orderBy(col("i"), col("j"))
    }),

    "q97_embed_resolve" -> ((s, d) => {
      // Embedding near-dup CLUSTERS: q75's banded pair list resolved into
      // connected components — the embedding twin of q79 (SimHash ->
      // clusters), closing the same gap on the vector side: every banded
      // join stops at pairs, but dedup needs one survivor per transitive
      // group. Reuses Dedup.resolveComponents verbatim (one-task
      // union-find under the threshold, pointer-jumped label propagation
      // past it); survivor = min vec_id per component; output covers
      // EVERY vector in the union corpus, singletons as clusters of 1.
      // Banding recall is 1.0 on the fixture (q75's oracle proves it), so
      // the exact-pair recursive-CTE oracle hash-matches end-to-end.
      // Union corpus pinned per construction — q75's rationale, one
      // reference MORE here (the resolved left join makes five):
      // measured 0.96 -> 0.81 s (OPTIMIZATION_r22.md §7, min-of-6).
      val u = srpCorpus(s, d).localCheckpoint(true)
      val cand = srpCandidates(u)
      val pairs = cand
        .join(u.select(col("vec_id").as("i"), col("emb").as("ei")), Seq("i"))
        .join(u.select(col("vec_id").as("j"), col("emb").as("ej")), Seq("j"))
        .select(col("i"), col("j"), expr("graft_cosine(ei, ej)").as("cos"))
        .filter(col("cos") >= 0.85)
        .select(col("i"), col("j"))
      val comp = Dedup.resolveComponents(pairs)
      val resolved = u.select(col("vec_id"))
        .join(comp.select(col("node").as("vec_id"), col("lbl")),
          Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("lbl"), col("vec_id")).as("survivor"))
      val sizes = resolved.groupBy(col("survivor")).agg(count(lit(1)).as("csize"))
      resolved.join(sizes, Seq("survivor"))
        .select(col("vec_id"), col("survivor"), col("csize"),
                (col("vec_id") === col("survivor")).cast(LongType).as("is_survivor"))
        .orderBy(col("vec_id"))
    }),

    "q116_sim_ivf_batch" -> ((s, d) => {
      // BATCH IVF serving — the kNN-JOIN shape: q67/q110 serve ONE query
      // vector; a production recall/eval job serves a query SET in one
      // job. Each query ranks the broadcast centroids for its own 4
      // probe cells (no driver-side probe resolution — the per-query
      // probe list is data, not literals), the (query, cell) pairs join
      // the cid-partitioned serving table ON cid — so a task scans only
      // the cells its queries probe, the index-side analog of q67's
      // pruned scan — and a rank<=10 window per query keeps the top-k
      // (WindowGroupLimit, q31's shape: no task holds more than k rows
      // per query). Same IVF semantics as q67 per query, so the oracle
      // replays assignment + per-query probes + ranking in SQL and the
      // whole batch path is hash-checked. At 100 TB: queries ~ batch-
      // sized (broadcast), serving table cell-partitioned; cost =
      // sum over queries of probed-cell sizes, never |queries| x corpus.
      val e = T.embeddings(s, d)
      val queries = e.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val cent = ivfCentroids(s, d)
        .select(col("cid"), col("qv").as("cv"))
      val wProbe = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("ccos").desc, col("cid").asc)
      val probes = queries.crossJoin(broadcast(cent))
        .select(col("qid"), col("qv"), col("cid"),
                expr("graft_cosine(cv, qv)").as("ccos"))
        .withColumn("rn", row_number().over(wProbe))
        .filter(col("rn") <= 4)
        .select(col("qid"), col("qv"), col("cid"))
      val wk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid"))
        .orderBy(col("cos_micro").desc, col("vec_id").asc)
      probes.join(ivfServing(s, d), Seq("cid"))
        .select(col("qid"), col("vec_id"),
                expr("graft_cosine(embedding, qv)").as("cos"))
        .select(col("qid"), col("vec_id"),
                floor(col("cos") * 1000000).cast(LongType).as("cos_micro"))
        .withColumn("rk", row_number().over(wk).cast(LongType))
        .filter(col("rk") <= 10)
        .select(col("qid"), col("rk"), col("vec_id"), col("cos_micro"))
        .orderBy(col("qid"), col("rk"))
    }),

    "q112_sim_knn_rank" -> ((s, d) => {
      // Per-vector NEAREST-DUPLICATE RANKING: each vector's top-3 verified
      // near-dup neighbors (cos >= 0.85) by descending similarity — the
      // kNN-graph slice a dedup audit reads, and the step between q75
      // (the pair list) and q97 (the components): pairs say "these are
      // dups", the ranking says which dup is CLOSEST and how close, per
      // document. Candidates + verification are exactly q75's banded path
      // (never all-pairs; banding recall 1.0 on the fixture makes the
      // exact-pairs oracle hash-match end-to-end); the undirected pair
      // list is symmetrized so each pair serves both endpoints, and the
      // per-vector top-k is a rank<=k window ordered on the FLOORED
      // cos_micro (ties broken by neighbor id — ranking on raw cos would
      // let two engines order two values that floor equal differently).
      // The window plans map-side WindowGroupLimit pruning (q31's shape):
      // no task holds more than k rows per vector.
      val pairs = knnVerifiedPairs(s, d)
      val sym = pairs
        .select(col("i").as("vec_id"), col("j").as("nb"), col("cos_micro"))
        .unionByName(pairs
          .select(col("j").as("vec_id"), col("i").as("nb"), col("cos_micro")))
      val wk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id"))
        .orderBy(col("cos_micro").desc, col("nb").asc)
      sym.withColumn("rk", row_number().over(wk).cast(LongType))
        .filter(col("rk") <= 3)
        .select(col("vec_id"), col("rk"), col("nb"), col("cos_micro"))
        .orderBy(col("vec_id"), col("rk"))
    }),

    "q65_sim_lsh_join" -> ((s, d) => {
      // Approximate near-dup join: LSH candidates first, exact Jaccard
      // verification on candidates ONLY (never the all-pairs product).
      // END-TO-END ORACLED (round 16; unit-only before) on the PLANTED
      // doc corpus ([[plantedLshDocs]]): groups of EXACT copies with
      // globally disjoint vocabularies, so every true pair has Jaccard
      // 1.0 — identical shingle sets give identical minhash signatures,
      // every band collides, recall is 1.0 BY CONSTRUCTION — and every
      // hash-accident cross-group candidate dies in the exact verify
      // (Jaccard 0 < τ). The oracle pins the output in closed form
      // (within-group pairs, inter = uni = group shingle count) without
      // reproducing the banding. The fixture-corpus path (real text,
      // banding recall a measured property) keeps its unit gate vs
      // q61's exact pairs via [[fixtureLshJoin]].
      val sh = Dedup.shinglesOf(plantedLshDocs(s, d))
      val cand = lshCandidates(sh)
      verifyCandidates(sh, cand, 0.5).orderBy(col("i"), col("j"))
    }),

    "q96_embed_quantize" -> ((s, d) =>
      // Int8 scalar quantization — the MEMORY lever of the ANN serving
      // path: a 100 TB embedding store is RAM/IO-bound, and max-abs int8
      // cuts the vector bytes 4x while keeping cosine ranking (recall
      // pinned in SimilaritySpec). Per vector: scale = max|x|, q_i =
      // round-half-up(x_i / scale * 127) — every step a per-element IEEE
      // DOUBLE expression spelled identically in the oracle (floor(x+0.5)
      // is round-half-up in both engines; float16/bfloat16 casts are NOT
      // cross-engine-stable, int8 is). Outputs are per-vector summaries
      // (sum / sum-of-squares of the int8 codes, max reconstruction error
      // in exact nanos) rather than the code array itself, so the oracle
      // hash pins the full quantization without a list-typed column.
      // Stateless per-row projection: no shuffle, embarrassingly parallel.
      T.embeddings(s, d)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .select(col("vec_id"), col("v"),
          expr("array_max(transform(v, x -> abs(x)))").as("scale"))
        .select(col("vec_id"), col("v"), col("scale"),
          expr("transform(v, x -> CAST(floor(x / scale * 127 + 0.5) AS BIGINT))")
            .as("qv"))
        .select(
          col("vec_id"),
          size(col("v")).cast(LongType).as("n_dims"),
          col("scale"),
          expr("aggregate(qv, CAST(0 AS BIGINT), (a, q) -> a + q)").as("q_sum"),
          expr("aggregate(qv, CAST(0 AS BIGINT), (a, q) -> a + q * q)").as("q_sq_sum"),
          expr("""CAST(floor(array_max(transform(v, x ->
                 |  abs(CAST(floor(x / scale * 127 + 0.5) AS DOUBLE) / 127 * scale - x)))
                 |  * 1000000000) AS BIGINT)""".stripMargin).as("err_max_nano"))
        .orderBy(col("vec_id")))
  )

  def oracleSql: Map[String, String] = Map(
    // the planted-LSH theorem in closed form: within-group pairs at
    // Jaccard 1.0 with inter = uni = the group's shingle count
    // (tokens − 2); the banding is never reproduced — identical shingle
    // sets collide in every band, and disjoint group vocabularies kill
    // every other candidate in the exact verify
    "q65_sim_lsh_join" ->
      """WITH g AS (SELECT doc_id, doc_id // 4 AS grp FROM documents)
        |SELECT a.doc_id AS i, b.doc_id AS j,
        |  CAST(6 + (a.grp % 5) AS BIGINT) AS inter,
        |  CAST(6 + (a.grp % 5) AS BIGINT) AS uni,
        |  CAST(1.0 AS DOUBLE) AS jac
        |FROM g a JOIN g b ON a.grp = b.grp AND a.doc_id < b.doc_id
        |ORDER BY i, j""".stripMargin,

    // the planted-corpus PQ theorem in closed form: Lloyd from the
    // vec_id<16 seeds provably converges to the exact centers, so
    // codes = cluster id (vec_id % 16) in every subspace and
    // recon_err = Σₖ eps(v,k)² — the sign cancels under the square, and
    // every term is an exact multiple of 2⁻¹⁸, so the double sum is
    // bit-identical to Spark's decimal-summed value
    "q105_sim_pq" ->
      """WITH nn AS (SELECT 32 * (count(*) // 32) AS n FROM embeddings)
        |SELECT e.vec_id,
        |  e.vec_id % 16 AS c0, e.vec_id % 16 AS c1,
        |  e.vec_id % 16 AS c2, e.vec_id % 16 AS c3,
        |  list_sum(list_transform(range(64), k ->
        |    CAST((((e.vec_id // 32) * 64 + k) % 13 - 6)
        |       * (((e.vec_id // 32) * 64 + k) % 13 - 6) AS DOUBLE)))
        |  * CAST(0.001953125 AS DOUBLE) * CAST(0.001953125 AS DOUBLE)
        |  AS recon_err
        |FROM embeddings e, nn WHERE e.vec_id < nn.n
        |ORDER BY vec_id""".stripMargin,

    // the planted corpus makes the served IVF-PQ-ADC top-10 EQUAL the
    // exact top-10 (the whole query cluster survives the probe and the
    // ADC cut by construction), so the oracle is the brute-force scan —
    // it never reproduces the index, it checks the recall-1.0 theorem
    "q121_sim_ivf_adc" ->
      """WITH nn AS (SELECT 32 * (count(*) // 32) AS n FROM embeddings),
        |u AS (
        |  SELECT e.vec_id,
        |    list_transform(range(64), k ->
        |      CAST(CASE WHEN k % 16 = e.vec_id % 16
        |                THEN 2.0 ELSE 0.0 END AS DOUBLE)
        |      + CAST(CASE WHEN (e.vec_id // 16) % 2 = 0
        |                  THEN 1.0 ELSE -1.0 END AS DOUBLE)
        |        * CAST(((e.vec_id // 32) * 64 + k) % 13 - 6 AS DOUBLE)
        |        * CAST(0.001953125 AS DOUBLE)) AS emb
        |  FROM embeddings e, nn WHERE e.vec_id < nn.n),
        |q AS (SELECT emb AS qv FROM u WHERE vec_id = 0),
        |c AS (SELECT vec_id,
        |  list_sum(list_transform(range(64), k -> u.emb[k+1] * q.qv[k+1]))
        |  / (sqrt(list_sum(list_transform(u.emb, x -> x * x)))
        |   * sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS cos
        |  FROM u, q)
        |SELECT vec_id, CAST(floor(cos * 1000000) AS BIGINT) AS cos_micro
        |FROM c ORDER BY cos_micro DESC, vec_id ASC LIMIT 10""".stripMargin,

    "q96_embed_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (
        |  SELECT vec_id, v,
        |         list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
        |q AS (
        |  SELECT vec_id, v, scale,
        |         list_transform(v, x -> CAST(floor(x / scale * 127 + 0.5) AS BIGINT)) AS qv
        |  FROM s)
        |SELECT vec_id, CAST(len(v) AS BIGINT) AS n_dims, scale,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS q_sq_sum,
        |  CAST(floor(list_max(list_transform(v, x ->
        |    abs(CAST(floor(x / scale * 127 + 0.5) AS DOUBLE) / 127 * scale - x)))
        |    * 1000000000) AS BIGINT) AS err_max_nano
        |FROM q ORDER BY vec_id""".stripMargin,

    "q97_embed_resolve" ->
      """WITH RECURSIVE u AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000000,
        |         list_transform(range(len(embedding)),
        |           k -> CAST(embedding[k+1] AS DOUBLE)
        |                + ((vec_id * 64 + k) % 13 - 6) * 0.001953125)
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS i, b.vec_id AS j,
        |    list_sum(list_transform(range(len(a.emb)), k -> a.emb[k+1] * b.emb[k+1]))
        |    / (sqrt(list_sum(list_transform(a.emb, x -> x * x)))
        |     * sqrt(list_sum(list_transform(b.emb, x -> x * x)))) AS cos
        |  FROM u a JOIN u b ON a.vec_id < b.vec_id),
        |pr AS (SELECT i, j FROM p WHERE cos >= 0.85),
        |edges AS (SELECT i, j FROM pr UNION ALL SELECT j AS i, i AS j FROM pr),
        |reach(node, lbl) AS (
        |  SELECT i, i FROM edges
        |  UNION
        |  SELECT e.j, r.lbl FROM reach r JOIN edges e ON e.i = r.node),
        |comp AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node),
        |resolved AS (
        |  SELECT u.vec_id, coalesce(c.lbl, u.vec_id) AS survivor
        |  FROM u LEFT JOIN comp c ON u.vec_id = c.node),
        |sizes AS (SELECT survivor, count(*) AS csize FROM resolved GROUP BY survivor)
        |SELECT r.vec_id, r.survivor, s.csize,
        |  CAST(r.vec_id = r.survivor AS BIGINT) AS is_survivor
        |FROM resolved r JOIN sizes s ON r.survivor = s.survivor
        |ORDER BY r.vec_id""".stripMargin,

    "q75_sim_srp_join" ->
      """WITH u AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000000,
        |         list_transform(range(len(embedding)),
        |           k -> CAST(embedding[k+1] AS DOUBLE)
        |                + ((vec_id * 64 + k) % 13 - 6) * 0.001953125)
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS i, b.vec_id AS j,
        |    list_sum(list_transform(range(len(a.emb)), k -> a.emb[k+1] * b.emb[k+1]))
        |    / (sqrt(list_sum(list_transform(a.emb, x -> x * x)))
        |     * sqrt(list_sum(list_transform(b.emb, x -> x * x)))) AS cos
        |  FROM u a JOIN u b ON a.vec_id < b.vec_id)
        |SELECT i, j, CAST(floor(cos * 1000000) AS BIGINT) AS cos_micro
        |FROM p WHERE cos >= 0.85 ORDER BY i, j""".stripMargin,

    // q67's oracle machinery over a query SET: same fixed centroids and
    // assignment, per-query probe ranking, per-query top-10 on the
    // floored micro value
    "q116_sim_ivf_batch" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
        |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
        |asg AS (
        |  SELECT vec_id, cid, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
        |  FROM (SELECT e.vec_id, c.cid,
        |      list_sum(list_transform(range(len(e.embedding)),
        |        k -> CAST(e.embedding[k+1] AS DOUBLE) * CAST(c.cv[k+1] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(c.cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |    FROM embeddings e, c)),
        |probe AS (
        |  SELECT qid, cid FROM (
        |    SELECT qid, cid, row_number() OVER (
        |      PARTITION BY qid ORDER BY ccos DESC, cid ASC) AS rn
        |    FROM (SELECT qs.qid, c.cid,
        |        list_sum(list_transform(range(len(c.cv)),
        |          k -> CAST(c.cv[k+1] AS DOUBLE) * CAST(qs.qv[k+1] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(c.cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(qs.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS ccos
        |      FROM c, qs))
        |  WHERE rn <= 4),
        |scored AS (
        |  SELECT p.qid, a.vec_id,
        |    CAST(floor((
        |      list_sum(list_transform(range(len(e.embedding)),
        |        k -> CAST(e.embedding[k+1] AS DOUBLE) * CAST(qs.qv[k+1] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(qs.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |      ) * 1000000) AS BIGINT) AS cos_micro
        |  FROM probe p
        |  JOIN asg a ON a.cid = p.cid AND a.rn = 1
        |  JOIN embeddings e ON e.vec_id = a.vec_id
        |  JOIN qs ON qs.qid = p.qid),
        |r AS (SELECT qid, vec_id, cos_micro, row_number() OVER (
        |        PARTITION BY qid ORDER BY cos_micro DESC, vec_id ASC) AS rk
        |      FROM scored)
        |SELECT qid, CAST(rk AS BIGINT) AS rk, vec_id, cos_micro
        |FROM r WHERE rk <= 10 ORDER BY qid, rk""".stripMargin,

    // q75's corpus + cosine spelling verbatim; ranking on the floored
    // micro value so tie order is engine-independent
    "q112_sim_knn_rank" ->
      """WITH u AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000000,
        |         list_transform(range(len(embedding)),
        |           k -> CAST(embedding[k+1] AS DOUBLE)
        |                + ((vec_id * 64 + k) % 13 - 6) * 0.001953125)
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS i, b.vec_id AS j,
        |    list_sum(list_transform(range(len(a.emb)), k -> a.emb[k+1] * b.emb[k+1]))
        |    / (sqrt(list_sum(list_transform(a.emb, x -> x * x)))
        |     * sqrt(list_sum(list_transform(b.emb, x -> x * x)))) AS cos
        |  FROM u a JOIN u b ON a.vec_id < b.vec_id),
        |e AS (SELECT i, j, CAST(floor(cos * 1000000) AS BIGINT) AS cos_micro
        |      FROM p WHERE cos >= 0.85),
        |sym AS (SELECT i AS vec_id, j AS nb, cos_micro FROM e
        |        UNION ALL
        |        SELECT j AS vec_id, i AS nb, cos_micro FROM e),
        |r AS (SELECT vec_id, nb, cos_micro,
        |        row_number() OVER (PARTITION BY vec_id
        |                           ORDER BY cos_micro DESC, nb ASC) AS rk
        |      FROM sym)
        |SELECT vec_id, CAST(rk AS BIGINT) AS rk, nb, cos_micro
        |FROM r WHERE rk <= 3 ORDER BY vec_id, rk""".stripMargin,

    "q59_sim_embed_nn" ->
      """WITH p AS (
        |  SELECT a.vec_id AS i, b.vec_id AS j,
        |    list_sum(list_transform(range(len(a.embedding)),
        |      k -> CAST(a.embedding[k+1] AS DOUBLE) * CAST(b.embedding[k+1] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT i, j, CAST(floor(cos * 1000000) AS BIGINT) AS cos_micro
        |FROM p WHERE cos >= 0.4 ORDER BY i, j""".stripMargin,

    "q67_sim_ivf" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |asg AS (
        |  SELECT vec_id, cid, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
        |  FROM (SELECT e.vec_id, c.cid,
        |      list_sum(list_transform(range(len(e.embedding)),
        |        k -> CAST(e.embedding[k+1] AS DOUBLE) * CAST(c.cv[k+1] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(c.cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |    FROM embeddings e, c)),
        |probe AS (
        |  SELECT cid FROM (
        |    SELECT c.cid,
        |      list_sum(list_transform(range(len(c.cv)),
        |        k -> CAST(c.cv[k+1] AS DOUBLE) * CAST(q.qv[k+1] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(c.cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS ccos
        |    FROM c, q)
        |  ORDER BY ccos DESC, cid ASC LIMIT 4)
        |SELECT vec_id, CAST(floor(cos * 1000000) AS BIGINT) AS cos_micro
        |FROM (SELECT e.vec_id,
        |    list_sum(list_transform(range(len(e.embedding)),
        |      k -> CAST(e.embedding[k+1] AS DOUBLE) * CAST(q.qv[k+1] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM embeddings e, q
        |  WHERE e.vec_id IN (SELECT a.vec_id FROM asg a
        |                     WHERE a.rn = 1 AND a.cid IN (SELECT cid FROM probe)))
        |ORDER BY cos_micro DESC, vec_id ASC LIMIT 10""".stripMargin,

    // q67's oracle with a TRAINED coarse quantizer: one Lloyd round under
    // the fixed seeds, means cast to FLOAT then snapped to the exact
    // 2^-20 grid — the quantization is what makes the trained centroids
    // reproducible across engines despite avg()'s engine-specific float
    // reduction order (any mean within reduction noise of a half-grid
    // boundary would break this; the hash gate would catch it).
    "q110_sim_ivf_trained" ->
      """WITH c0 AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |asg0 AS (
        |  SELECT vec_id, cid, embedding, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
        |  FROM (SELECT e.vec_id, e.embedding, c.cid,
        |      list_sum(list_transform(range(len(e.embedding)),
        |        k -> CAST(e.embedding[k+1] AS DOUBLE) * CAST(c.cv[k+1] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(c.cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |    FROM embeddings e, c0 c)),
        |mean AS (
        |  SELECT cid, pos, avg(x) AS m
        |  FROM (SELECT cid, u.i AS pos, CAST(embedding[u.i+1] AS DOUBLE) AS x
        |        FROM asg0, UNNEST(range(len(embedding))) AS u(i) WHERE rn = 1)
        |  GROUP BY cid, pos),
        |mq AS (SELECT cid, list(CAST(m AS FLOAT) ORDER BY pos) AS mqv FROM mean GROUP BY cid),
        |trained AS (
        |  SELECT s.cid,
        |    list_transform(coalesce(mq.mqv, s.cv),
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1048576.0) / 1048576.0 AS FLOAT)) AS cv
        |  FROM c0 s LEFT JOIN mq ON s.cid = mq.cid),
        |asg1 AS (
        |  SELECT vec_id, cid, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
        |  FROM (SELECT e.vec_id, t.cid,
        |      list_sum(list_transform(range(len(e.embedding)),
        |        k -> CAST(e.embedding[k+1] AS DOUBLE) * CAST(t.cv[k+1] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(t.cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |    FROM embeddings e, trained t)),
        |probe AS (
        |  SELECT cid FROM (
        |    SELECT t.cid,
        |      list_sum(list_transform(range(len(t.cv)),
        |        k -> CAST(t.cv[k+1] AS DOUBLE) * CAST(q.qv[k+1] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(t.cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS ccos
        |    FROM trained t, q)
        |  ORDER BY ccos DESC, cid ASC LIMIT 4)
        |SELECT vec_id, CAST(floor(cos * 1000000) AS BIGINT) AS cos_micro
        |FROM (SELECT e.vec_id,
        |    list_sum(list_transform(range(len(e.embedding)),
        |      k -> CAST(e.embedding[k+1] AS DOUBLE) * CAST(q.qv[k+1] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM embeddings e, q
        |  WHERE e.vec_id IN (SELECT a.vec_id FROM asg1 a
        |                     WHERE a.rn = 1 AND a.cid IN (SELECT cid FROM probe)))
        |ORDER BY cos_micro DESC, vec_id ASC LIMIT 10""".stripMargin,

    "q64_sim_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |c AS (SELECT vec_id,
        |  list_sum(list_transform(range(len(embedding)),
        |    k -> CAST(embedding[k+1] AS DOUBLE) * CAST(qv[k+1] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |   * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM embeddings, q)
        |SELECT vec_id, CAST(floor(cos * 1000000) AS BIGINT) AS cos_micro
        |FROM c ORDER BY cos_micro DESC, vec_id ASC LIMIT 10""".stripMargin
  )
}
