package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryModule, Tables => T}

/** Deduplication over `documents` (q60 exact, q61 near-dup by shingle
  * Jaccard) — SURVEY.md §2-B mandated extension surface.
  *
  * Scale notes:
  *  - q60 is `groupBy(text).agg(min)` — a deterministic-survivor
  *    `dropDuplicates` that shuffles once on the dedup key with map-side
  *    combine. Its shuffle carries document bodies, which is fine at
  *    fixture scale and wrong at 100 TB — q81 is the same plan shape
  *    keyed on a 128-bit md5 fingerprint instead, so the shuffle carries
  *    16-byte digests; survivor identity vs q60 is pinned in
  *    SimilaritySpec.
  *  - q61 is the EXACT pair path: shingle-explode + self-join on shingle +
  *    Jaccard filter. Its cost is bounded by the hottest shingle's document
  *    frequency squared, which is why it is reserved for oracle/fixture
  *    scale — the 100 TB path is q65's MinHash-LSH banding (Similarity),
  *    which buckets candidates first and runs this same exact verification
  *    only within buckets.
  */
object Dedup extends QueryModule {

  /** Pair-count ceiling for [[resolveComponents]]' single-task
    * union-find base case: 1M (i, j) pairs ≈ 16 MB of edge data and ≤ 2M
    * hash-map entries (~200 MB transient) in the one resolving task —
    * comfortable for any executor sized to shuffle real data. The measured
    * crossover is MUCH higher (SCALE.md §"×10 beyond the largest fixture",
    * connected-components table, local[16]: union-find still beats the
    * iterative loop 6× at 8M pairs — 11.2 s vs 70.2 s — and scales
    * linearly), so the bound is executor MEMORY, not speed: ~100 MB of
    * transient hash map per 1M pairs. The iterative pointer-jumping loop
    * takes over past the limit; callers (tests) force either path through
    * `smallLimit`. */
  private[graft] val SmallGraphPairLimit = 1000000L

  /** doc_id + distinct 3-token shingles, one row per (doc, shingle). */
  private[graft] def shingles(s: SparkSession, d: String): DataFrame =
    shinglesOf(T.documents(s, d))

  /** Same shingle build over any (doc_id, text) frame — q113 runs it
    * separately on the standing corpus and the incoming batch. */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(0, size(toks)-3), " +
          "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))")).as("sh"))

  /** Exact Jaccard >= tau pairs from a (doc_id, sh) shingle table.
    *
    * Shape (round 22, OPTIMIZATION_r22.md §1, sf0.1 min-of-5):
    * each side of the self-join carries its own shingle count (`nsh`
    * attached by ONE broadcast of the doc-size aggregate before the
    * join), and the pair aggregate folds ni/nj through as min()s — so
    * the two post-aggregation re-joins of the size table (each a full
    * explode+agg subtree in the old plan: 4 scans of the corpus total)
    * are gone. The self-join is hinted SHUFFLE_HASH: both sides hash-
    * partition on `sh` over canonically identical children, so the
    * planner reuses ONE exchange (the probe side's shuffle is written
    * once and read twice) — with the default broadcast join the build
    * side was a SECOND full computation of the exploded table plus a
    * driver collect+broadcast of every (doc, shingle) row. Duel results:
    * shipped BHJ shape 2.87 s, carry-nsh alone 3.33 s (a wider broadcast
    * build loses), carry-nsh+SMJ 1.91 s, carry-nsh+SHJ 1.70 s — outputs
    * asserted row-identical and the q61 oracle hash is unchanged. At
    * scale the SHJ builds one partition of the shingle table per task
    * (bounded by the hottest shingle's df — the same skew bound the
    * operator's Σdf² cost already carries).
    *
    * Measured and rejected earlier (same discipline as the q66 shape
    * choice): a df>1 semi-join pruning the self-join input to shared
    * shingles benched consistently SLOWER at every fixture SF (q61 sf0.1
    * medians in SCALE.md §"Measured scaling curve"; the pruning variant
    * added ~25% on top) — the extra O(shingles) aggregation shuffle
    * outweighs the join savings on this corpus. At true corpus scale the
    * pruning (or q65's banding, which subsumes it) becomes mandatory;
    * q61 stays the deliberately simple oracle-exact reference. */
  private[graft] def jaccardPairs(sh: DataFrame, tau: Double): DataFrame = {
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val side = sh.join(broadcast(sz), Seq("doc_id"))
    val inter = side.select(col("doc_id").as("i"), col("sh"),
                            col("nsh").as("ni"))
      .join(side.select(col("doc_id").as("j"), col("sh"),
                        col("nsh").as("nj")).hint("shuffle_hash"), Seq("sh"))
      .filter(col("i") < col("j"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("inter"),
           min(col("ni")).as("ni"), min(col("nj")).as("nj"))
    inter
      .withColumn("uni", col("ni") + col("nj") - col("inter"))
      .withColumn("jac", col("inter").cast(DoubleType) / col("uni").cast(DoubleType))
      .filter(col("jac") >= tau)
      .select(col("i"), col("j"), col("inter"), col("uni"), col("jac"))
  }

  /** EXACT Jaccard ≥ tau pairs via PREFIX FILTERING (the PPJoin family,
    * Xiao et al., WWW 2008) — the exact path that stays subquadratic at
    * scale, sitting between q61's naive self-join (exact, Σdf² cost) and
    * q65's MinHash banding (approximate). Theorem: order the universe
    * globally (here: ascending document frequency, ties by shingle text —
    * rare-first maximizes pruning) and take each doc's first
    * |A| − ⌈τ·|A|⌉ + 1 shingles; if J(A,B) ≥ τ then |A∩B| ≥ ⌈τ·|A|⌉, and
    * the globally-SMALLEST element of A∩B must sit inside BOTH prefixes
    * (were it outside A's, the ≥⌈τ|A|⌉−1 intersection elements ranking
    * after it could not fit in A's ⌈τ|A|⌉−1-slot suffix). So joining
    * prefixes only is LOSSLESS; candidates then verify by exact
    * intersection count over the full shingle sets. Candidate cost is
    * Σ over prefix-shingles of df_prefix² — rare-first ordering makes the
    * hot head of the df distribution fall OUT of most prefixes, which is
    * the entire trick. Equality to [[jaccardPairs]] is property-tested on
    * random corpora AND hash-proven by q106 running against q61's oracle
    * SQL verbatim.
    *
    * MEASURED at sf0.1 (SCALE.md q106 row, QTime): the filter cuts
    * candidate pairs 2.8× (1 130 536 → 409 103) and join input rows 1.9×
    * (260 388 → 133 971) even on this WORST-CASE corpus (31-token
    * vocabulary ⇒ no rare shingles; real corpora are Zipfian and prune
    * far harder). Three shipped verify/candidate cost cuts (each
    * measured): per-candidate intersection over per-doc shingle SETS
    * instead of a candidates×shingles re-join (the exploded verify alone
    * cost 2× q61), the lossless size filter (J ≤ min/max sizes) folded
    * into the candidate join, and the native `graft_sorted_inter_count`
    * merge walk replacing size∘array_intersect in the verify (round 9;
    * numbers at the call site below). Post-merge-walk wall-clock at
    * sf0.1 is ~2.2 s — at parity with q61's ~2.3 s ON q61's best-case
    * corpus, with the asymptotics strictly better; earlier rounds' "q61
    * wins the fixture" regime note is closed. A REJECTED materialization
    * experiment for the 4-consumer diamond over `sh`: localCheckpoint'ing
    * the shingle frame benched 4.8-5.1 s vs the 4.4-4.9 s recompute
    * baseline — the explode is cheap (0.5 s of the pipeline) and pinning
    * it costs more than three recomputes, the q83 finding again. */
  private[graft] def jaccardPairsPrefix(sh: DataFrame, tau: Double): DataFrame = {
    val df = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("sh").asc)
    val prefix = sh.join(df, Seq("sh"))
      .withColumn("pos", row_number().over(w))
      .join(sz, Seq("doc_id"))
      .filter(col("pos") <=
        col("nsh") - ceil(col("nsh") * lit(tau)).cast(LongType) + 1)
      .select(col("doc_id"), col("sh"), col("nsh"))
    // size filter folded into the candidate join (lossless: J(A,B) ≤
    // min(|A|,|B|)/max(|A|,|B|), so J ≥ τ needs min/max ≥ τ) — prunes
    // before the distinct, cheap because nsh rides the prefix rows.
    // Spelled as the SAME double division the final jac filter uses:
    // inter/uni ≤ min/max as exact rationals and IEEE rounding is
    // monotone, so fl(inter/uni) ≥ τ ⟹ fl(min/max) ≥ τ for ANY τ. The
    // earlier min ≥ fl(max·τ) spelling could round fl(max·τ) above the
    // exact threshold and drop a boundary pair the jac filter keeps.
    val cand = prefix.select(col("doc_id").as("i"), col("sh"),
                             col("nsh").as("ni"))
      .join(prefix.select(col("doc_id").as("j"), col("sh"),
                          col("nsh").as("nj")), Seq("sh"))
      .filter(col("i") < col("j") &&
        least(col("ni"), col("nj")).cast(DoubleType) /
          greatest(col("ni"), col("nj")).cast(DoubleType) >= lit(tau))
      .select(col("i"), col("j")).distinct()
    // verification via per-candidate array_intersect over per-doc shingle
    // SETS, not a candidates×shingles re-join: the exploded verify was
    // measured at 2× q61's whole naive cost on the fixture (the 409k
    // candidates × ~52 shingles intermediate), while the set join moves
    // one array row per candidate side and intersects hash-wise per row.
    // At scale the sets table shuffles on doc_id (it is corpus-sized;
    // AQE broadcasts it at fixture scale) and verify stays ∝ candidates.
    val sets = sh.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("sh"))).as("shs"))
    // Both verify joins take the sets side SHUFFLE_HASH (round 22): the
    // i-side and j-side exchanges hash the SAME sets aggregate on its
    // doc key, canonicalize identically, and AQE reuses one exchange —
    // the collect_set aggregate (an ObjectHashAggregate over every
    // shingle row) runs ONCE instead of once per side. Measured
    // (OPTIMIZATION_r22.md §6, min-of-7 interleaved): min 2.06 -> 1.95 s,
    // medians ~8% better; outputs asserted row-identical. q111's
    // containment twin measured WORSE with the same hint (1.54 -> 1.74
    // — its candidate side is container-heavy and the extra shuffle of
    // cand outweighs the saved aggregate), so it keeps the broadcast
    // shape — the q79/q97 lesson that reuse only pays when the reused
    // subtree is the expensive one.
    val inter = cand
      .join(sets.select(col("doc_id").as("i"), col("shs").as("shi"))
              .hint("shuffle_hash"), Seq("i"))
      .join(sets.select(col("doc_id").as("j"), col("shs").as("shj"))
              .hint("shuffle_hash"), Seq("j"))
      .select(col("i"), col("j"),
        // native merge walk over the sorted sets (graft_sorted_inter_count)
        // instead of size(array_intersect(...)): array_intersect hash-sets
        // one side and ALLOCATES the intersection array per candidate just
        // to take its size — the merge walk is allocation-free and stays in
        // whole-stage codegen. Measured (SCALE.md q106 row, sf0.1, med-of-3):
        // full pipeline 4.10 s -> 1.86 s; also beats a 64-bit-hashed-
        // identity pipeline (2.38 s) while keeping STRING identity, so the
        // "exact" claim carries no hash-collision footnote (an md5-binary
        // identity variant benched 26 s — binary arrays fall off the fast
        // comparison path entirely).
        expr("graft_sorted_inter_count(shi, shj)").as("inter"),
        size(col("shi")).cast(LongType).as("ni"),
        size(col("shj")).cast(LongType).as("nj"))
    inter
      .withColumn("uni", col("ni") + col("nj") - col("inter"))
      .withColumn("jac",
        col("inter").cast(DoubleType) / col("uni").cast(DoubleType))
      .filter(col("jac") >= tau)
      .select(col("i"), col("j"), col("inter"), col("uni"), col("jac"))
  }

  /** DIRECTED containment pairs: (i, j) with |Sᵢ∩Sⱼ| / |Sᵢ| ≥ τ — "doc i's
    * shingles are τ-contained in doc j". The asymmetric sibling of
    * [[jaccardPairsPrefix]], and a different curation signal: Jaccard
    * misses a short document quoted inside a much longer one (the union
    * dilutes it — a 50-shingle doc fully embedded in a 5000-shingle doc
    * has jac ≈ 0.01 but containment 1.0), which is exactly the
    * quote/boilerplate-subset duplication a training corpus needs to
    * catch. Prefix filtering adapts asymmetrically (Xiao et al.'s
    * containment variant): only the CONTAINED side prunes — inter ≥ τ·nᵢ
    * forces an element of Sᵢ∩Sⱼ into Sᵢ's first nᵢ − ⌊τ·nᵢ⌋ + 1 shingles
    * under the global rare-first order, so the candidate join is
    * i-prefix × j-ALL; the j side prunes only by the size bound (inter ≤
    * nⱼ ⇒ nⱼ/nᵢ ≥ τ, spelled as the SAME double division as the final
    * containment filter — the q106 rounding discipline, lossless for any
    * τ). The prefix bound uses ⌊τ·nᵢ⌋ rather than PPJoin's ⌈·⌉: one extra
    * prefix element per doc buys immunity from fl(τ·nᵢ) rounding above
    * an exact integer threshold, the same last-ulp hole the ADVICE found
    * in q106's size filter. Verify is the [[graft.expressions.SortedIntersectCount]]
    * merge walk over sorted sets. Candidate cost: Σ_sh df_prefix(sh)·df(sh)
    * — the j side not pruning is inherent to containment (a hot shingle's
    * containers must all be examined), and rare-first ordering still drops
    * the df head out of the i prefixes. Lossless-ness vs a naive
    * all-pairs reference is property-tested ∀ corpus/τ (PropertySpec);
    * q111 runs against a DuckDB oracle computing the same directed pairs. */
  private[graft] def containmentPairs(sh: DataFrame, tau: Double): DataFrame = {
    val df = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("sh").asc)
    val prefix = sh.join(df, Seq("sh"))
      .withColumn("pos", row_number().over(w))
      .join(sz, Seq("doc_id"))
      .filter(col("pos") <=
        col("nsh") - floor(col("nsh") * lit(tau)).cast(LongType) + 1)
      .select(col("doc_id"), col("sh"), col("nsh"))
    val cand = prefix.select(col("doc_id").as("i"), col("sh"),
                             col("nsh").as("ni"))
      .join(sh.join(sz, Seq("doc_id"))
              .select(col("doc_id").as("j"), col("sh"),
                      col("nsh").as("nj")), Seq("sh"))
      .filter(col("i") =!= col("j") &&
        col("nj").cast(DoubleType) / col("ni").cast(DoubleType) >= lit(tau))
      .select(col("i"), col("j")).distinct()
    val sets = sh.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("sh"))).as("shs"))
    cand
      .join(sets.select(col("doc_id").as("i"), col("shs").as("shi")), Seq("i"))
      .join(sets.select(col("doc_id").as("j"), col("shs").as("shj")), Seq("j"))
      .select(col("i"), col("j"),
        expr("graft_sorted_inter_count(shi, shj)").as("inter"),
        size(col("shi")).cast(LongType).as("ni"))
      .withColumn("cont",
        col("inter").cast(DoubleType) / col("ni").cast(DoubleType))
      .filter(col("cont") >= tau)
      .select(col("i"), col("j"), col("inter"), col("ni"), col("cont"))
  }

  /** INCREMENTAL dedup — q113/q120: a new batch of documents deduped
    * against the STANDING corpus, the operational mode a 100 TB pipeline
    * actually runs (you never re-dedup the whole corpus; you gate each
    * day's increment against it). Fixture split: base = doc_id % 10 ≠ 0
    * (the corpus), batch = % 10 = 0 (the increment), with exact
    * duplicates PLANTED into the batch (every 30th doc, see below) so all
    * three verdict arms fire on the fixture. Verdict per batch doc,
    * strongest first:
    *  - `exact_dup` — md5(text) already present in the base; witness =
    *    the smallest base doc with that fingerprint (q81's 16-byte-key
    *    discipline: text never crosses an Exchange);
    *  - `near_dup` — Jaccard(3-shingles) ≥ 0.5 against some base doc;
    *    witness = the smallest such base doc;
    *  - `new` — neither; witness NULL.
    *
    * The gate is split into an INDEX (everything derivable from the base
    * corpus alone: fingerprints, shingle df, rare-first prefixes, sorted
    * shingle sets — [[buildIncIndex]]) and a PROBE over it
    * ([[incrementalGate]]). q113 builds the index inline per run (a
    * driver run has no standing warehouse to inherit); q120 probes the
    * SAME index staged once per session as bucketed parquet
    * ([[incServing]]) — the maintained-index mode, where per-run cost is
    * the batch probe and the base corpus is never re-scanned. Both hash
    * the identical verdict oracle. */
  private[graft] val IncTau = 0.5

  /** The standing-corpus half of the fixture split. */
  private[graft] def incBase(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)

  /** The increment half: every 30th batch doc takes its SUCCESSOR's text
    * (always a base doc: ids ending in 0 have successors ending in 1) —
    * planted exact duplicates, because the synthetic corpus has none of
    * its own and an incremental gate whose exact arm never fires proves
    * nothing. */
  private[graft] def incBatchOf(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .join(docs.select((col("doc_id") - 1).as("doc_id"),
                        col("text").as("donor_text")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(30)) === 0 && col("donor_text").isNotNull,
          col("donor_text")).otherwise(col("text")).as("text"))

  /** Everything the incremental gate needs FROM THE BASE CORPUS ALONE —
    * the artifact a deployment maintains (append per accepted batch,
    * re-stage to refresh the df ordering) instead of recomputing:
    *  - `fp`     (fp, exact_witness): min base doc per md5 fingerprint;
    *  - `df`     (sh, df): base document frequency per shingle — the
    *    FROZEN global ordering both sides rank prefixes under. Prefix
    *    filtering is lossless under ANY fixed total order (the minimal
    *    common element argument below never reads df), so a stale
    *    ordering only costs pruning power, never recall — which is what
    *    makes append-only maintenance sound;
    *  - `prefix` (j, sh, nj): each base doc's first nⱼ − ⌈τ·nⱼ⌉ + 1
    *    shingles under (df asc, sh asc);
    *  - `sets`   (j, shj): each base doc's sorted shingle set, for the
    *    merge-walk verify. */
  private[graft] case class IncIndex(fp: DataFrame, df: DataFrame,
                                     prefix: DataFrame, sets: DataFrame)

  /** The shingle-side index triple (df, prefix, sets) from a base (doc_id,
    * sh) table — separated from the fingerprint build so the property test
    * drives the EXACT production prefix construction. */
  private[graft] def shingleIndexOf(shC: DataFrame, tau: Double)
      : (DataFrame, DataFrame, DataFrame) = {
    val dfT = shC.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val szC = shC.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("sh").asc)
    val prefix = shC.join(dfT, Seq("sh"))
      .withColumn("pos", row_number().over(w))
      .join(szC, Seq("doc_id"))
      .filter(col("pos") <=
        col("nsh") - ceil(col("nsh") * lit(tau)).cast(LongType) + 1)
      .select(col("doc_id").as("j"), col("sh"), col("nsh").as("nj"))
    val sets = shC.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("sh"))).as("shj"))
      .select(col("doc_id").as("j"), col("shj"))
    (dfT, prefix, sets)
  }

  private[graft] def buildIncIndex(base: DataFrame,
                                   tau: Double): IncIndex = {
    val baseFp = base
      .select(md5(col("text")).as("fp"), col("doc_id").as("bid"))
      .groupBy(col("fp")).agg(min(col("bid")).as("exact_witness"))
    val (dfT, prefix, sets) = shingleIndexOf(shinglesOf(base), tau)
    IncIndex(baseFp, dfT, prefix, sets)
  }

  /** Batch-vs-base Jaccard ≥ τ pairs by ASYMMETRIC prefix filtering — the
    * cross-corpus sibling of [[jaccardPairsPrefix]], replacing the raw
    * shingle equi-join whose candidate count ∝ Σ_sh df_batch·df_base (a
    * hot shingle blows that up on a Zipfian corpus). Lossless by the same
    * minimal-common-element argument: J(A,B) ≥ τ ⟹ |A∩B| ≥ τ·|A∪B| ≥
    * ⌈τ·|A|⌉ and ≥ ⌈τ·|B|⌉; the O-smallest element x of A∩B has every
    * other common element ranking after it on BOTH sides, so pos_A(x) ≤
    * |A| − ⌈τ|A|⌉ + 1 and pos_B(x) ≤ |B| − ⌈τ|B|⌉ + 1 — x sits in both
    * prefixes, whatever total order O is (batch-only shingles ranking
    * early consume batch prefix slots but never displace the bound: it
    * counts common elements from the END). Batch shingles rank under the
    * index's FROZEN df (unseen-in-base → df 0, rarest — they cannot be
    * common, so pruning only improves). Candidates carry the q106 size
    * filter (same double-division spelling as the final jac filter);
    * verify is the allocation-free `graft_sorted_inter_count` merge walk
    * over the sorted sets. Equality to the naive cross join is
    * property-tested ∀ corpus/τ (PropertySpec) and hash-proven by
    * q113/q120 running the raw-join verdict oracle verbatim. */
  private[graft] def crossJaccardPrefix(shB: DataFrame, ix: IncIndex,
                                        tau: Double): DataFrame = {
    val szB = shB.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("sh").asc)
    val prefB = shB.join(ix.df, Seq("sh"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("pos", row_number().over(w))
      .join(szB, Seq("doc_id"))
      .filter(col("pos") <=
        col("nsh") - ceil(col("nsh") * lit(tau)).cast(LongType) + 1)
      .select(col("doc_id").as("i"), col("sh"), col("nsh").as("ni"))
    val cand = prefB.join(ix.prefix, Seq("sh"))
      .filter(least(col("ni"), col("nj")).cast(DoubleType) /
        greatest(col("ni"), col("nj")).cast(DoubleType) >= lit(tau))
      .select(col("i"), col("j")).distinct()
    val setsB = shB.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("sh"))).as("shi"))
      .select(col("doc_id").as("i"), col("shi"))
    cand
      .join(setsB, Seq("i"))
      .join(ix.sets, Seq("j"))
      .select(col("i"), col("j"),
        expr("graft_sorted_inter_count(shi, shj)").as("inter"),
        size(col("shi")).cast(LongType).as("ni"),
        size(col("shj")).cast(LongType).as("nj"))
      .withColumn("uni", col("ni") + col("nj") - col("inter"))
      .withColumn("jac",
        col("inter").cast(DoubleType) / col("uni").cast(DoubleType))
      .filter(col("jac") >= tau)
      .select(col("i"), col("j"), col("inter"), col("uni"), col("jac"))
  }

  /** The verdict probe over an [[IncIndex]] — every join is batch-vs-base
    * with the BATCH side small: the fingerprint probe is batch-rows ×
    * 16-byte keys against the fp index, the near stage is
    * [[crossJaccardPrefix]] (batch prefixes against the index's
    * precomputed base prefixes — never a raw shingle product). */
  private[graft] def incrementalGate(batch: DataFrame, ix: IncIndex,
                                     tau: Double): DataFrame = {
    val exact = batch.select(col("doc_id"), md5(col("text")).as("fp"))
      .join(ix.fp, Seq("fp"), "left")
      .select(col("doc_id"), col("exact_witness"))
    val near = crossJaccardPrefix(shinglesOf(batch), ix, tau)
      .groupBy(col("i")).agg(min(col("j")).as("near_witness"))
    exact
      .join(near.withColumnRenamed("i", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_witness").isNotNull, lit("exact_dup"))
          .when(col("near_witness").isNotNull, lit("near_dup"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("exact_witness"), col("near_witness")).as("witness"))
  }

  private[graft] def incrementalDedup(docs: DataFrame): DataFrame =
    incrementalGate(incBatchOf(docs), buildIncIndex(incBase(docs), IncTau),
      IncTau)

  /** The STAGED incremental index for a fixture dir — q120's serving
    * artifact, built once per (session, dir) with the ivfServing/
    * simhashServing discipline. Each of the four tables is BUCKETED on
    * its probe key (fp / sh / sh / j), so at scale every gate join leaves
    * the corpus-sized index side Exchange-free: only the (small) batch
    * side shuffles into the index's bucketing. A deployment appends
    * accepted-batch rows to fp/prefix/sets under the frozen df order and
    * re-stages periodically to refresh the ordering (see [[IncIndex]] —
    * staleness costs pruning, never recall). */
  private[graft] def incServing(s: SparkSession, d: String): IncIndex =
    synchronized {
      val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
      val fpT = s"graft_inc_fp_$sfx"
      val dfT = s"graft_inc_df_$sfx"
      val pxT = s"graft_inc_px_$sfx"
      val stT = s"graft_inc_sets_$sfx"
      if (!s.catalog.tableExists(fpT)) {
        val ix = buildIncIndex(incBase(T.documents(s, d)), IncTau)
        Layout.stageBucketed(ix.fp, fpT, "fp", 8)
        Layout.stageBucketed(ix.df, dfT, "sh", 8)
        Layout.stageBucketed(ix.prefix, pxT, "sh", 8)
        Layout.stageBucketed(ix.sets, stT, "j", 8)
      }
      IncIndex(s.table(fpT), s.table(dfT), s.table(pxT), s.table(stT))
    }

  /** APPEND a gated batch's accepted documents to an [[IncIndex]] — the
    * maintenance step the index's scaladoc promises, as a pure frame
    * composition (the registered q123 must stay idempotent per run, so
    * it never mutates the staged tables; a deployment runs this same
    * composition then re-stages). The df ORDER STAYS FROZEN: appended
    * docs' prefixes rank under the existing df (unseen shingles → df 0,
    * exactly how probe-side prefixes rank), which keeps the global order
    * consistent across every indexed doc — prefix filtering is lossless
    * under any fixed total order, so staleness costs pruning power,
    * never recall. Known (and documented) semantics: two identical docs
    * accepted in the SAME batch both land in prefix/sets (the gate
    * judges batch-vs-index, not batch-vs-batch); their shared
    * fingerprint collapses to the min witness, so a later probe sees
    * one exact survivor. */
  private[graft] def incAppend(ix: IncIndex, accepted: DataFrame,
                               tau: Double): IncIndex = {
    // accepted ⟹ verdict `new` ⟹ the doc's fp is NOT in ix.fp, so the
    // union needs no re-aggregation (within-batch fp collisions collapse
    // to their min witness here) — the index side stays a plain staged-
    // table scan, never re-shuffled per probe
    val fpNew = accepted
      .select(md5(col("text")).as("fp"), col("doc_id").as("bid"))
      .groupBy(col("fp")).agg(min(col("bid")).as("exact_witness"))
    val fp2 = ix.fp.unionByName(fpNew)
    val shA = shinglesOf(accepted)
    val szA = shA.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("sh").asc)
    val prefA = shA.join(ix.df, Seq("sh"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("pos", row_number().over(w))
      .join(szA, Seq("doc_id"))
      .filter(col("pos") <=
        col("nsh") - ceil(col("nsh") * lit(tau)).cast(LongType) + 1)
      .select(col("doc_id").as("j"), col("sh"), col("nsh").as("nj"))
    val setsA = shA.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("sh"))).as("shj"))
      .select(col("doc_id").as("j"), col("shj"))
    IncIndex(fp2, ix.df,
      ix.prefix.unionByName(prefA), ix.sets.unionByName(setsA))
  }

  /** q120's batch frame, checkpointed once per (session, dir): the
    * operational gate runs against an already-landed increment, so the
    * per-run plan must not re-derive the batch from the corpus either —
    * with both the index staged and the batch pinned, the executed plan
    * reads ONLY index files (spec-pinned in LayoutSpec). Weak session
    * keys unpin stopped sessions (the q112/q115 cache discipline). */
  private val incBatchCache =
    new scala.collection.mutable.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, DataFrame]]
  private[graft] def incBatchCached(s: SparkSession, d: String): DataFrame =
    synchronized {
      incBatchCache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(d,
          incBatchOf(T.documents(s, d)).localCheckpoint(true))
    }

  /** q123's two-day fixture split of the cached batch: day 1 = batch ids
    * divisible by 20, day 2 = the rest, with ADDITIONAL duplicates
    * planted ACROSS the days: every id ≡ 10 mod 60 takes the text of
    * id + 10 — a day-1 doc that is ≡ 20 mod 60, so NOT a phase-1
    * planted dup (ids ≡ 0 mod 30 copy a base doc's text and are
    * rejected in phase 1 — a donor must be a doc the gate ACCEPTS, or
    * the appended index never changes a day-2 verdict and the fixture
    * proves nothing; LayoutSpec pins that day-1 witnesses actually
    * appear in phase 2). */
  private[graft] def incDay1(full: DataFrame): DataFrame =
    full.filter(pmod(col("doc_id"), lit(20)) === 0)

  private[graft] def incDay2(full: DataFrame): DataFrame =
    full.filter(pmod(col("doc_id"), lit(20)) =!= 0)
      .join(full.select((col("doc_id") - 10).as("doc_id"),
                        col("text").as("donor2")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(60)) === 10 && col("donor2").isNotNull,
          col("donor2")).otherwise(col("text")).as("text"))

  /** Day-1 verdicts + the day-1-appended index, built once per (session,
    * dir): q123's output and its day-2 probe BOTH consume the day-1 gate,
    * and the appended-index pieces are referenced once per gate join —
    * uncached, each reference re-runs the whole day-1 probe. The verdict
    * frame and the appended rows are day-1-bounded (hundreds of rows at
    * fixture scale, batch-bounded at any scale), so they pin like the
    * other per-session artifacts; weak keys unpin stopped sessions. */
  private val incPhase1Cache =
    new scala.collection.mutable.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, (DataFrame, IncIndex)]]
  private[graft] def incPhase1(s: SparkSession, d: String): (DataFrame, IncIndex) =
    synchronized {
      incPhase1Cache.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate(d, {
          val ix = incServing(s, d)
          val day1 = incDay1(incBatchCached(s, d))
          val v1 = incrementalGate(day1, ix, IncTau).localCheckpoint(true)
          val accepted = day1
            .join(v1.filter(col("verdict") === lit("new")).select("doc_id"),
                  Seq("doc_id"))
          val ix2raw = incAppend(ix, accepted, IncTau)
          val ix2 = IncIndex(
            ix2raw.fp, ix2raw.df,
            ix2raw.prefix.localCheckpoint(true),
            ix2raw.sets.localCheckpoint(true))
          (v1, ix2)
        })
    }

  /** 60-bit tf-weighted SimHash signatures, one row per doc, in either of
    * two plan shapes (value-identical; pinned by SimilaritySpec, shape
    * timings recorded in SCALE.md's q66 row):
    *
    *  - wide (`wide = true`, the SHIPPED q66 path since round 5): md5
    *    computed once per (doc, token), then ONE aggregate with 60 sum
    *    columns. Fewer shuffle rows; wins at every fixture SF and the gap
    *    grows with data (SCALE.md q66 row).
    *  - explode (`wide = false`, the kept-alive alternate shape): explode
    *    x60 bit rows, two narrow hash aggregates. Every operator stays
    *    inside whole-stage codegen, but the x60 row blow-up dominates as
    *    the corpus grows (round 3 picked this; round 5's re-measurement
    *    at sf0.1 inverted the choice).
    */
  private[graft] def simhashSignatures(s: SparkSession, d: String,
                                       wide: Boolean): DataFrame =
    simhashSignaturesOf(T.documents(s, d), wide)

  /** Same signature build over any (doc_id, text) frame — q83 runs it on
    * the quality-filtered, exact-deduped survivor set rather than the raw
    * corpus. */
  private[graft] def simhashSignaturesOf(docs: DataFrame,
                                         wide: Boolean): DataFrame = {
    // The 60 hash bits come from md5's first 15 hex nibbles. The ORACLE
    // spells each bit as instr('0123456789abcdef', substr(h, b/4+1, 1))
    // per bit; evaluating that 60× per (doc, token) row is ~120M substr
    // allocations at sf0.1. Instead fold the 15 nibbles into ONE BIGINT
    // with conv(substr(md5, 1, 15), 16, 10) — hex digit p (1-based) is
    // then (hv >> 4*(15-p)) & 15, so bit b = (digit >> (b%4)) & 1 becomes
    // the pure long shift (hv >> (4*(14 - b/4) + b%4)) & 1, value-equal to
    // the oracle's per-nibble spelling (hash-checked by q66/q79/q83).
    //
    // Tokens never reach an Exchange in either shape: hv is computed
    // map-side, and what shuffles is either (doc, hv, tf) longs (explode
    // shape) or the 60 partially-aggregated per-bit sums (wide shape).
    val hvRows = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .select(col("doc_id"),
        expr("CAST(conv(substr(md5(token), 1, 15), 16, 10) AS BIGINT)").as("hv"))
    if (!wide) {
      // The tf aggregate groups by (doc, hv) rather than (doc, token): a
      // token's ONLY downstream effect is its hash's bit pattern, and two
      // tokens sharing hv contribute identical ±tf terms to every w_b, so
      // regrouping the exact-integer sums by hv is value-identical to the
      // oracle's per-token grouping while the shuffle carries an 8-byte
      // long instead of the token string.
      val tf = hvRows.groupBy(col("doc_id"), col("hv")).agg(count(lit(1)).as("tf"))
      tf.select(col("doc_id"), col("hv"), col("tf"),
                explode(expr("sequence(0, 59)")).as("b"))
        .withColumn("bit", expr(
          "shiftright(hv, 4 * (14 - CAST(b DIV 4 AS INT)) + CAST(b % 4 AS INT)) & 1"))
        .groupBy(col("doc_id"), col("b"))
        .agg(sum(when(col("bit") === 1, col("tf")).otherwise(-col("tf"))).as("w"))
        .groupBy(col("doc_id"))
        .agg(sum(when(col("w") > 0, expr("shiftleft(CAST(1 AS BIGINT), b)"))
          .otherwise(0L)).as("sh"))
    } else {
      // Wide shape skips the (doc, hv) tf pre-aggregate entirely: per-bit
      // ±1 terms sum directly under groupBy(doc_id), whose partial
      // aggregation runs map-side — so the whole signature is ONE shuffle
      // carrying a (doc_id, 60 longs) row per doc per map task. Summing
      // ±1 per token occurrence is the same exact-integer total as ±tf
      // per hv group (the explode-vs-wide identity spec pins this).
      val ws = (0 until 60).map { b =>
        sum(when(expr(s"shiftright(hv, ${4 * (14 - b / 4) + b % 4}) & 1") === 1,
          lit(1L)).otherwise(lit(-1L))).as(s"w$b")
      }
      val sig = (0 until 60)
        .map(b => when(col(s"w$b") > 0, lit(1L << b)).otherwise(0L))
        .reduce(_ + _)
      hvRows.groupBy(col("doc_id")).agg(ws.head, ws.tail: _*)
        .select(col("doc_id"), sig.as("sh"))
    }
  }

  /** The (doc_id, sh) SimHash signature INDEX for a fixture dir, staged
    * once per (session, sf) — the offline index build of the near-dup
    * serving path, same discipline as [[Similarity.ivfServing]]: a dedup
    * service computes signatures once at ingest time, then every
    * pair-find / cluster-resolution query reads the index instead of
    * re-hashing the corpus. q79 serves from THIS table (its identity is
    * pairs→clusters resolution, not signature building); q66 keeps the
    * inline build on purpose — the signature build IS that operator, and
    * its no-token-in-Exchange spec pins the build plan's shuffle
    * discipline. First call pays the build (Bench warms it untimed, like
    * q67's cell index). Synchronized: concurrently-running suites share
    * the session. */
  private[graft] def simhashServing(s: SparkSession, d: String): DataFrame =
    synchronized {
      val tbl = "graft_simhash_serve_" + d.replaceAll("[^A-Za-z0-9]", "_")
      if (!s.catalog.tableExists(tbl))
        Layout.stageTable(simhashSignatures(s, d, wide = true), tbl)
      s.table(tbl)
    }

  /** Near-dup pairs (hamming <= 3) from (doc_id, sh) signatures via the
    * 4x15-bit band join — pigeonhole-exact at that radius. UNSORTED:
    * q66's output contract adds the global orderBy on top; consumers that
    * immediately re-shuffle the pairs (q79/q83's component resolution)
    * take this form and skip a pointless range-partition sort of the
    * largest near-dup intermediate. */
  private[graft] def simhashPairsUnsorted(sigs: DataFrame,
                                          reuseExchange: Boolean = false)
      : DataFrame = {
    val bands = sigs.select(col("doc_id"), col("sh"),
      explode(expr("sequence(0, 3)")).as("bi"))
      .withColumn("bv", expr("shiftright(sh, bi * 15) & 32767"))
    // `reuseExchange` hints the band self-join SHUFFLE_HASH (round 22 —
    // the q61 exchange-reuse shape): both sides hash-partition on
    // (bi, bv) over canonically identical children, so AQE reuses ONE
    // exchange and the signature pipeline upstream executes once — under
    // the default broadcast join the build side is a second full
    // computation plus a driver collect of every (doc, band) row. Worth
    // it ONLY when that upstream is expensive (an INLINE signature
    // build): measured A/B at sf0.1 (QTime min-of-5, same session shape)
    // q83 1.91 -> 1.48 s and q66 1.16 -> 1.11 s with the hint, but q79 —
    // whose signatures come from the staged index, a bare parquet scan —
    // reads 0.77 -> 0.88 s (the reused shuffle costs more than the
    // second scan it saves), so the staged-index caller keeps the
    // broadcast shape. Outputs are hash-identical either way (same
    // candidate set; the oracle gate pins all three).
    val right = bands.select(col("doc_id").as("j"), col("sh").as("shj"),
                             col("bi"), col("bv"))
    val cand = bands.select(col("doc_id").as("i"), col("sh").as("shi"),
                            col("bi"), col("bv"))
      .join(if (reuseExchange) right.hint("shuffle_hash") else right,
            Seq("bi", "bv"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"), col("shi"), col("shj")).distinct()
    cand
      .withColumn("hamming", expr("CAST(bit_count(shi ^ shj) AS BIGINT)"))
      .filter(col("hamming") <= 3)
      .select(col("i"), col("j"), col("hamming"))
  }

  private[graft] def simhashPairs(sigs: DataFrame): DataFrame =
    simhashPairsUnsorted(sigs, reuseExchange = true)
      .orderBy(col("i"), col("j"))

  /** Connected components over an undirected pair graph ((i, j) rows,
    * i < j canonical) by iterative min-label propagation: every node starts
    * labeled with itself; each round every node takes the min of its own
    * label and its neighbors' labels; at fixpoint a node's label is the
    * smallest node id in its component. This is the Pregel formulation of
    * connected components — O(component diameter) rounds, each round one
    * equi-join plus one map-side-combining aggregate on fixed-width Long
    * rows, all distributed (the ONLY driver-side value per round is the
    * one-Long convergence count). Near-dup components are overwhelmingly
    * star/clique shaped (copies of one source document), so the diameter —
    * and the round count — is small in practice; for adversarially DEEP
    * graphs the loop is still O(log diameter), not O(diameter): the
    * pointer jump folded into the propagation join (below) is the essence
    * of the star operations of Kiveris et al., "Connected Components in
    * MapReduce and Beyond" (SoCC 2014) — each round a node reaches its
    * label's label, so the reach doubles per round. PropertySpec pins the
    * bound on the adversarial shape: a diameter-1024 chain, forced onto
    * this iterative path, must converge in <= 2*log2(d) + 2 rounds.
    *
    * Each round materializes into a `localCheckpoint` — `labels` appears
    * TWICE in the next round's plan (once as the union branch, once under
    * the neighbor join), so without plan truncation the logical tree
    * doubles per round and a diameter-d graph builds a 2^d-node plan
    * before a single task runs. Checkpointing keeps the plan O(1) per
    * round and retries replay at most one round. (On a real cluster the
    * same loop would use reliable `checkpoint` instead — executor-local
    * blocks don't survive executor loss.)
    *
    * Per-round cost cuts (each measured on the sf0.1 bench, where fixed
    * per-round cost — not data — dominates the ~1000-edge fixture graph at
    * ~0.5 s/round of pure scheduling overhead):
    *  - the input pair frame is materialized ONCE before the
    *    both-directions union (its two branches would otherwise each
    *    recompute the whole upstream near-dup pipeline inside the union's
    *    first job);
    *  - round 0 is fused into initialization (label = min(self, direct
    *    neighbors));
    *  - ONE join per propagation step, not two: the pointer jump
    *    (node → label-of-its-label, the PRAM/Pregel doubling trick and the
    *    essence of Kiveris et al.'s star operations) is expressed as
    *    synthetic edges (lbl(n) → n) unioned with the real edges, so
    *    neighbor propagation and the jump share a single equi-join + one
    *    map-side-combining min-aggregate. The explicit keep-own-label
    *    union branch is gone too: the jump term lbl(lbl(n)) ≤ lbl(n)
    *    (labels are node ids and lbl(m) ≤ m is an invariant), so the old
    *    self branch never won the min anyway;
    *  - the loop's width follows the GRAPH, not the corpus: edges are
    *    coalesced to ~250k rows/partition (clamped by the session's
    *    parallelism), so a small pair graph doesn't run 32-task waves per
    *    stage. At 100 TB the pair graph is still orders of magnitude
    *    smaller than the corpus — sizing the fixpoint loop to the corpus'
    *    shuffle width is pure overhead;
    *  - convergence is detected by the label-sum invariant instead of a
    *    self-join: labels are per-node non-increasing, so sum(lbl)
    *    unchanged ⟺ every label unchanged — ONE aggregate action per round
    *    (which also materializes the lazy checkpoint), no join;
    *  - the rounds run with AQE disabled and the shuffle width pinned to
    *    the graph-sized nparts — in a CHILD session (own SQLConf, shared
    *    context/cache), so concurrent work in the caller's session is
    *    never planned under the loop's conf: each round is a short fixed
    *    pipeline whose shapes are fully known here, and AQE's per-stage
    *    materialize-and-replan was measured at ~40% of the round latency
    *    on the fixture graph;
    *  - each round's localCheckpoint blocks are RELEASED as soon as the
    *    next round has materialized (the superseded round is never read
    *    again), so a long-lived session resolving many graphs doesn't
    *    accumulate executor storage until ContextCleaner GC.
    * BASE CASE: when the pair list fits comfortably in ONE task
    * ([[SmallGraphPairLimit]]), the iterative machinery is pure overhead —
    * O(log diameter) scheduled rounds to resolve a graph a single
    * union-find pass walks in milliseconds. Such graphs are the COMMON
    * case at every scale: the pair graph of a deduplicated batch is
    * orders of magnitude smaller than the corpus (sf0.1: 512 pairs from
    * 5k docs; the ×10 probe: 187k pairs from 50k docs). The base case
    * runs the union-find INSIDE one executor task over the coalesced pair
    * partition — not a driver collect; the driver never sees a row — and
    * the loop remains the path for graphs past the threshold. Both paths
    * are checked against the same reference on random graphs
    * (PropertySpec forces each via the `smallLimit` parameter).
    *
    * Returns (node, lbl) for every node that appears in some pair. */
  private[graft] def resolveComponents(
      pairs: DataFrame,
      smallLimit: Long = SmallGraphPairLimit): DataFrame =
    resolveComponentsWithRounds(pairs, smallLimit)._1

  /** [[resolveComponents]] plus the propagation-round count the iterative
    * loop took (0 for the union-find base case) — the observable the
    * O(log diameter) convergence property test pins. */
  private[graft] def resolveComponentsWithRounds(
      pairs: DataFrame,
      smallLimit: Long = SmallGraphPairLimit): (DataFrame, Int) = {
    val p = pairs.persist()
    val nPairs = p.count()
    if (nPairs <= smallLimit) {
      val sp = p.sparkSession
      import sp.implicits._
      // Eager checkpoint: downstream consumers reference the labels frame
      // more than once (q79 derives both `resolved` and `sizes` from it),
      // and the checkpoint must materialize BEFORE p.unpersist() or its
      // first execution would recompute the whole upstream pair pipeline.
      val labels = p.select(col("i"), col("j")).as[(Long, Long)]
        .coalesce(1)
        .mapPartitions { it =>
          val parent = scala.collection.mutable.HashMap.empty[Long, Long]
          def find(x: Long): Long = {
            var r = x
            while (parent(r) != r) r = parent(r)
            var c = x
            while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
            r
          }
          it.foreach { case (i, j) =>
            parent.getOrElseUpdate(i, i)
            parent.getOrElseUpdate(j, j)
            val (ri, rj) = (find(i), find(j))
            // union by MIN: the root of every set is its smallest node id,
            // so find(n) at the end IS the q79 survivor label
            if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
          }
          // snapshot the keys before the final find() sweep: find() path-
          // compresses (value writes) while we iterate, and mutation under
          // keysIterator — even non-structural — is fragile across map
          // implementations
          val ks = parent.keys.toArray
          ks.iterator.map(n => (n, find(n)))
        }
        .toDF("node", "lbl")
        .localCheckpoint(true)
      p.unpersist()
      return (labels, 0)
    }
    val sp = p.sparkSession
    val sc = sp.sparkContext
    val nparts = math.max(1L, math.min(sc.defaultParallelism * 4L,
      nPairs * 2 / 250000L + 1)).toInt
    // CONF ISOLATION (round-7 advice): the loop wants AQE off and the
    // shuffle width pinned to the graph-sized nparts. Mutating the caller's
    // session conf races any concurrently-planned query (suites share one
    // session), so the loop runs in a CHILD session instead —
    // `newSession()` shares the SparkContext, cache and catalog but owns
    // its SQLConf, so nothing outside this method can ever be planned
    // under the loop's conf and there is nothing to restore. The edge
    // pipeline is carried over as an RDD handle (session-agnostic; it
    // still reads the persisted `p` blocks), and every frame that escapes
    // is a materialized localCheckpoint (a LogicalRDD leaf), so downstream
    // consumers compose with parent-session frames with no conf or catalog
    // dependency on the child.
    val child = sp.newSession()
    child.conf.set("spark.sql.adaptive.enabled", "false")
    child.conf.set("spark.sql.shuffle.partitions", nparts.toString)
    val edgePipe = p.select(col("i"), col("j"))
      .unionAll(p.select(col("j").as("i"), col("i").as("j")))
      .coalesce(nparts)
    val edges = child.createDataFrame(edgePipe.rdd, edgePipe.schema).persist()
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("lbl")), lit(0L))).head.getLong(0)
    // one min-label propagation step: across every real edge (i, j) AND
    // every pointer edge (lbl(n), n), the target takes the source's label.
    // (A broadcast-labels variant was measured at the fixture scale: no
    // round-cost win over the width-pinned shuffle join, plus a per-round
    // driver collect — rejected.)
    def step(l: DataFrame): DataFrame =
      edges.unionAll(l.select(col("lbl").as("i"), col("node").as("j")))
        .join(l.select(col("node").as("i"), col("lbl")), Seq("i"))
        .groupBy(col("j")).agg(min(col("lbl")).as("lbl"))
        .select(col("j").as("node"), col("lbl"))
    var labels: DataFrame = null
    try {
      // AQE off + pinned width (on the CHILD conf): each round is a short
      // fixed pipeline whose shapes are fully known here, and AQE's
      // per-stage materialize-and-replan was measured at ~40% of the round
      // latency on the fixture graph.
      labels = edges.groupBy(col("i")).agg(min(col("j")).as("mn"))
        .select(col("i").as("node"), least(col("i"), col("mn")).as("lbl"))
        .localCheckpoint(false)
      var curSum = labelSum(labels)
      var done = false
      var round = 0
      while (!done) {
        // One step per materialized round. Measured and rejected twice on
        // the sf0.1 bench: (a) fusing step∘step into one plan re-executes
        // the inner step everywhere it's referenced (~3× the round cost);
        // (b) two lazily-checkpointed steps per convergence action ran 12
        // steps at the same per-step cost as 10 — the action barrier is
        // NOT the dominant per-step cost once AQE is off, the stages are.
        val next = step(labels).localCheckpoint(false)
        val nextSum = labelSum(next)
        releaseCheckpoint(labels)
        done = nextSum == curSum
        curSum = nextSum
        labels = next
        round += 1
      }
      (labels, round)
    } catch {
      // on failure the in-flight round's checkpoint blocks are released
      // eagerly (nobody will ever read them); on success `labels` escapes
      // to the caller and must stay materialized
      case t: Throwable =>
        if (labels != null) releaseCheckpoint(labels)
        throw t
    } finally {
      // cached blocks are freed on BOTH exits — before this lived after the
      // try and leaked edges/p on any loop failure until ContextCleaner GC
      edges.unpersist()
      p.unpersist()
    }
  }

  /** Drop a superseded localCheckpoint's storage blocks. The checkpointed
    * frame's plan is a [[org.apache.spark.sql.execution.LogicalRDD]] leaf
    * over the persisted RDD; unpersisting it is safe once every consumer
    * has materialized (the loop never re-reads a superseded round — a task
    * retry replays at most the current round from the CURRENT checkpoint).
    * Best-effort by construction: if a Spark version wraps the plan
    * differently, collect finds nothing and the blocks age out via
    * ContextCleaner GC exactly as before. */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(false)
    }

  /** 8-token span rows (doc_id, span_idx, span, k = md5(span)) over a
    * (doc_id, text) frame — the shared head of the span-dedup family:
    * q99's window anchor and [[spanDedupSalted]] both consume this. */
  private[graft] def spanFrame(docs: DataFrame): DataFrame =
    docs
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id"), posexplode(expr(
        """transform(
          |  sequence(0, greatest(cast(ceil(size(tk)/8.0) as int), 1) - 1),
          |  i -> array_join(slice(tk, i*8+1, 8), ' '))""".stripMargin))
        .as(Seq("span_idx", "span")))
      .withColumn("k", md5(col("span")))

  /** Per-document verdict over (doc_id, span_idx, span, kept) span rows —
    * the shared tail of both span-dedup paths (one doc_id-keyed shuffle,
    * bounded per document). */
  private[graft] def spanVerdict(kept: DataFrame): DataFrame =
    kept
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dup"),
        sum(when(col("kept"), size(split(col("span"), " ")).cast(LongType))
          .otherwise(0L)).as("clean_tokens"),
        sort_array(collect_list(when(col("kept"),
          struct(col("span_idx"), col("span"))))).as("ks"))
      .select(col("doc_id"), col("n_spans"), col("n_dup"),
        col("clean_tokens"),
        md5(array_join(expr("transform(ks, x -> x.span)"), " "))
          .as("clean_md5"))
      .orderBy(col("doc_id"))

  /** The skew-safe span-dedup path q99's scale comment promises — same
    * verdict as the window anchor (PropertySpec value-pins the equality on
    * a corpus with one boilerplate span planted in 30% of documents), but
    * no partition ever holds a whole span's duplication count:
    *  - the winner per span is a groupBy(k) min of the (doc_id, span_idx)
    *    struct, which PARTIAL-aggregates map-side — a span duplicated
    *    across a billion documents contributes one 40-byte row per map
    *    task to the exchange, where the window spelling funnels every
    *    occurrence into one reducer and sorts them;
    *  - the join-back that tags each occurrence with its winner is SALTED:
    *    occurrences spread over `salt` sub-keys by hash(doc_id, span_idx),
    *    winners replicate `salt` ways, so a hot span's occurrences land in
    *    `salt` reducers instead of one. Winner rows are (k 16 B + struct
    *    16 B) — replication is cheap; span text still crosses exactly one
    *    exchange, same as the anchor.
    * At 100 TB this is the path to run; the window spelling stays
    * registered because it is the oracle's spelling. */
  private[graft] def spanDedupSalted(docs: DataFrame, salt: Int): DataFrame = {
    require(salt >= 1, s"salt must be >= 1, got $salt")
    val spans = spanFrame(docs)
    val winners = spans
      .groupBy(col("k"))
      .agg(min(struct(col("doc_id"), col("span_idx"))).as("wpos"))
      .withColumn("salt", explode(expr(s"sequence(0, ${salt - 1})")))
    spanVerdict(spans
      .withColumn("salt",
        pmod(hash(col("doc_id"), col("span_idx")), lit(salt)))
      .join(winners, Seq("k", "salt"))
      .withColumn("kept",
        struct(col("doc_id"), col("span_idx")) === col("wpos")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q60_dedup_exact" -> ((s, d) =>
      // Deterministic-survivor exact dedup (SURVEY §2-B): survivor =
      // min(doc_id) per text, never the arbitrary-row dropDuplicates.
      T.documents(s, d)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("survivor"), count(lit(1)).as("n_copies"))
        .select(col("survivor"), col("n_copies"),
                length(col("text")).cast(LongType).as("text_len"))
        .orderBy(col("survivor"))),

    "q81_dedup_fingerprint" -> ((s, d) =>
      // q60's 100 TB twin (SCALE.md exact-dedup row): identical survivor
      // discipline, but the shuffle key is the md5 fingerprint of the text
      // — 16 bytes on the wire per row instead of the document body. The
      // body never reaches an Exchange: length() is folded before the
      // partial aggregate and only (fp, partial min/count) rows shuffle.
      // An md5 collision would merge two distinct documents; the birthday
      // bound at n docs is ~n^2/2^129, i.e. ~1.5e-15 even for a
      // trillion-document corpus — negligible at any real scale.
      T.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("fp"),
                length(col("text")).cast(LongType).as("text_len"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("survivor"), count(lit(1)).as("n_copies"),
             min(col("text_len")).as("text_len"))
        .select(col("survivor"), col("n_copies"), col("text_len"), col("fp"))
        .orderBy(col("survivor"))),

    "q61_dedup_near" -> ((s, d) =>
      jaccardPairs(shingles(s, d), 0.5).orderBy(col("i"), col("j"))),

    "q106_dedup_prefix" -> ((s, d) =>
      // q61's contract served by the PPJoin prefix-filtered path
      // (jaccardPairsPrefix): same output, same oracle SQL verbatim — a
      // green hash proves the subquadratic EXACT path end-to-end, the
      // way q85 proves the native BPE against q82's oracle.
      jaccardPairsPrefix(shingles(s, d), 0.5).orderBy(col("i"), col("j"))),

    "q113_dedup_incremental" -> ((s, d) =>
      // Batch-vs-corpus dedup gate — the incremental operational mode,
      // index built inline per run (see incrementalDedup).
      incrementalDedup(T.documents(s, d)).orderBy(col("doc_id"))),

    "q120_dedup_inc_index" -> ((s, d) =>
      // q113's contract served from the PERSISTED index: the standing
      // corpus's fingerprint/df/prefix/set tables are staged once per
      // session as bucketed parquet (incServing) and the per-run plan
      // probes them without re-scanning the base corpus (LayoutSpec pins
      // the executed plan reads only index files). Same verdict oracle
      // verbatim — the q85/q106 proof pattern.
      incrementalGate(incBatchCached(s, d), incServing(s, d), IncTau)
        .orderBy(col("doc_id"))),

    "q123_dedup_inc_append" -> ((s, d) => {
      // TWO-DAY incremental maintenance — the append step q120's index
      // promises, demonstrated end-to-end: day 1 gates against the
      // staged index; its ACCEPTED docs append to the index under the
      // FROZEN df order (incAppend — a pure composition, the staged
      // tables are never mutated so the query is idempotent per run);
      // day 2 gates against the APPENDED index, so a day-2 doc
      // duplicating an accepted day-1 doc reads exact_dup/near_dup with
      // a DAY-1 witness — cross-day dups are planted (incDay2) to make
      // that arm fire on the fixture. Oracle: the raw-join gate replayed
      // twice in SQL with index2 = base ∪ accepted(day 1), hash-exact.
      val (v1, ix2) = incPhase1(s, d)
      val v2 = incrementalGate(incDay2(incBatchCached(s, d)), ix2, IncTau)
      v1.withColumn("phase", lit(1L))
        .unionByName(v2.withColumn("phase", lit(2L)))
        .orderBy(col("phase"), col("doc_id"))
    }),

    "q111_dedup_containment" -> ((s, d) =>
      // Directed τ-containment pairs — the quote/subset-duplication signal
      // Jaccard dilutes away (see containmentPairs). τ=0.8: "at least 80%
      // of i's shingles appear in j".
      containmentPairs(shingles(s, d), 0.8).orderBy(col("i"), col("j"))),

    "q79_dedup_resolve" -> ((s, d) => {
      // Pairs -> clusters: the step every near-dup operator (q61/q65/q66/
      // q75) stops short of. Input is q66's SimHash pair graph, SERVED
      // from the staged signature index (simhashServing — built once per
      // session like q67's cell index, so resolution queries don't
      // re-hash the corpus); transitive closure via min-label propagation
      // resolves it into components (A~B, B~C => {A,B,C} one cluster even
      // if A,C were never paired); survivor = min doc_id per component.
      // Output covers EVERY document: singletons survive as their own
      // cluster of 1.
      val pairs = simhashPairsUnsorted(simhashServing(s, d))
        .select(col("i"), col("j"))
      val comp = resolveComponents(pairs)
      val resolved = T.documents(s, d).select(col("doc_id"))
        .join(comp.select(col("node").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("survivor"))
      val sizes = resolved.groupBy(col("survivor")).agg(count(lit(1)).as("csize"))
      resolved.join(sizes, Seq("survivor"))
        .select(col("doc_id"), col("survivor"), col("csize"),
                (col("doc_id") === col("survivor")).cast(LongType).as("is_survivor"))
        .orderBy(col("doc_id"))
    }),

    "q83_curate_corpus" -> ((s, d) => {
      // The END-TO-END curation chain a training-data pipeline runs, as one
      // query: quality gate -> exact dedup (fingerprint survivor) ->
      // near-dup cluster resolution -> per-document verdict with a reason.
      // Corpus = documents ∪ verbatim copies of every 25th doc at
      // doc_id + 10^7 (the fixture has no natural exact dups, so the exact
      // stage is exercised by planted ones — same engineered-corpus
      // discipline as q75, spelled identically in the oracle SQL).
      // Stage order matters and is the cheap-to-expensive order a real
      // pipeline uses: the quality gate is a stateless projection; exact
      // dedup is one 16-byte-key aggregate plus one fingerprint join that
      // moves each quality-surviving body exactly once (the survivor
      // subset needs its text downstream, so one body movement is the
      // floor — the token-level alternative shuffles the same bytes
      // twice); and only the surviving subset pays the SimHash banding +
      // component resolution.
      val base = T.documents(s, d).select(col("doc_id"), col("text"), col("n_chars"))
      val planted = base.filter(pmod(col("doc_id"), lit(25)) === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
                col("text"), col("n_chars"))
      val corpus = base.unionAll(planted)
      // The quality/fingerprint chain is a diamond (exact-survivor build +
      // final verdict both reference it) and IS recomputed per reference —
      // measured and kept: an eager localCheckpoint was tried in round 8
      // and benched 6-20x WORSE at sf0.1 (24-92 s vs ~4 s). What changed
      // in round 9 is the SHAPE of the recomputed arm: `narrow` projects
      // the body away in the same codegen stage that hashes it, so each
      // recompute is one columnar scan + two scalar passes and NO text
      // ever reaches an Exchange on this side of the diamond (round-8's
      // spelling shuffled bodies through the fp join TWICE — once per
      // arm). Planted copies are verbatim, so their (fp, q_ok) rows derive
      // from the base rows by an id shift instead of re-hashing.
      val baseNarrow = base.select(col("doc_id"), md5(col("text")).as("fp"),
        (col("n_chars") >= 100 &&
          size(split(col("text"), "[^a-z0-9]+")) >= 20).as("q_ok"))
      val narrow = baseNarrow.unionAll(
        baseNarrow.filter(pmod(col("doc_id"), lit(25)) === 0)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"),
                  col("fp"), col("q_ok")))
      // Exact survivor = min(doc_id) over the fp window — the oracle's own
      // spelling, and ONE exchange per arm where the round-8 groupBy+join
      // paid two. Skew profile is unchanged vs the join (either way every
      // row of one fingerprint lands in one reducer; an adversarially hot
      // fp would salt the key the same way under both spellings).
      val wFp = Window.partitionBy(col("fp"))
      // Near-dup arm: the only arm that needs bodies — they move exactly
      // ONCE, through this fp shuffle, and only the quality-passing subset.
      val exactSurvivors = corpus
        .select(col("doc_id"), col("text"), md5(col("text")).as("fp"),
          (col("n_chars") >= 100 &&
            size(split(col("text"), "[^a-z0-9]+")) >= 20).as("q_ok"))
        .filter(col("q_ok"))
        .withColumn("esurv", min(col("doc_id")).over(wFp))
        .filter(col("doc_id") === col("esurv"))
        .select(col("doc_id"), col("text"))
      val pairs = simhashPairsUnsorted(
        simhashSignaturesOf(exactSurvivors, wide = true),
        reuseExchange = true)
        .select(col("i"), col("j"))
      val comp = resolveComponents(pairs)
      // Verdict arm: narrow rows only. esurv for a quality-FAILED doc is
      // irrelevant (the CASE tests q_ok first), so the window can run over
      // all narrow rows with the min restricted to passing docs.
      narrow
        .withColumn("esurv",
          when(col("q_ok"),
            min(when(col("q_ok"), col("doc_id"))).over(wFp)))
        .join(comp.select(col("node").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(!col("q_ok"), "quality")
            .when(col("doc_id") =!= col("esurv"), "exact_dup")
            .when(col("lbl").isNotNull && col("lbl") =!= col("doc_id"), "near_dup")
            .otherwise("kept").as("reason"))
        .withColumn("kept", (col("reason") === "kept").cast(LongType))
        .orderBy(col("doc_id"))
    }),

    "q99_dedup_spans" -> ((s, d) => {
      // Repeated-SPAN removal — the C4/ExactSubstr-family pass that
      // operates BELOW document granularity (q60/q81 drop whole docs;
      // boilerplate lives inside otherwise-unique docs). Deterministic
      // segmentation: each doc's token stream splits into consecutive
      // 8-token spans; a span's survivor is its global first occurrence
      // (min (doc_id, span_idx)); every later occurrence — cross-doc or
      // within-doc — is cut, and the doc is reconstructed from its kept
      // spans. Corpus plants verbatim copies of every 10th doc (q83's
      // planting discipline — the random-token fixture has almost no
      // natural 8-token repeats), so planted copies lose all spans to
      // their originals.
      // Scale shape: ONE shuffle partitioned on md5(span) computes the
      // winner (partition size = a span's duplication count — fine for
      // the fixture, and the ORACLE-ALIGNED spelling; web-scale
      // boilerplate spans are the skew case, served by the value-pinned
      // [[spanDedupSalted]] aggregate path below), then one shuffle on
      // doc_id rebuilds documents (bounded per doc). Span text crosses
      // each exchange exactly once; the winner flag is 16-byte-keyed.
      // First occurrence = lexicographic min of (doc_id, span_idx) — a
      // struct comparison valid for ANY span count (a packed long
      // doc_id*2^20+span_idx would silently mis-order documents past
      // 2^20 spans, ~8.4M tokens).
      val base = T.documents(s, d).select(col("doc_id"), col("text"))
      val planted = base.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("text"))
      val spans = spanFrame(base.unionAll(planted))
      val w = Window.partitionBy(col("k"))
      spanVerdict(spans.withColumn("kept",
        struct(col("doc_id"), col("span_idx")) ===
          min(struct(col("doc_id"), col("span_idx"))).over(w)))
    }),

    "q103_dedup_fuzzy" -> ((s, d) => {
      // Fuzzy ENTITY resolution — the dedup family member q60-q99 lack:
      // near-identical KEYS (names/titles/codes, the reference's ICD-code
      // cleanup domain) rather than near-identical documents. Three-stage
      // scale shape: (1) distinct-key extraction bounds everything
      // downstream to the key VOCABULARY (64 names here vs 2000 parts;
      // ≪ corpus at any scale) with min-partkey as a stable numeric id;
      // (2) candidates from a blocked self-join (first-letter block,
      // mirrored exactly in the oracle) verified by the codegen'd
      // levenshtein builtin at distance ≤ 2 — per-block products, never
      // all-pairs; (3) pairs resolve to canonical entities through the
      // SAME component resolver as q79/q97 (transitive: 'red widget' ~
      // 'red widgets' ~ 'red widgett' is ONE entity even if the ends
      // never paired).
      // Key corpus = distinct part names ∪ planted typo variants (every
      // 3rd name + 'x', every 6th + 'xy' — q83's planting discipline: the
      // generator's clean vocabulary has no natural lev≤2 neighbors, so
      // the dirty-key regime is engineered identically in both engines).
      // The %6 names yield a base/x/xy TRIANGLE whose base–xy edge is
      // distance 2 — and a {base, x, xy} cluster proves transitivity even
      // where blocking or the threshold would miss an edge.
      val clean = T.part(s, d)
        .groupBy(col("p_name").as("name"))
        .agg(min(col("p_partkey")).as("nid"), count(lit(1)).as("n_parts"))
      val names = clean
        .unionAll(clean.filter(col("nid") % 3 === 0)
          .select(concat(col("name"), lit("x")).as("name"),
                  (col("nid") + 1000000L).as("nid"), lit(1L).as("n_parts")))
        .unionAll(clean.filter(col("nid") % 6 === 0)
          .select(concat(col("name"), lit("xy")).as("name"),
                  (col("nid") + 2000000L).as("nid"), lit(1L).as("n_parts")))
      val a = names.select(col("name").as("na"), col("nid").as("i"),
                           substring(col("name"), 1, 1).as("blk"))
      val b = names.select(col("name").as("nb"), col("nid").as("j"),
                           substring(col("name"), 1, 1).as("blk"))
      val pairs = a.join(b, Seq("blk"))
        .filter(col("i") < col("j") &&
                levenshtein(col("na"), col("nb")) <= 2)
        .select(col("i"), col("j"))
      val comp = resolveComponents(pairs)
      names.join(comp.select(col("node").as("nid"), col("lbl")),
                 Seq("nid"), "left")
        .select(col("name"), col("nid"), col("n_parts"),
                coalesce(col("lbl"), col("nid")).as("canon"))
        .orderBy(col("nid"))
    }),

    "q66_dedup_simhash" -> ((s, d) =>
      // 60-bit tf-weighted SimHash (bits from md5 nibbles, so the oracle can
      // recompute it bit-for-bit), banded into 4x15-bit chunks. For hamming
      // distance <= 3 the pigeonhole principle guarantees two near-dup docs
      // agree on at least one band, so the band-bucket join is EXACT, not
      // approximate — and shuffle volume is O(docs x 4), never all-pairs.
      // Shape choice is measured (SCALE.md q66 row): the wide
      // aggregate beats explode at every fixture SF and the gap GROWS with
      // data (3.4x at sf0.1) — the x60 row blow-up dominates, codegen
      // handles the 60-column aggregate fine. SimilaritySpec pins the two
      // shapes value-identical.
      simhashPairs(simhashSignatures(s, d, wide = true)))
  )

  def oracleSql: Map[String, String] = Map(
    "q103_dedup_fuzzy" ->
      """WITH RECURSIVE clean AS (
        |  SELECT p_name AS name, min(p_partkey) AS nid, count(*) AS n_parts
        |  FROM part GROUP BY p_name),
        |names AS (
        |  SELECT name, nid, n_parts FROM clean
        |  UNION ALL
        |  SELECT name || 'x', nid + 1000000, 1 FROM clean WHERE nid % 3 = 0
        |  UNION ALL
        |  SELECT name || 'xy', nid + 2000000, 1 FROM clean WHERE nid % 6 = 0),
        |pairs AS (
        |  SELECT a.nid AS i, b.nid AS j
        |  FROM names a JOIN names b
        |    ON substr(a.name, 1, 1) = substr(b.name, 1, 1) AND a.nid < b.nid
        |  WHERE levenshtein(a.name, b.name) <= 2),
        |edges AS (SELECT i, j FROM pairs UNION ALL SELECT j AS i, i AS j FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT i, i FROM edges
        |  UNION
        |  SELECT e.j, r.lbl FROM reach r JOIN edges e ON e.i = r.node),
        |comp AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node)
        |SELECT n.name, n.nid, n.n_parts, coalesce(c.lbl, n.nid) AS canon
        |FROM names n LEFT JOIN comp c ON n.nid = c.node
        |ORDER BY nid""".stripMargin,

    "q99_dedup_spans" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 10 = 0
        |), tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM base
        |), sp AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS span_idx,
        |         array_to_string(t[(u.i*8+1):(u.i*8+8)], ' ') AS span
        |  FROM tk, UNNEST(range(GREATEST(CAST(ceil(len(t)/8.0) AS BIGINT), 1))) AS u(i)
        |), kd AS (
        |  SELECT doc_id, span_idx, span,
        |         row(doc_id, span_idx) = min(row(doc_id, span_idx))
        |            OVER (PARTITION BY md5(span)) AS kept
        |  FROM sp
        |)
        |SELECT doc_id, count(*) AS n_spans,
        |  CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dup,
        |  CAST(sum(CASE WHEN kept THEN len(string_split(span, ' '))
        |           ELSE 0 END) AS BIGINT) AS clean_tokens,
        |  md5(coalesce(string_agg(CASE WHEN kept THEN span END, ' '
        |                          ORDER BY span_idx), '')) AS clean_md5
        |FROM kd GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q60_dedup_exact" ->
      """SELECT min(doc_id) AS survivor, count(*) AS n_copies,
        |  CAST(length(text) AS BIGINT) AS text_len
        |FROM documents GROUP BY text ORDER BY survivor""".stripMargin,

    "q81_dedup_fingerprint" ->
      """SELECT min(doc_id) AS survivor, count(*) AS n_copies,
        |  min(CAST(length(text) AS BIGINT)) AS text_len, md5(text) AS fp
        |FROM documents GROUP BY md5(text) ORDER BY survivor""".stripMargin,

    "q61_dedup_near" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
        |         k -> toks[k+1] || ' ' || toks[k+2] || ' ' || toks[k+3]))) AS sh
        |       FROM d WHERE len(toks) >= 3),
        |sz AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
        |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |      GROUP BY a.doc_id, b.doc_id)
        |SELECT i, j, inter, sa.nsh + sb.nsh - inter AS uni,
        |  CAST(inter AS DOUBLE) / CAST(sa.nsh + sb.nsh - inter AS DOUBLE) AS jac
        |FROM p JOIN sz sa ON p.i = sa.doc_id JOIN sz sb ON p.j = sb.doc_id
        |WHERE CAST(inter AS DOUBLE) / CAST(sa.nsh + sb.nsh - inter AS DOUBLE) >= 0.5
        |ORDER BY i, j""".stripMargin,

    "q113_dedup_incremental" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
        |batch AS (SELECT b.doc_id,
        |            CASE WHEN b.doc_id % 30 = 0 AND nx.text IS NOT NULL
        |                 THEN nx.text ELSE b.text END AS text
        |          FROM documents b
        |          LEFT JOIN documents nx ON nx.doc_id = b.doc_id + 1
        |          WHERE b.doc_id % 10 = 0),
        |bfp AS (SELECT md5(text) AS fp, min(doc_id) AS ew
        |        FROM base GROUP BY md5(text)),
        |db AS (SELECT doc_id, string_split(text, ' ') AS toks FROM batch),
        |dc AS (SELECT doc_id, string_split(text, ' ') AS toks FROM base),
        |shb AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
        |          k -> toks[k+1] || ' ' || toks[k+2] || ' ' || toks[k+3]))) AS sh
        |        FROM db WHERE len(toks) >= 3),
        |shc AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
        |          k -> toks[k+1] || ' ' || toks[k+2] || ' ' || toks[k+3]))) AS sh
        |        FROM dc WHERE len(toks) >= 3),
        |szb AS (SELECT doc_id, count(*) AS ni FROM shb GROUP BY doc_id),
        |szc AS (SELECT doc_id, count(*) AS nj FROM shc GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS i, c.doc_id AS j, count(*) AS inter
        |      FROM shb a JOIN shc c ON a.sh = c.sh
        |      GROUP BY a.doc_id, c.doc_id),
        |near AS (SELECT i, min(j) AS nw
        |         FROM p JOIN szb ON p.i = szb.doc_id
        |                JOIN szc ON p.j = szc.doc_id
        |         WHERE CAST(inter AS DOUBLE)
        |               / CAST(szb.ni + szc.nj - inter AS DOUBLE)
        |               >= CAST(0.5 AS DOUBLE)
        |         GROUP BY i)
        |SELECT b.doc_id,
        |  CASE WHEN bfp.ew IS NOT NULL THEN 'exact_dup'
        |       WHEN near.nw IS NOT NULL THEN 'near_dup'
        |       ELSE 'new' END AS verdict,
        |  coalesce(bfp.ew, near.nw) AS witness
        |FROM batch b
        |LEFT JOIN bfp ON md5(b.text) = bfp.fp
        |LEFT JOIN near ON b.doc_id = near.i
        |ORDER BY b.doc_id""".stripMargin,

    // the two-day maintenance chain replayed naively: gate day 1 against
    // the base, admit its `new` docs, gate day 2 against base ∪ admitted
    // — a green hash proves the frozen-order append (q123) changes day-2
    // verdicts exactly as a full rebuild would
    "q123_dedup_inc_append" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
        |batch AS (SELECT b.doc_id,
        |            CASE WHEN b.doc_id % 30 = 0 AND nx.text IS NOT NULL
        |                 THEN nx.text ELSE b.text END AS text
        |          FROM documents b
        |          LEFT JOIN documents nx ON nx.doc_id = b.doc_id + 1
        |          WHERE b.doc_id % 10 = 0),
        |d1 AS (SELECT doc_id, text FROM batch WHERE doc_id % 20 = 0),
        |d2 AS (SELECT b.doc_id,
        |         CASE WHEN b.doc_id % 60 = 10 AND dn.text IS NOT NULL
        |              THEN dn.text ELSE b.text END AS text
        |       FROM batch b LEFT JOIN batch dn ON dn.doc_id = b.doc_id + 10
        |       WHERE b.doc_id % 20 <> 0),
        |bfp1 AS (SELECT md5(text) AS fp, min(doc_id) AS ew
        |         FROM base GROUP BY md5(text)),
        |t1 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d1),
        |tc AS (SELECT doc_id, string_split(text, ' ') AS toks FROM base),
        |sh1 AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
        |          k -> toks[k+1] || ' ' || toks[k+2] || ' ' || toks[k+3]))) AS sh
        |        FROM t1 WHERE len(toks) >= 3),
        |shc AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
        |          k -> toks[k+1] || ' ' || toks[k+2] || ' ' || toks[k+3]))) AS sh
        |        FROM tc WHERE len(toks) >= 3),
        |sz1 AS (SELECT doc_id, count(*) AS ni FROM sh1 GROUP BY doc_id),
        |szc AS (SELECT doc_id, count(*) AS nj FROM shc GROUP BY doc_id),
        |p1 AS (SELECT a.doc_id AS i, c.doc_id AS j, count(*) AS inter
        |       FROM sh1 a JOIN shc c ON a.sh = c.sh
        |       GROUP BY a.doc_id, c.doc_id),
        |near1 AS (SELECT i, min(j) AS nw
        |          FROM p1 JOIN sz1 ON p1.i = sz1.doc_id
        |                  JOIN szc ON p1.j = szc.doc_id
        |          WHERE CAST(inter AS DOUBLE)
        |                / CAST(sz1.ni + szc.nj - inter AS DOUBLE)
        |                >= CAST(0.5 AS DOUBLE)
        |          GROUP BY i),
        |v1 AS (SELECT b.doc_id,
        |         CASE WHEN f.ew IS NOT NULL THEN 'exact_dup'
        |              WHEN n.nw IS NOT NULL THEN 'near_dup'
        |              ELSE 'new' END AS verdict,
        |         coalesce(f.ew, n.nw) AS witness
        |       FROM d1 b
        |       LEFT JOIN bfp1 f ON md5(b.text) = f.fp
        |       LEFT JOIN near1 n ON b.doc_id = n.i),
        |acc AS (SELECT d1.doc_id, d1.text
        |        FROM d1 JOIN v1 USING (doc_id) WHERE v1.verdict = 'new'),
        |idx2 AS (SELECT doc_id, text FROM base
        |         UNION ALL SELECT doc_id, text FROM acc),
        |bfp2 AS (SELECT md5(text) AS fp, min(doc_id) AS ew
        |         FROM idx2 GROUP BY md5(text)),
        |t2 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d2),
        |ti AS (SELECT doc_id, string_split(text, ' ') AS toks FROM idx2),
        |sh2 AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
        |          k -> toks[k+1] || ' ' || toks[k+2] || ' ' || toks[k+3]))) AS sh
        |        FROM t2 WHERE len(toks) >= 3),
        |shi AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
        |          k -> toks[k+1] || ' ' || toks[k+2] || ' ' || toks[k+3]))) AS sh
        |        FROM ti WHERE len(toks) >= 3),
        |sz2 AS (SELECT doc_id, count(*) AS ni FROM sh2 GROUP BY doc_id),
        |szi AS (SELECT doc_id, count(*) AS nj FROM shi GROUP BY doc_id),
        |p2 AS (SELECT a.doc_id AS i, c.doc_id AS j, count(*) AS inter
        |       FROM sh2 a JOIN shi c ON a.sh = c.sh
        |       GROUP BY a.doc_id, c.doc_id),
        |near2 AS (SELECT i, min(j) AS nw
        |          FROM p2 JOIN sz2 ON p2.i = sz2.doc_id
        |                  JOIN szi ON p2.j = szi.doc_id
        |          WHERE CAST(inter AS DOUBLE)
        |                / CAST(sz2.ni + szi.nj - inter AS DOUBLE)
        |                >= CAST(0.5 AS DOUBLE)
        |          GROUP BY i),
        |v2 AS (SELECT b.doc_id,
        |         CASE WHEN f.ew IS NOT NULL THEN 'exact_dup'
        |              WHEN n.nw IS NOT NULL THEN 'near_dup'
        |              ELSE 'new' END AS verdict,
        |         coalesce(f.ew, n.nw) AS witness
        |       FROM d2 b
        |       LEFT JOIN bfp2 f ON md5(b.text) = f.fp
        |       LEFT JOIN near2 n ON b.doc_id = n.i)
        |SELECT doc_id, verdict, witness, CAST(1 AS BIGINT) AS phase FROM v1
        |UNION ALL
        |SELECT doc_id, verdict, witness, CAST(2 AS BIGINT) AS phase FROM v2
        |ORDER BY phase, doc_id""".stripMargin,

    // q113's oracle verbatim: a green hash proves the persisted-index
    // gate (staged fp/df/prefix/set tables + prefix-filtered near stage)
    // reproduces the raw-join verdict end-to-end
    "q120_dedup_inc_index" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
        |batch AS (SELECT b.doc_id,
        |            CASE WHEN b.doc_id % 30 = 0 AND nx.text IS NOT NULL
        |                 THEN nx.text ELSE b.text END AS text
        |          FROM documents b
        |          LEFT JOIN documents nx ON nx.doc_id = b.doc_id + 1
        |          WHERE b.doc_id % 10 = 0),
        |bfp AS (SELECT md5(text) AS fp, min(doc_id) AS ew
        |        FROM base GROUP BY md5(text)),
        |db AS (SELECT doc_id, string_split(text, ' ') AS toks FROM batch),
        |dc AS (SELECT doc_id, string_split(text, ' ') AS toks FROM base),
        |shb AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
        |          k -> toks[k+1] || ' ' || toks[k+2] || ' ' || toks[k+3]))) AS sh
        |        FROM db WHERE len(toks) >= 3),
        |shc AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
        |          k -> toks[k+1] || ' ' || toks[k+2] || ' ' || toks[k+3]))) AS sh
        |        FROM dc WHERE len(toks) >= 3),
        |szb AS (SELECT doc_id, count(*) AS ni FROM shb GROUP BY doc_id),
        |szc AS (SELECT doc_id, count(*) AS nj FROM shc GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS i, c.doc_id AS j, count(*) AS inter
        |      FROM shb a JOIN shc c ON a.sh = c.sh
        |      GROUP BY a.doc_id, c.doc_id),
        |near AS (SELECT i, min(j) AS nw
        |         FROM p JOIN szb ON p.i = szb.doc_id
        |                JOIN szc ON p.j = szc.doc_id
        |         WHERE CAST(inter AS DOUBLE)
        |               / CAST(szb.ni + szc.nj - inter AS DOUBLE)
        |               >= CAST(0.5 AS DOUBLE)
        |         GROUP BY i)
        |SELECT b.doc_id,
        |  CASE WHEN bfp.ew IS NOT NULL THEN 'exact_dup'
        |       WHEN near.nw IS NOT NULL THEN 'near_dup'
        |       ELSE 'new' END AS verdict,
        |  coalesce(bfp.ew, near.nw) AS witness
        |FROM batch b
        |LEFT JOIN bfp ON md5(b.text) = bfp.fp
        |LEFT JOIN near ON b.doc_id = near.i
        |ORDER BY b.doc_id""".stripMargin,

    "q111_dedup_containment" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
        |         k -> toks[k+1] || ' ' || toks[k+2] || ' ' || toks[k+3]))) AS sh
        |       FROM d WHERE len(toks) >= 3),
        |sz AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
        |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
        |      GROUP BY a.doc_id, b.doc_id)
        |SELECT i, j, inter, sa.nsh AS ni,
        |  CAST(inter AS DOUBLE) / CAST(sa.nsh AS DOUBLE) AS cont
        |FROM p JOIN sz sa ON p.i = sa.doc_id
        |WHERE CAST(inter AS DOUBLE) / CAST(sa.nsh AS DOUBLE)
        |      >= CAST(0.8 AS DOUBLE)
        |ORDER BY i, j""".stripMargin,

    // q61's oracle verbatim: a green hash proves the prefix-filtered
    // exact path produces the identical pair set
    "q106_dedup_prefix" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 2),
        |         k -> toks[k+1] || ' ' || toks[k+2] || ' ' || toks[k+3]))) AS sh
        |       FROM d WHERE len(toks) >= 3),
        |sz AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
        |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |      GROUP BY a.doc_id, b.doc_id)
        |SELECT i, j, inter, sa.nsh + sb.nsh - inter AS uni,
        |  CAST(inter AS DOUBLE) / CAST(sa.nsh + sb.nsh - inter AS DOUBLE) AS jac
        |FROM p JOIN sz sa ON p.i = sa.doc_id JOIN sz sb ON p.j = sb.doc_id
        |WHERE CAST(inter AS DOUBLE) / CAST(sa.nsh + sb.nsh - inter AS DOUBLE) >= 0.5
        |ORDER BY i, j""".stripMargin,

    // the q79 recursion over the SURVIVOR subset: corpus-with-planted-dups
    // -> quality flags -> md5-window exact survivors -> q66 signature CTEs
    // restricted to survivors -> component resolution -> per-doc verdict
    "q83_curate_corpus" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, text, n_chars FROM documents WHERE doc_id % 25 = 0),
        |flags AS (
        |  SELECT doc_id, text,
        |    (n_chars >= 100 AND
        |     len(regexp_split_to_array(text, '[^a-z0-9]+')) >= 20) AS q_ok
        |  FROM corpus),
        |es AS (
        |  SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5(text)) AS esurv
        |  FROM flags WHERE q_ok),
        |surv AS (SELECT doc_id, text FROM es WHERE doc_id = esurv),
        |tok AS (
        |  SELECT doc_id, token, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM surv)
        |  GROUP BY doc_id, token),
        |bits AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN ((strpos('0123456789abcdef',
        |          substr(md5(token), CAST(b // 4 AS INT) + 1, 1)) - 1)
        |          >> (b % 4)) & 1 = 1 THEN tf ELSE -tf END) AS w
        |  FROM tok, unnest(range(60)) AS t(b)
        |  GROUP BY doc_id, b),
        |sh AS (
        |  SELECT doc_id, CAST(sum(CASE WHEN w > 0
        |    THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS sh
        |  FROM bits GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
        |edges AS (SELECT i, j FROM pairs UNION ALL SELECT j AS i, i AS j FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT i, i FROM edges
        |  UNION
        |  SELECT e.j, r.lbl FROM reach r JOIN edges e ON e.i = r.node),
        |comp AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node),
        |verdict AS (
        |  SELECT f.doc_id,
        |    CASE WHEN NOT f.q_ok THEN 'quality'
        |         WHEN f.doc_id != e.esurv THEN 'exact_dup'
        |         WHEN c.lbl IS NOT NULL AND c.lbl != f.doc_id THEN 'near_dup'
        |         ELSE 'kept' END AS reason
        |  FROM flags f
        |  LEFT JOIN es e ON f.doc_id = e.doc_id
        |  LEFT JOIN comp c ON f.doc_id = c.node)
        |SELECT doc_id, reason, CAST(reason = 'kept' AS BIGINT) AS kept
        |FROM verdict ORDER BY doc_id""".stripMargin,

    // q66's signature CTEs verbatim, then: recursive label-reachability
    // (DuckDB's UNION-recursion dedups against all produced rows, so the
    // CTE terminates once every (node, reachable-label) pair exists);
    // min(lbl) per node is then exactly the component minimum — the same
    // fixpoint the Spark loop converges to.
    "q79_dedup_resolve" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, token, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY doc_id, token),
        |bits AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN ((strpos('0123456789abcdef',
        |          substr(md5(token), CAST(b // 4 AS INT) + 1, 1)) - 1)
        |          >> (b % 4)) & 1 = 1 THEN tf ELSE -tf END) AS w
        |  FROM tok, unnest(range(60)) AS t(b)
        |  GROUP BY doc_id, b),
        |sh AS (
        |  SELECT doc_id, CAST(sum(CASE WHEN w > 0
        |    THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS sh
        |  FROM bits GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
        |edges AS (SELECT i, j FROM pairs UNION ALL SELECT j AS i, i AS j FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT i, i FROM edges
        |  UNION
        |  SELECT e.j, r.lbl FROM reach r JOIN edges e ON e.i = r.node),
        |comp AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node),
        |resolved AS (
        |  SELECT d.doc_id, coalesce(c.lbl, d.doc_id) AS survivor
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
        |sizes AS (SELECT survivor, count(*) AS csize FROM resolved GROUP BY survivor)
        |SELECT r.doc_id, r.survivor, s.csize,
        |  CAST(r.doc_id = r.survivor AS BIGINT) AS is_survivor
        |FROM resolved r JOIN sizes s ON r.survivor = s.survivor
        |ORDER BY r.doc_id""".stripMargin,

    "q66_dedup_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, token, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY doc_id, token),
        |bits AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN ((strpos('0123456789abcdef',
        |          substr(md5(token), CAST(b // 4 AS INT) + 1, 1)) - 1)
        |          >> (b % 4)) & 1 = 1 THEN tf ELSE -tf END) AS w
        |  FROM tok, unnest(range(60)) AS t(b)
        |  GROUP BY doc_id, b),
        |sh AS (
        |  SELECT doc_id, CAST(sum(CASE WHEN w > 0
        |    THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS sh
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS i, b.doc_id AS j,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |ORDER BY i, j""".stripMargin
  )
}
