package graft.operators

import graft.functions.{LshSignatures, VecOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization — ANN scale path C (VERDICT r11 item 8),
  * alongside sign-LSH (AnnLsh, path A) and IVF (AnnIvf, path B).
  *
  * PQ is the memory-bounded retrieval form real 100 TB embedding
  * stores use: each vector's `dims` floats (256 B at dims=64) are
  * compressed to `m` byte codes packed into ⌈m/8⌉ longs (32 B at
  * m=32 — an 8× payload reduction) by splitting the vector into `m`
  * contiguous subvectors and vector-quantizing each subspace
  * independently against its own `ksub`-centroid codebook.
  * Similarity is then computed on CODES via tiny precomputed
  * dot-product tables:
  *
  *   - SDC (symmetric distance computation), code vs code:
  *     dot(x, y) ≈ Σ_j T[j][code_x(j)][code_y(j)] where
  *     T[j][a][b] = dot(centroid_{j,a}, centroid_{j,b}) — an
  *     m·ksub² table (8192 doubles at 32×16) shared by EVERY pair.
  *     This is the pair-scan form: candidate pairs are scored with
  *     m table lookups instead of a dims-float fused dot, and — the
  *     part that matters at scale — the candidate exchange carries
  *     the packed 32 B codes instead of the embedding payload.
  *   - ADC (asymmetric), full-precision query vs code: LUT[j][c] =
  *     dot(q_j, centroid_{j,c}) — m·ksub values built per query;
  *     scanning the compressed corpus is m lookups per vector.
  *
  * Both tables are built relationally (a single-row aggregate over
  * the m·ksub-row codebook relation — the q_llm_embed_outlier
  * centroid-array trick) and attached by a 1-row broadcast
  * cross-join: no driver-side collect, no UDF; the per-row score is
  * the fused codegen kernel functions.PqOps (byte unpack + table
  * read + double add in a tight generated loop — the FloatVecDot
  * discipline; the interpreted HOF spelling it replaced cost more
  * per candidate than the full-vector dot it was supposed to
  * avoid).
  *
  * Codebook training is the same determinism discipline as AnnIvf's
  * coarse quantizer (hash-seeded init, min(struct) argmin ties,
  * DECIMAL positional means, fixed Lloyd rounds — see
  * AnnIvf.assignCells doc for why each choice is load-bearing), run
  * per SUBSPACE: one (vec_id, sub)-keyed shuffle per round over
  * narrow subvector rows. At 100 TB the codebooks train on a sample
  * and apply corpus-wide — exactly this plan shape (train = iterate
  * on a capped DF, apply = one broadcast-join encode pass).
  *
  * Subspace sizing is the measured part (PqProbe, r12): on this
  * corpus's near-uniform synthetic embeddings, ksub=16 codes in an
  * 8-dim subspace (m=8) leave 57% of subvector energy as
  * quantization error and SDC scores cannot discriminate at all
  * (recall 0.05 at the 0.35 point); m=16 leaves 33% (recall 0.38);
  * m=32 (2-dim subspaces) leaves 11% and two-stage recall reaches
  * 0.94+. The default is therefore m=32 — on real clustered
  * embeddings a coarser m works, but the operator defaults to what
  * this corpus MEASURES, not what the literature promises.
  *
  * Accuracy contract: PQ scores are approximations with a one-sided
  * bias (quantization loses dot-product energy), so the near-dup
  * pair scan filters at (threshold − margin) on SDC scores and
  * exact-reranks only the survivor band against the full vectors —
  * precision 1.0 by construction, recall measured against the exact
  * pair set (BASELINE.md CROSSOVER_PQ rows) and oracle-gated in
  * q_llm_embed_neardup_pq_gate.
  */
object AnnPq {

  /** Byte-code layout contract (ADVICE r12): PqOps packs one byte
    * code per subspace, 8 per long, and derives m as words·8 — so m
    * MUST be a multiple of 8 (otherwise the padding bytes of the last
    * long decode as code 0 for subspaces ≥ m and the SDC/ADC kernels
    * index tflat past its logical end: UnsafeArrayData.getDouble is
    * unchecked, yielding silent garbage scores, not an error) — and
    * ksub MUST fit a byte (≤ 256). Checked loudly at every public
    * entry point that reaches the kernels. */
  private[operators] def requireCodeLayout(m: Int, ksub: Int): Unit =
    require(m % 8 == 0 && m > 0 && ksub > 0 && ksub <= 256,
      s"AnnPq: m=$m must be a positive multiple of 8 (codes pack 8 per " +
      s"long; PqOps derives m = words*8) and ksub=$ksub must be in " +
      "1..256 (one byte per code) — other shapes decode padding bytes " +
      "as code 0 and read the SDC/ADC table out of bounds silently")

  /** (vec_id, sub, sv) — each prepared row split into `m` contiguous
    * subvectors. Zero shuffle: an explode over sequence(0, m−1) plus
    * a per-row slice; dsub derives from size(embedding) so no
    * hardcoded dimensionality. */
  def subvectors(emb: DataFrame, m: Int): DataFrame = {
    val dsub = (size(col("embedding")) / m).cast("int")
    emb.select(col("vec_id"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("embedding"))
      .select(col("vec_id"), col("sub"),
        slice(col("embedding"), col("sub") * dsub + 1, dsub).as("sv"))
  }

  /** Per-subspace codebooks after `iters` Lloyd rounds:
    * (sub, code, centroid). */
  def codebooks(spark: SparkSession, emb: DataFrame, m: Int, ksub: Int,
      iters: Int = 2): DataFrame =
    booksOf(trainAssign(spark, emb, m, ksub, iters))

  /** (vec_id, sub, sv, code) after `iters` rounds — the training
    * assignment both [[booksOf]] and [[encodeWith]] fold from.
    * Callers composing both should cache it eagerly
    * (graft.CacheScope.localEager — the two folds are concurrent
    * consumers). Seeds are the `ksub` vectors with the smallest
    * (xxhash64(vec_id), vec_id) — the SAME seed rows for every
    * subspace, each contributing its j-th subvector to subspace j's
    * codebook (standard PQ practice; one k-row limit serves all m
    * spaces). */
  def trainAssign(spark: SparkSession, emb: DataFrame, m: Int, ksub: Int,
      iters: Int): DataFrame = {
    requireCodeLayout(m, ksub)
    val sv = subvectors(emb, m)
    val seedIds = emb
      .select(col("vec_id"), xxhash64(col("vec_id")).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(ksub)
      .withColumn("code",
        row_number().over(Window.orderBy(col("h"), col("vec_id"))) - 1)
      .select(col("vec_id"), col("code"))
    var books = sv.join(broadcast(seedIds), "vec_id")
      .select(col("sub"), col("code"), col("sv").as("centroid"))
    var assigned = assignCodes(spark, sv, books)
    var it = 0
    while (it < iters) {
      books = booksOf(assigned)
      assigned = assignCodes(spark, sv, books)
      it += 1
    }
    assigned
  }

  /** Nearest-codebook-entry assignment within each subspace: one
    * broadcast join on `sub` (m·ksub rows) + a (vec_id, sub)-keyed
    * argmin. L2 argmin over a fixed subvector is argmin of
    * (|c|² − 2·dot(sv, c)) — |sv|² is constant within the group, so
    * it never enters the struct; |c|² is computed once per (tiny,
    * broadcast-side) codebook row. min(struct) is a total order with
    * ties to the smallest code id, deterministically. */
  private def assignCodes(spark: SparkSession, sv: DataFrame,
      books: DataFrame): DataFrame = {
    val b = books.withColumn("cn2",
      VecOps.dot(spark, col("centroid"), col("centroid")))
    sv.join(broadcast(b), Seq("sub"))
      .withColumn("score",
        col("cn2") - lit(2.0) * VecOps.dot(spark, col("sv"), col("centroid")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(
        min(struct(col("score"), col("code"))).as("mn"),
        // every row in the (vec_id, sub) group carries the same sv
        first(col("sv")).as("sv"))
      .select(col("vec_id"), col("sub"), col("sv"), col("mn.code").as("code"))
  }

  /** Codebooks from an assignment: positional DECIMAL means per
    * (sub, code) — exact, order-independent sums; one shuffle keyed
    * (sub, code, pos). A code that lost all members simply drops out
    * (deterministic; the AnnIvf convention). */
  def booksOf(assigned: DataFrame): DataFrame =
    assigned.select(col("sub"), col("code"), posexplode(col("sv")))
      .groupBy(col("sub"), col("code"), col("pos"))
      .agg((sum(col("col").cast("decimal(27,10)")) /
        count(lit(1))).as("v"))
      .groupBy(col("sub"), col("code"))
      .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("pv"))
      .select(col("sub"), col("code"),
        expr("transform(pv, x -> cast(x.v as float))").as("centroid"))

  /** The compressed corpus: (vec_id, codes, nrm) where `codes` is
    * the PACKED form — ⌈m/8⌉ longs, 8 byte-codes per word, code j at
    * bits [8·(j mod 8), 8·(j mod 8)+8) of word (j div 8). 32 B of
    * payload at m=32 vs the 256 B embedding — the exchange-size
    * reduction that is PQ's entire point at scale. The TRUE L2 norm
    * rides along exact (the standard PQ trick: quantization error
    * stays in the dot product only, never in the normalizer). */
  def encodeWith(assigned: DataFrame, emb: DataFrame): DataFrame =
    assigned
      .groupBy(col("vec_id"), expr("sub div 8").as("word"))
      .agg(sum(expr(
        "cast(code as bigint) * shiftleft(cast(1 as bigint), (sub % 8) * 8)"))
        .as("w"))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("word"), col("w")))).as("ww"))
      .select(col("vec_id"), expr("transform(ww, x -> x.w)").as("codes"))
      .join(emb.select(col("vec_id"), col("nrm")), Seq("vec_id"))

  /** SDC table flattened to ONE broadcastable row:
    * tflat[j·ksub² + a·ksub + b] = dot(centroid_{j,a}, centroid_{j,b}).
    * Built relationally (m·ksub² rows → a single-row array
    * aggregate); no collect. Codes that lost all members leave
    * zero-filled slots via the dense spine — never referenced, since
    * encode assigns only live codes. */
  def sdcFlat(spark: SparkSession, books: DataFrame, m: Int,
      ksub: Int): DataFrame = {
    val a = books.select(col("sub"), col("code").as("ca"),
      col("centroid").as("va"))
    val b = books.select(col("sub"), col("code").as("cb"),
      col("centroid").as("vb"))
    val cells = a.join(b, Seq("sub"))
      .select((col("sub") * (ksub * ksub) + col("ca") * ksub + col("cb"))
          .as("idx"),
        VecOps.dot(spark, col("va"), col("vb")).as("d"))
    denseFlat(spark, cells, m * ksub * ksub)
  }

  /** ADC lookup table for one full-precision query row `q` (columns
    * qv, qnrm): tflat[j·ksub + c] = dot(q_j, centroid_{j,c}), one
    * broadcastable row (m·ksub doubles) carrying qnrm along. */
  def adcFlat(spark: SparkSession, books: DataFrame, q: DataFrame, m: Int,
      ksub: Int): DataFrame = {
    val dsub = (size(col("qv")) / m).cast("int")
    val cells = books.crossJoin(broadcast(q))
      .select((col("sub") * ksub + col("code")).as("idx"),
        VecOps.dot(spark, col("centroid"),
          slice(col("qv"), col("sub") * dsub + 1, dsub)).as("d"))
    denseFlat(spark, cells, m * ksub)
      .crossJoin(broadcast(q.select(col("qnrm"))))
  }

  /** (idx, d) sparse cells → one row with a dense double array of
    * length n (absent slots 0.0): left-join a generated spine so
    * element_at indexing is total, then a single-row sorted-collect
    * array aggregate. */
  private def denseFlat(spark: SparkSession, cells: DataFrame,
      n: Int): DataFrame = {
    val spine = spark.range(n.toLong).select(col("id").cast("int").as("idx"))
    spine.join(cells, Seq("idx"), "left")
      .select(col("idx"), coalesce(col("d"), lit(0.0)).as("d"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("idx"), col("d")))).as("iv"))
      .select(expr("transform(iv, x -> x.d)").as("tflat"))
  }

  /** The SDC approximate dot between two packed-code columns against
    * the broadcast `tflat` table — the fused codegen kernel
    * (functions.PqOps.PqSdcDot): a tight generated loop of byte
    * unpack + table read + double add in j-ascending order. The
    * first-written `aggregate(sequence(0, m−1), …)` HOF fold was
    * bit-identical but INTERPRETED — at m=32 its per-candidate lambda
    * machinery cost more than the fused 64-float dot the PQ filter
    * exists to avoid (the FloatVecDot lesson, relearned on codes). */
  def sdcDot(spark: SparkSession, tflat: Column, pa: Column, pb: Column,
      ksub: Int): Column =
    graft.functions.PqOps.sdcDot(spark, tflat, pa, pb, ksub)

  /** ADC approximate dot of the table's query against a packed-code
    * column — fused kernel, same layout/fold-order contract. */
  def adcDot(spark: SparkSession, tflat: Column, p: Column,
      ksub: Int): Column =
    graft.functions.PqOps.adcDot(spark, tflat, p, ksub)

  /** ALL-PAIRS approximate near-duplicate retrieval — the PQ
    * counterpart of AnnLsh/AnnIvf.neardupPairs, measured against the same
    * exact pair set. Three stages, each cheaper-per-row
    * than the last is wide:
    *
    *   1. candidates: sign-LSH band buckets (the measured-best
    *      candidate generator — 0.967 candidate recall at 40×5 vs
    *      IVF-multiprobe's 0.56 at 64×2 on this corpus, PqProbe r12),
    *      with the PACKED CODES as the only payload — the (t, bucket)
    *      exchange carries 32 B codes, not 256 B vectors;
    *   2. SDC filter at (threshold − margin): m table lookups per
    *      candidate, BEFORE the pair-dedup shuffle (the r10
    *      rerank-before-dedup discipline — the dedup exchange carries
    *      only survivor-sized id pairs);
    *   3. exact rerank: full vectors move only for the survivor band
    *      (two vec_id equi-joins), so precision is 1.0 by
    *      construction.
    */
  /** Survivor-band calibration (r15, VERDICT r14 "What's wrong" 1).
    * The SDC pre-filter admits every candidate with approximate
    * cosine ≥ θ − margin; on a NEAR-UNIFORM corpus that band is not
    * dup-mass-sized but a constant FRACTION of all pairs (measured
    * r14: θ − 0.2 = 0.15 sits at ~1.2σ of the cross-copy cosine
    * distribution ⇒ ~11% of ALL pairs admitted — at x100/200k
    * vectors that is ~2.2·10⁹ survivor rows through the pair-dedup
    * shuffle and TWO embedding re-attach joins, a ~300 GB spill that
    * killed the run twice while the LSH path at the same θ finished
    * in 729.8 s). The fraction is a property of the corpus's cosine
    * DISTRIBUTION, not its size, so it is measurable on a bounded
    * sample at any scale: [[neardupPairs]] SDC-scores all pairs of
    * the [[BandSampleVecs]] smallest-md5-rank vectors (≤ C(512,2) ≈
    * 131k kernel evaluations — constant cost) with the SAME trained
    * codebooks, extrapolates band pairs ≈ frac · n(n−1)/2, and
    * REFUSES loudly past [[SurvivorBandBudget]], naming the LSH
    * handoff that is measured to work there. Deterministic end to
    * end (md5 sample rank, hash-seeded codebooks), so the refusal is
    * a constant of the corpus. The budget prices the survivor volume
    * the rerank joins can demonstrably carry: the x100 LSH sweep
    * moved ~4.2·10⁷ verified pairs in 729.8 s, the refused regime
    * starts ~50× above that. On REAL near-dup corpora the band is
    * dup-mass-sized, the sampled fraction reads ~0, and the PQ path
    * proceeds — its declared regime is unchanged. The sample scan is
    * SKIPPED when n(n−1)/2 ≤ budget (even a 100% band fits — the
    * decision is a constant, so measuring buys nothing), which keeps
    * the guard free at bench scale while every trippable scale still
    * measures. */
  val BandSampleVecs = 512
  val SurvivorBandBudget = 50000000L

  /** The bounded sample measurement behind the band refusal (doc
    * above); returns Some(refusal message) when the extrapolated
    * SURVIVOR estimate exceeds `bandBudget` — [[neardupPairs]] throws
    * it, [[neardupPqAuto]] dispatches on it (r16, VERDICT r15
    * item 5). The estimate is gated on
    * BOTH stages the real pipeline applies (r15 review: a band-only
    * extrapolation over-refuses selective-LSH configs whose candidate
    * join already thins the band): a sample pair is a projected
    * survivor iff it collides in ≥ 1 of the SAME `tables`×`bits`
    * sign-LSH tables the call will use AND its SDC cosine clears
    * θ − margin — the exact definition of a row the rerank joins must
    * carry. `prepared` must carry (vec_id, embedding, nrm); `enc` the
    * cached packed codes. */
  private def calibrateBand(spark: SparkSession, prepared: DataFrame,
      enc: DataFrame, books: DataFrame, threshold: Double, margin: Double,
      m: Int, ksub: Int, tables: Int, bits: Int, n: Long,
      bandBudget: Long): Option[String] = {
    val sample = enc
      .join(prepared.select(col("vec_id"), col("embedding")), "vec_id")
      .orderBy(md5(concat(lit("pqband#"), col("vec_id").cast("string"))),
        col("vec_id"))
      .limit(BandSampleVecs)
      .select(col("vec_id"), col("codes"), col("nrm"),
        LshSignatures.of(spark, col("embedding"), tables, bits).as("sigs"))
    val stats = sample.as("a").join(sample.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .crossJoin(broadcast(sdcFlat(spark, books, m, ksub)))
      .select(
        (sdcDot(spark, col("tflat"), col("a.codes"), col("b.codes"), ksub) /
          (col("a.nrm") * col("b.nrm")) >= threshold - margin).as("band"),
        exists(zip_with(col("a.sigs"), col("b.sigs"), (x, y) => x === y),
          bcol => bcol).as("cand"))
      .agg(sum(when(col("band"), 1L).otherwise(0L)).as("nband"),
        sum(when(col("band") && col("cand"), 1L).otherwise(0L)).as("nsurv"))
      .head()
    val (sBand, sSurv) = (stats.getLong(0), stats.getLong(1))
    val sVecs = math.min(n, BandSampleVecs.toLong)
    val sPairs = math.max(1L, sVecs * (sVecs - 1) / 2)
    val survFrac = sSurv.toDouble / sPairs
    val estSurv = survFrac * n * (n - 1) / 2
    if (estSurv <= bandBudget) None
    else Some(
      f"AnnPq.neardupPairs: the SDC survivor band at θ−margin = " +
      f"${threshold - margin}%.2f admits ~${sBand * 100.0 / sPairs}%.1f%% of " +
      f"all pairs, and ~${survFrac * 100}%.1f%% also collide in the " +
      f"$tables×$bits candidate tables (measured on the $sVecs-vector md5 " +
      f"sample: $sSurv of $sPairs) ⇒ ~$estSurv%.3g survivor pairs at n=$n — " +
      f"past the $bandBudget-pair band budget the exact-rerank joins can " +
      "carry. The corpus's cosine distribution is too uniform for a " +
      "fixed-margin PQ pre-filter; hand off to AnnLsh.neardupPairs " +
      "(q_llm_embed_neardup_ann — recall ≥ 0.95 pinned, measured to " +
      "complete at this regime where the PQ band spills)")
  }

  /** Trained state shared by [[neardupPairs]] and [[neardupPqAuto]]:
    * the prepared/encoded relations (cached), codebooks, corpus count,
    * and the band verdict — None inside the declared regime, Some
    * (refusal message) where the survivor band would spill. The
    * calibration sample scan is SKIPPED when even a 100% band fits
    * the budget (n(n−1)/2 ≤ budget): the decision is then a constant
    * regardless of the measured fraction, so measuring buys nothing —
    * free at bench scale (n=2000 ⇒ 2M ≤ 5·10⁷) while every scale
    * that could trip it still measures. */
  private case class TrainedBand(prepared: DataFrame, enc: DataFrame,
      books: DataFrame, refusal: Option[String], release: () => Unit)

  private def trainAndCalibrate(spark: SparkSession, emb: DataFrame,
      threshold: Double, tables: Int, bits: Int, m: Int, ksub: Int,
      margin: Double, iters: Int, bandBudget: Long): TrainedBand = {
    requireCodeLayout(m, ksub)
    val prepared = emb.select(col("vec_id"), col("embedding"),
      VecOps.norm(spark, col("embedding")).as("nrm"))
    // trained once, folded twice (books + encode) — eager per the
    // concurrent-consumer cache discipline. SHARED, not query-local
    // (r17, VERDICT r16 item 4): q_llm_embed_neardup_pq and its _gate
    // both derive this exact training in one pass — the top-2 bench
    // lines since r12 were two ids re-paying one deterministic fit.
    // The CacheManager dedupes by logical plan, so the gate's
    // re-derivation of the identical (emb, m, ksub, iters) training
    // resolves to the filled cache instead of refitting; training is
    // hash-seeded deterministic, so reuse cannot change results. The
    // per-query drain leaves shared entries alone (the ngram
    // shingle-pair precedent); memory is bounded by the corpus's
    // (vec_id, sub, sv) expansion, MEMORY_AND_DISK — PER CORPUS, so
    // multi-corpus harnesses (FullScale's x1 then xK sweeps) call
    // CacheScope.drainShared at corpus boundaries (r17 review).
    val assigned = graft.CacheScope.sharedEager(
      trainAssign(spark, prepared, m, ksub, iters))
    val books = booksOf(assigned)
    val enc = graft.CacheScope.sharedEager(encodeWith(assigned, prepared))
    val n = enc.count()
    val refusal =
      if (n * (n - 1) / 2 > bandBudget)
        calibrateBand(spark, prepared, enc, books, threshold, margin,
          m, ksub, tables, bits, n, bandBudget)
      else None
    TrainedBand(prepared, enc, books, refusal,
      // for the caller that ABANDONS the PQ path (the auto dispatch):
      // the two whole-corpus cached relations must not sit pinned in
      // MEMORY_AND_DISK under the LSH pipeline that never reads them
      // (r16 review) — by construction the refusal only fires at the
      // scales where that memory matters most
      () => { assigned.unpersist(); enc.unpersist() })
  }

  def neardupPairs(spark: SparkSession, emb: DataFrame, threshold: Double,
      tables: Int, bits: Int, m: Int = 32, ksub: Int = 16,
      margin: Double = 0.2, iters: Int = 2,
      bandBudget: Long = SurvivorBandBudget): DataFrame = {
    val t = trainAndCalibrate(spark, emb, threshold, tables, bits, m, ksub,
      margin, iters, bandBudget)
    t.refusal.foreach(msg => throw new IllegalArgumentException(msg))
    pairsFromEncoded(spark, t.prepared, t.enc, t.books, threshold, tables,
      bits, m, ksub, margin)
  }

  /** PQ AUTO-HANDOFF (r16, VERDICT r15 item 5 — the dispatch-family
    * precedent applied to the r15 band refusal): run the SAME bounded
    * band calibration [[neardupPairs]] enforces and, where its
    * refusal would fire, EXECUTE the named alternative —
    * [[AnnLsh.neardupPairs]] at the same tables×bits config, measured
    * to complete in the regime where the PQ band spills (x100 LSH
    * sweep, BASELINE §r14) — instead of throwing. Same measurement,
    * same budget, same θ; refusal text becomes dispatch.
    * AnnPqSpec pins both branches: inside-band ≡ the PQ path row for
    * row, refused-band ≡ the LSH pair relation, on the same
    * near-uniform corpus that exercises the refusal. */
  def neardupPqAuto(spark: SparkSession, emb: DataFrame, threshold: Double,
      tables: Int, bits: Int, m: Int = 32, ksub: Int = 16,
      margin: Double = 0.2, iters: Int = 2,
      bandBudget: Long = SurvivorBandBudget): DataFrame = {
    val t = trainAndCalibrate(spark, emb, threshold, tables, bits, m, ksub,
      margin, iters, bandBudget)
    if (t.refusal.isDefined) {
      t.release()
      AnnLsh.neardupPairs(spark, emb, threshold, tables, bits)
    } else pairsFromEncoded(spark, t.prepared, t.enc, t.books, threshold,
      tables, bits, m, ksub, margin)
  }

  /** Stages 1–3 of the pair pipeline (class doc above), from the
    * cached encoded relation on. */
  private def pairsFromEncoded(spark: SparkSession, prepared: DataFrame,
      enc: DataFrame, books: DataFrame, threshold: Double, tables: Int,
      bits: Int, m: Int, ksub: Int, margin: Double): DataFrame = {
    // SHARED cache on the bucket-code relation (r18 optimization): the
    // (t, bucket) self-join below otherwise evaluates the
    // tables×bits-hyperplane signature kernel on BOTH scan sides — the
    // exact refit-per-side shape AnnLsh.neardupPairs removed by caching
    // its bucket relation. Shared, not query-local, so the gate twin's
    // re-derivation resolves the filled cache (deterministic,
    // hash-derived); rows are narrow (codes, no embedding payload),
    // n·tables of them per corpus — drainShared at corpus boundaries.
    val bk = graft.CacheScope.sharedEager(prepared
      .select(col("vec_id"),
        posexplode(LshSignatures.of(spark, col("embedding"), tables, bits))
          .as(Seq("t", "bucket")))
      .join(enc, Seq("vec_id")))
    val cand = bk.as("a").join(bk.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.codes").as("pa"), col("b.codes").as("pb"),
        col("a.nrm").as("na"), col("b.nrm").as("nb"))
    val survivors = cand
      .crossJoin(broadcast(sdcFlat(spark, books, m, ksub)))
      .filter(sdcDot(spark, col("tflat"), col("pa"), col("pb"), ksub) /
        (col("na") * col("nb")) >= threshold - margin)
      .select(col("vec_a"), col("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    survivors
      .join(prepared.select(col("vec_id").as("vec_a"),
        col("embedding").as("ea"), col("nrm").as("na")), Seq("vec_a"))
      .join(prepared.select(col("vec_id").as("vec_b"),
        col("embedding").as("eb"), col("nrm").as("nb")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (VecOps.dot(spark, col("ea"), col("eb")) /
          (col("na") * col("nb"))).as("cs"))
      .filter(col("cs") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cs"))
  }

  /** Top-k neighbors of `queryVecId` by ADC scan over the compressed
    * corpus: every non-query vector is scored with m table lookups
    * (the memory-bounded full-scan PQ search — at 100 TB the code
    * relation is ~1/8 the corpus bytes and the scan is
    * embarrassingly parallel), the top `k·refine` approximate hits
    * are exact-reranked, and the final top-k is exact-cosine
    * ordered. Compose with AnnIvf cells for probe-limited variants;
    * the flat scan IS the honest baseline PQ form. */
  def topK(spark: SparkSession, emb: DataFrame, queryVecId: Long, k: Int,
      m: Int = 32, ksub: Int = 16, refine: Int = 4,
      iters: Int = 2): DataFrame = {
    requireCodeLayout(m, ksub)
    val prepared = emb.select(col("vec_id"), col("embedding"),
      VecOps.norm(spark, col("embedding")).as("nrm"))
    val assigned = graft.CacheScope.localEager(
      trainAssign(spark, prepared, m, ksub, iters))
    val books = booksOf(assigned)
    val enc = encodeWith(assigned, prepared)
    val q = prepared.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qv"), col("nrm").as("qnrm"))
    val approx = enc.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(adcFlat(spark, books, q, m, ksub)))
      .select(col("vec_id"),
        (adcDot(spark, col("tflat"), col("codes"), ksub) /
          (col("nrm") * col("qnrm"))).as("approx_cs"))
      .orderBy(col("approx_cs").desc, col("vec_id").asc)
      .limit(k * refine)
    approx
      .join(prepared, Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        (VecOps.dot(spark, col("embedding"), col("qv")) /
          (col("nrm") * col("qnrm"))).as("cs"))
      .orderBy(col("cs").desc, col("vec_id").asc)
      .limit(k)
  }
}
