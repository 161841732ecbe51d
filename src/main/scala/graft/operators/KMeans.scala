package graft.operators

import graft.Determinism
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Oracle-checkable deterministic Lloyd k-means over the embedding
  * corpus — the trainable coarse quantizer (SemDeDup / IVF building
  * block) promoted to a first-class, DuckDB-hash-verifiable query
  * relation. `AnnIvf.assignCells` already runs this Lloyd shape as an
  * engine-internal quantizer (xxhash64 seeding, unrounded cosines);
  * this variant is the CROSS-ENGINE spelling, deterministic down to
  * the last bit on BOTH engines so the full iterative fit can be
  * hash-checked against a SQL twin:
  *
  *   - seeding: the `k` vectors with the smallest
  *     (md5(vec_id-as-string), vec_id) — md5 of the decimal string is
  *     identical in Spark and DuckDB (xxhash64 is not), and the pair
  *     is a total order, so both engines pick the same seeds in the
  *     same cell order;
  *   - assignment: cosine against each centroid, ROUNDED to 6 dp
  *     before the argmax (round-then-compare absorbs nothing today —
  *     the underlying doubles are bit-identical, proven by the
  *     q_llm_embed_outlier / knn family — but makes the tie-break
  *     contract explicit); ties go to the smallest cell via one
  *     order-independent max(struct(cs, -cell)) partial aggregate —
  *     no window, no sort, safe under AQE at any scale;
  *   - update: per-(cell, dim) DECIMAL(38,6)-exact means (the
  *     q_llm_embed_outlier centroid discipline) — exact addition is
  *     order-independent, so shuffle arrival order can never wiggle a
  *     low bit and flip a near-tie assignment on the next round;
  *   - a FIXED round count, not a convergence loop (the AnnIvf
  *     discipline): each round is one broadcast join (k centroid
  *     rows, assignment stays embarrassingly parallel over the
  *     corpus) + one partial-agg shuffle keyed (cell, dim) whose
  *     group count is k·dim regardless of corpus size. At 100 TB the
  *     quantizer trains on a sample and the final assignment pass
  *     applies corpus-wide — exactly this plan, with the sample DF as
  *     the train input.
  *
  * Output: (vec_id, cell, cs) — final-round assignment with the
  * cosine to the winning centroid. Unordered; callers sort.
  */
object KMeans {

  /** Sequential left-fold dot of two array<double> columns — the
    * element-order fold both engines share (Spark aggregate/zip_with
    * vs DuckDB list_sum/list_transform/list_zip), proven bit-identical
    * by the q_llm_embed_outlier precedent. This is the REFERENCE
    * spelling; the engine paths below use the codegen DoubleVecDot
    * kernel, which is the same fold as a tight generated loop
    * (bit-identity pinned in KernelSpec and by the oracle hash). */
  def ddot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def dnorm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  /** (vec_id, v, nrm) with the float embedding cast to array<double>
    * once and the L2 norm riding along (the r10/r11 norm discipline —
    * computed at the scan, never per comparison). */
  def prepared(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm",
        graft.functions.VecOps.dnorm(emb.sparkSession, col("v")))

  /** Fit `rounds` Lloyd refinements from the md5-ranked seeds and
    * return the final assignment (vec_id, cell, cs). `e` must be the
    * [[prepared]] relation (callers cache it — it is scanned once per
    * assignment/update pass). */
  def fit(e: DataFrame, k: Int, rounds: Int): DataFrame =
    fitAll(e, k, rounds)._2

  /** The trained MODEL — the (cell, centroid) relation the final
    * assignment of [[fit]] uses. This is the train-on-sample /
    * apply-anywhere artifact: k rows, broadcastable, consumed by the
    * batch apply pass at 100 TB and by streaming.SemanticDedup's
    * ingest-time assignment. */
  def fitModel(e: DataFrame, k: Int, rounds: Int): DataFrame =
    fitAll(e, k, rounds)._1

  /** One Lloyd loop, BOTH artifacts: (model, assignment). Callers that
    * need the trained centroids and the fitted assignment together
    * (train-then-apply pipelines, SemanticDedupSpec) previously ran
    * [[fit]] + [[fitModel]] — two complete iterative fits of the same
    * loop (ADVICE r11). */
  def fitAll(e: DataFrame, k: Int, rounds: Int): (DataFrame, DataFrame) =
    loop(e, k, rounds)

  /** Train-on-sample / apply-corpus-wide — the 100 TB shape the class
    * Scaladoc promises, executable: the quantizer trains on the
    * `trainCap` vectors with the smallest (md5(vec_id), vec_id) rank —
    * the SAME total order the seed selection already uses, so the
    * sample is deterministic on both engines and the seeds of the
    * sampled fit are exactly the seeds of the full fit — and the final
    * broadcast-assignment pass runs over the whole corpus. Train cost
    * is trainCap·k cosines per round regardless of corpus size; the
    * corpus pays exactly ONE n·k assignment pass.
    *
    * Invariant (AutoConfigSpec): trainCap ≥ n ⇒ the sample IS the
    * corpus and the result is row-identical to [[fitAll]] — the final
    * apply re-derives the loop's own last assignment. */
  def fitAllSampled(e: DataFrame, k: Int, rounds: Int, trainCap: Int): (DataFrame, DataFrame) = {
    require(trainCap >= k,
      s"KMeans: trainCap=$trainCap must hold at least k=$k seed vectors")
    // cached + eager: the Lloyd loop scans the train relation from two
    // concurrent stages per round (assignment probe + centroid update)
    // — the CacheScope.localEager discipline
    val train = graft.CacheScope.localEager(
      e.withColumn("h", md5(col("vec_id").cast("string").cast("binary")))
        .orderBy(col("h"), col("vec_id")).limit(trainCap).drop("h"))
    val cents = loop(train, k, rounds)._1
    (cents, assign(e, cents))
  }

  private def loop(e: DataFrame, k: Int, rounds: Int): (DataFrame, DataFrame) = {
    val seedW = Window.orderBy(col("h"), col("vec_id"))
    var cents = e
      .withColumn("h", md5(col("vec_id").cast("string").cast("binary")))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .select((row_number().over(seedW).cast("long") - 1).as("cell"),
        col("v").as("centroid"))
    var asg = assign(e, cents)
    var r = 0
    while (r < rounds) {
      cents = update(e, asg)
      asg = assign(e, cents)
      r += 1
    }
    (cents, asg)
  }

  /** Nearest-centroid assignment: broadcast the k centroid rows
    * (centroid norms computed once on the tiny side), cosine rounded
    * to 6 dp, argmax via one order-independent max(struct) partial
    * aggregate — ties to the smallest cell. */
  private def assign(e: DataFrame, cents: DataFrame): DataFrame = {
    val s = e.sparkSession
    val cn = cents.withColumn("cnrm",
      graft.functions.VecOps.dnorm(s, col("centroid")))
    e.join(broadcast(cn))
      .select(col("vec_id"), col("cell"),
        round(graft.functions.VecOps.ddot(s, col("v"), col("centroid")) /
          (col("nrm") * col("cnrm")), 6).as("cs"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cs"), (-col("cell")).as("nc"))).as("m"))
      .select(col("vec_id"), (-col("m.nc")).as("cell"), col("m.cs").as("cs"))
  }

  /** Centroid recomputation: per-(cell, dim) DECIMAL-exact means
    * (partial-aggregable; k·dim groups regardless of corpus size),
    * reassembled into ordered arrays on the k-row side. */
  private def update(e: DataFrame, asg: DataFrame): DataFrame =
    asg.join(e, "vec_id")
      .select(col("cell"), posexplode(col("v")))
      .toDF("cell", "pos", "val")
      .groupBy(col("cell"), col("pos"))
      .agg((Determinism.sumd(col("val")) / count(lit(1))).as("c"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x("c")).as("centroid"))
}
