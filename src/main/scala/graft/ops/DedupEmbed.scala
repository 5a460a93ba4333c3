package graft.ops

import graft.QueryDef
import graft.model.Tables.table
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The embedding-cosine family of [[Dedup]] — hyperplane-banded
  * near-dup pairs, clustering/apply over exact-vector groups,
  * vector decontamination, and the incremental / stored / takedown
  * closure over the frozen vector index. Implementation part of the
  * [[Dedup]] object. */
trait DedupEmbedPart { this: Dedup.type =>

  /** Incremental EMBEDDING dedup — the vector twin of
    * [[lshIncrementSurvivors]], completing the incremental-admission
    * closure across both near-dup families: the corpus keeps its
    * double vectors + hyperplane band buckets as a FROZEN leased
    * index, and an arriving batch is admitted by bucketing the BATCH
    * only — batch buckets join corpus buckets (the corpus always
    * wins) and themselves under keep-first id order, with the exact
    * dot-product cosine verifying candidates at >= `threshold`.
    * Zero-norm vectors emit no postings (cosine would be 0/0 = NaN)
    * and always survive, the family's explicit gate. Candidate
    * volume is batch-sized on one side of every join; corpus×corpus
    * pairing never recurs. Returns the surviving batch rows
    * (original schema). */
  /** The family's prepped-vector frame: double vectors with norms,
    * zero-norm rows dropped (cosine would be 0/0 = NaN — the explicit
    * gate every embedding operator applies). */
  private def prepVecs(df: DataFrame): DataFrame = df
    .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    .withColumn("norm", Similarity.l2norm(col("v")))
    .filter(col("norm") > 0)

  /** Hyperplane band-bucket postings of a prepped frame (the family's
    * shared LSH: bands=8, r=8, probed dimension). */
  private def vecBuckets(sig: DataFrame): DataFrame = sig.select(col("vec_id"),
    explode(Similarity.bandBucketsProbed(sig, col("v"), bands = 8, r = 8)).as("bkt"))

  def embedIncrementSurvivors(
      base: DataFrame, batch: DataFrame, threshold: Double = 0.4): DataFrame = {
    val sigO = Checkpoints.lease("embinc_base", prepVecs(base))
    embedIncrementFromIndex(sigO, vecBuckets(sigO), batch, threshold)
  }

  private val embStoreSeq = new java.util.concurrent.atomic.AtomicLong()

  /** The durable round-trip for the VECTOR corpus index — the
    * embedding twin of [[lshStoredSurvivors]]: prep the corpus
    * vectors ONCE (the bucket postings derive from the STORED frame,
    * so the embeddings scan once), SAVE both frames as parquet
    * artifacts, RELOAD them, and admit the batch against the reloaded
    * index. Values are bit-identical to [[embedIncrementSurvivors]]
    * (parquet round-trips the long/double-array schema exactly;
    * IndexStoreSpec pins admission-decision equality in a fresh
    * session), so the same oracle covers both. */
  def embedStoredSurvivors(
      base: DataFrame, batch: DataFrame, threshold: Double = 0.4): DataFrame = {
    val s = batch.sparkSession
    val root = IndexStore.scratchRoot(s, "embstore", embStoreSeq.incrementAndGet())
    IndexStore.save(root, "vec_sigs" -> prepVecs(base))
    val sigStored = IndexStore.load(s, root, "vec_sigs")
    IndexStore.save(root, "vec_buckets" -> vecBuckets(sigStored))
    embedIncrementFromIndex(
      IndexStore.load(s, root, "vec_sigs"),
      IndexStore.load(s, root, "vec_buckets"),
      batch, threshold)
  }

  /** TAKEDOWN + admit for the VECTOR corpus index — the embedding
    * twin of [[lshTakedownSurvivors]]: compact the stored vector
    * frame by the tombstone set, rebuild bucket postings from the
    * compacted primary, admit the batch. Values equal admitting
    * against the corpus minus the tombstoned vectors
    * (`dd_embed_takedown`'s filtered-corpus oracle). */
  def embedTakedownSurvivors(
      base: DataFrame, batch: DataFrame, tombstones: DataFrame,
      threshold: Double = 0.4): DataFrame = {
    val s = batch.sparkSession
    val root = IndexStore.scratchRoot(s, "embtakedown", embStoreSeq.incrementAndGet())
    IndexStore.save(root, "vec_sigs" -> prepVecs(base))
    IndexStore.compact(s, root, "vec_sigs", tombstones)
    val sigStored = IndexStore.load(s, root, "vec_sigs")
    IndexStore.save(root, "vec_buckets" -> vecBuckets(sigStored))
    embedIncrementFromIndex(
      IndexStore.load(s, root, "vec_sigs"),
      IndexStore.load(s, root, "vec_buckets"),
      batch, threshold)
  }

  /** [[embedIncrementSurvivors]]'s admission core against a PRE-BUILT
    * frozen vector index: `sigO` is the prepped corpus frame
    * (vec_id, v, norm — leased in-session, or reloaded from
    * [[IndexStore]] parquet), `bandsO` its bucket postings. */
  def embedIncrementFromIndex(
      sigO: DataFrame, bandsO: DataFrame, batch: DataFrame,
      threshold: Double = 0.4): DataFrame = {
    val sigN = Checkpoints.lease("embinc_batch", prepVecs(batch))
    val bandsN = vecBuckets(sigN)
    val candCorpus = bandsN.as("a")
      .join(bandsO.as("o"), col("a.bkt") === col("o.bkt"))
      .select(col("a.vec_id").as("id_n"), col("o.vec_id").as("id_o")).distinct()
    val candBatch = bandsN.as("a")
      .join(bandsN.as("p"),
        col("a.bkt") === col("p.bkt") && col("p.vec_id") < col("a.vec_id"))
      .select(col("a.vec_id").as("id_n"), col("p.vec_id").as("id_o")).distinct()
    def verified(cand: DataFrame, sigOther: DataFrame) = cand
      .join(sigN.select(col("vec_id").as("id_n"), col("v").as("vn"),
        col("norm").as("nn")), Seq("id_n"))
      .join(sigOther.select(col("vec_id").as("id_o"), col("v").as("vo"),
        col("norm").as("no")), Seq("id_o"))
      .filter(Similarity.dot(col("vn"), col("vo")) / (col("nn") * col("no")) >= threshold)
      .select(col("id_n"))
    val dominated = verified(candCorpus, sigO)
      .unionByName(verified(candBatch, sigN))
      .distinct().toDF("vec_id")
    batch.join(dominated, Seq("vec_id"), "left_anti")
  }

  /** The embeddings table prepared for the embedding near-dup family:
    * doubles, precomputed norm, and the grouping-safe exact-equality
    * key. The group key is a codegen'd BINARY fingerprint of the
    * vector, NOT the raw array<float>: keying on the float array makes
    * NormalizeFloatingNumbers wrap it in an interpreted transform(...)
    * that the window sort then evaluates per comparison
    * (FloatVectorBytes doc has the full autopsy); bytes-equal <=>
    * float-equal under grouping semantics, so the groups — and the
    * oracle, which partitions by embedding — are unchanged. */
  private def embedAll(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    table(s, d, "embeddings")
      .select($"vec_id", $"embedding", Similarity.asDouble($"embedding").as("v"))
      .withColumn("norm", Similarity.l2norm($"v"))
      .withColumn("vkey",
        graft.functions.VectorExpressions.floatVectorBytes($"embedding"))
  }

  /** Verified cosine pairs over exact-vector group REPRESENTATIVES:
    * banded hyperplane-LSH candidates + exact dot-product verify —
    * the pairwise stage shared by dd_embed_cos (which expands the
    * pairs back to members) and dd_embed_cluster (which runs
    * connected components over them). */
  private def embedRepPairs(reps0: DataFrame): DataFrame = {
    // norm > 0 is load-bearing, not an optimization: a zero-norm
    // vector's cosine is 0/0 = NaN, and BOTH engines evaluate
    // NaN >= 0.4 as TRUE (Spark's nan-safe ordering and DuckDB each
    // place NaN above every value) — without the explicit gate,
    // zero-norm reps would sail through the verify filter and pair
    val reps = reps0.filter(col("norm") > 0)
      .select(col("vec_id"), col("v"), col("norm"))
    // empty-safe dim probe (LIMIT-1 scan) so the 64 plane
    // evaluations compile to constant-vector DotProducts instead
    // of interpreted HOFs — the corpus dimension is fixed per
    // table; a mismatched row fails loudly instead of silently
    // dropping from candidate generation
    val banded = reps.select(col("vec_id"),
      explode(Similarity.bandBucketsProbed(reps, col("v"), bands = 8, r = 8)).as("bkt"))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.bkt") === col("b.bkt") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    cand
      .join(reps.select(col("vec_id").as("id_a"), col("v").as("v_a"), col("norm").as("n_a")), Seq("id_a"))
      .join(reps.select(col("vec_id").as("id_b"), col("v").as("v_b"), col("norm").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (Similarity.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b"))).as("cos"))
      .filter(col("cos") >= 0.4)
  }

  /** Reps whose self-cosine reaches the threshold — the eligibility
    * gate for within-group pairing (a zero-norm vector never pairs,
    * not even with its exact twins: cosine is undefined for it).
    * The norm > 0 conjunct enforces that: self-cosine of a zero-norm
    * vector is 0/0 = NaN, which Spark's NaN-high ordering would pass
    * through `>= 0.4` (the oracle's selfcos CTE carries the matching
    * `nrm > 0`). */
  private def embedEligibleReps(reps: DataFrame): DataFrame =
    reps.filter(col("norm") > 0 &&
      (Similarity.dot(col("v"), col("v")) / (col("norm") * col("norm"))) >= 0.4)

  /** Full (vec_id, cluster) membership over the verified embedding
    * near-dup graph — the shared core of dd_embed_cluster (which emits
    * it directly) and dd_embed_apply (which keeps one representative
    * per cluster). Components run on exact-vector reps, members
    * inherit, zero-norm vectors are singletons; cluster id is the
    * component-minimum vec_id across ALL members (the rep minimum,
    * and reps are their groups' minima). */
  private def embedMembership(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // leased: the grouped frame fans out SIX ways (banded postings,
    // both verify join sides, the eligibility gate, the CC vertex set,
    // the member expansion) — each reference otherwise re-instantiates
    // the scan + vkey window subtree (guide §1.2: don't recompute)
    val grp = Checkpoints.lease("embmem_grp",
      embedAll(s, d).withColumn("__min",
        min($"vec_id").over(Window.partitionBy($"vkey"))))
    val reps = grp.filter($"vec_id" === $"__min")
    val pairs = embedRepPairs(reps).select($"id_a", $"id_b")
    val repLabels = connectedMinLabels(reps.select($"vec_id".as("id")), pairs)
    val eligible = embedEligibleReps(reps).select($"vec_id".as("__min"))
    val members = grp.select($"vec_id", $"__min")
    val inherited = members.join(eligible, Seq("__min"))
      .join(repLabels.select($"id".as("__min"), $"label".as("cluster")), Seq("__min"))
      .select($"vec_id", $"cluster")
    val singletons = members.join(eligible, Seq("__min"), "left_anti")
      .select($"vec_id", $"vec_id".as("cluster"))
    inherited.unionByName(singletons)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — PAPERS.md):
    * semantic dedup with candidates bounded by a TRAINED k-means
    * partitioning instead of the family's hyperplane LSH. The corpus
    * is clustered by the exact coarse quantizer the IVF family trains
    * ([[Similarity.kmeansCells]] — deterministic md5-mod init +
    * quantized-integer centroid means, so the assignment replays
    * bit-for-bit in the oracle); within each cell a vector is DROPPED
    * iff some lower-id cell-mate sits at cosine >= `threshold` (the
    * paper's keep-lowest-index rule — deliberately NOT transitive
    * closure: dominance by a vector that is itself dropped still
    * drops you, exactly as the paper's per-cluster sim-matrix sweep
    * behaves). Zero-norm vectors take a cell like any other row but
    * never pair (cosine is 0/0 = NaN; both engines would pass
    * NaN >= t, so the norm > 0 gate is load-bearing) — they always
    * survive, the family's explicit gate.
    *
    * Scale shape: clustering is the already-audited IVF build (per
    * round one exact-integer centroid aggregate + a broadcast-fold
    * assignment map); the pairing self-join shuffles once on `cell`
    * and is CELL-bounded — at 100 TB nlist grows with the corpus so
    * cells stay ~corpus/nlist sized and the quadratic never goes
    * global (the paper's own scaling argument), with AQE splitting
    * any skewed cell. Returns (vec_id, cell) survivors. */
  def semDedupSurvivors(
      emb: DataFrame, threshold: Double = 0.4,
      nlist: Int = Similarity.IvfNlist,
      iters: Int = Similarity.IvfIters): DataFrame = {
    val vecs = emb
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", Similarity.l2norm(col("v")))
    // one lease: the trained (vec_id, v, nrm, cell) frame fans out to
    // both sides of the pairing join and the survivor anti-join —
    // without it the 4-round Lloyd subtree would re-train 3x. The
    // assignment is the broadcast-map form (Similarity.kmeansAssigned):
    // no corpus-wide vec_id reattachment join.
    val cells = Checkpoints.lease("semdedup_cells",
      Similarity.kmeansAssigned(vecs, nlist, iters))
    val pos = cells.filter(col("nrm") > 0)
    val xs = pos.select(col("vec_id").as("xid"), col("cell"),
      col("v").as("xv"), col("nrm").as("xn"))
    val ys = pos.select(col("vec_id").as("yid"), col("cell"),
      col("v").as("yv"), col("nrm").as("yn"))
    val dominated = xs.join(ys, Seq("cell"))
      .filter(col("yid") < col("xid"))
      .filter(Similarity.dot(col("xv"), col("yv")) / (col("xn") * col("yn")) >= threshold)
      .select(col("xid").as("vec_id")).distinct()
    cells.join(dominated, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
  }

  /** Incremental SemDeDup admission — the day-2 form of
    * [[semDedupSurvivors]], completing the family's operational
    * symmetry: the corpus is clustered ONCE and frozen as
    * {assignment + the round-`iters` centroid row that produced it}
    * (freezing the quantizer itself is what makes admission
    * deterministic: a verbatim twin argmaxes the SAME centroids as
    * its original, so it provably lands in the original's cell and
    * is dominated at cosine 1.0). An arriving batch row is assigned
    * by the same in-row fold, then DROPPED iff some corpus member of
    * its cell sits at cosine >= `threshold` (the corpus always wins —
    * even a corpus vector dd_semdedup itself would drop still
    * dominates, the family's non-transitive rule) or some lower-id
    * batch-mate assigned to the same cell does (keep-first within
    * the batch). Zero-norm batch rows take a cell but never pair —
    * they always survive. Candidates are CELL-bounded on the batch
    * side of every join; the corpus never re-pairs with itself.
    * Returns surviving batch rows as (vec_id, cell). */
  def semDedupIncrementSurvivors(
      base: DataFrame, batch: DataFrame, threshold: Double = 0.4,
      nlist: Int = Similarity.IvfNlist,
      iters: Int = Similarity.IvfIters): DataFrame = {
    val baseVecs = semDedupPrep(base)
    // two leases: the trained centroid row (1 row — training runs
    // once, here), then the corpus assigned FROM the leased quantizer
    // (a map pass, not a second training)
    val cents = Checkpoints.lease("semddinc_cents",
      Similarity.kmeansCents(baseVecs.select(col("vec_id"), col("v")), nlist, iters))
    val corpus = Checkpoints.lease("semddinc_corpus",
      Similarity.withNearestCell(baseVecs, cents))
    semDedupAdmit(cents, corpus, batch, threshold)
  }

  private def semDedupPrep(df: DataFrame): DataFrame = df
    .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    .withColumn("nrm", Similarity.l2norm(col("v")))

  /** The durable round-trip of [[semDedupIncrementSurvivors]]: the
    * frozen SemDeDup index — the trained centroid row AND the corpus
    * assigned under it — is SAVED as parquet artifacts, RELOADED, and
    * the batch admitted against the reloaded frames. Values are
    * bit-identical to the leased path (parquet round-trips the
    * long / double-array / nested-struct schema exactly), so the same
    * oracle covers both; SemDedupSpec pins decision equality. */
  def semDedupStoredSurvivors(
      base: DataFrame, batch: DataFrame, threshold: Double = 0.4,
      nlist: Int = Similarity.IvfNlist,
      iters: Int = Similarity.IvfIters): DataFrame = {
    val s = batch.sparkSession
    val root = IndexStore.scratchRoot(s, "semddstore", embStoreSeq.incrementAndGet())
    val baseVecs = semDedupPrep(base)
    IndexStore.save(root, "sd_cents" ->
      Similarity.kmeansCents(baseVecs.select(col("vec_id"), col("v")), nlist, iters))
    val cents = IndexStore.load(s, root, "sd_cents")
    IndexStore.save(root, "sd_corpus" -> Similarity.withNearestCell(baseVecs, cents))
    semDedupAdmit(cents, IndexStore.load(s, root, "sd_corpus"), batch, threshold)
  }

  /** TAKEDOWN + admit for the SemDeDup index: compact the STORED
    * assigned-corpus frame by the tombstone set, then admit the batch
    * against the compacted index — WITHOUT retraining the quantizer
    * (the centroid artifact is untouched: a right-to-be-forgotten
    * request removes the vector from the index; it does not entitle
    * anyone to a new clustering, and keeping the quantizer frozen is
    * what keeps every surviving vector's recorded cell valid). Equal
    * to admitting against the corpus minus the tombstoned vectors
    * under the FULL-corpus-trained centroids — the increment oracle
    * with only its corpus-side CTE filtered. */
  def semDedupTakedownSurvivors(
      base: DataFrame, batch: DataFrame, tombstones: DataFrame,
      threshold: Double = 0.4,
      nlist: Int = Similarity.IvfNlist,
      iters: Int = Similarity.IvfIters): DataFrame = {
    val s = batch.sparkSession
    val root = IndexStore.scratchRoot(s, "semddtakedown", embStoreSeq.incrementAndGet())
    val baseVecs = semDedupPrep(base)
    IndexStore.save(root, "sd_cents" ->
      Similarity.kmeansCents(baseVecs.select(col("vec_id"), col("v")), nlist, iters))
    val cents = IndexStore.load(s, root, "sd_cents")
    IndexStore.save(root, "sd_corpus" -> Similarity.withNearestCell(baseVecs, cents))
    IndexStore.compact(s, root, "sd_corpus", tombstones)
    semDedupAdmit(cents, IndexStore.load(s, root, "sd_corpus"), batch, threshold)
  }

  /** [[semDedupIncrementSurvivors]]'s admission core against a
    * PRE-BUILT frozen index (leased in-session, or reloaded from
    * [[IndexStore]] parquet): `cents` the trained single-row centroid
    * frame, `corpus` the (vec_id, v, nrm, cell) assignment under it. */
  private def semDedupAdmit(
      cents: DataFrame, corpus: DataFrame, batch: DataFrame,
      threshold: Double): DataFrame = {
    val bA = Similarity.withNearestCell(semDedupPrep(batch), cents)
    val xs = bA.select(col("vec_id").as("xid"), col("cell"),
      col("v").as("xv"), col("nrm").as("xn"))
    val domCorpus = xs.join(
      corpus.select(col("cell"), col("v").as("yv"), col("nrm").as("yn")), Seq("cell"))
      .filter(col("xn") > 0 && col("yn") > 0)
      .filter(Similarity.dot(col("xv"), col("yv")) / (col("xn") * col("yn")) >= threshold)
      .select(col("xid"))
    val ys = bA.select(col("vec_id").as("yid"), col("cell"),
      col("v").as("yv"), col("nrm").as("yn"))
    val domBatch = xs.join(ys, Seq("cell"))
      .filter(col("yid") < col("xid") && col("xn") > 0 && col("yn") > 0)
      .filter(Similarity.dot(col("xv"), col("yv")) / (col("xn") * col("yn")) >= threshold)
      .select(col("xid"))
    val dominated = domCorpus.unionByName(domBatch).distinct().toDF("vec_id")
    bA.join(dominated, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
  }

  /** Embedding-space decontamination — asymmetric near-dup scrub over
    * vectors: remove from `docs` every row whose embedding's cosine to
    * ANY `blocklist` vector reaches `threshold`. The semantic twin of
    * [[decontaminate]] for leakage that survives paraphrase: n-gram
    * minhash needs shared text, the embedding form only a nearby
    * vector. Both sides carry (idCol, v, norm, vkey) as [[embedAll]]
    * produces them; returns the surviving `docs` rows (input schema
    * minus nothing — `__min` is internal).
    *
    * Scale shape mirrors the text form: each side collapses to
    * exact-vector group REPRESENTATIVES first (twins share every band
    * bucket and every cosine, so a member is contaminated iff its rep
    * is); candidates are the family's shared hyperplane band equi-join
    * (bands=8, r=8) with the blocklist side BROADCAST under the same
    * guarded-hint discipline as the text form (one bounded
    * blocklist-side aggregate measures the payload in vector doubles;
    * past the cap the hints drop and Catalyst + AQE plan from runtime
    * sizes); verification is the exact dot-product cosine on candidate
    * pairs only. Zero-norm vectors never pair — cosine is 0/0 = NaN
    * and BOTH engines evaluate NaN >= t as true, so the norm > 0 gates
    * here (and the `nrm > 0` conjuncts in the oracle) are load-bearing:
    * zero-norm rows always survive, on both engines, explicitly. */
  def embedDecontaminate(
      docs: DataFrame, blocklist: DataFrame, idCol: String,
      threshold: Double,
      broadcastMaxDoubles: Long = 8L << 20): DataFrame = {
    val grp = docs.withColumn("__min",
      min(col(idCol)).over(Window.partitionBy(col("vkey"))))
    val reps = grp.filter(col(idCol) === col("__min") && col("norm") > 0)
      .select(col(idCol).as("__tid"), col("v"), col("norm"))
    val breps = blocklist
      .withColumn("__bmin", min(col(idCol)).over(Window.partitionBy(col("vkey"))))
      .filter(col(idCol) === col("__bmin") && col("norm") > 0)
      .select(col(idCol).as("__bid"), col("v").as("bv"), col("norm").as("bn"))
    val blockDoubles = breps.agg(coalesce(sum(size(col("bv"))), lit(0L)))
      .head().getLong(0)
    val hint: DataFrame => DataFrame =
      if (blockDoubles <= broadcastMaxDoubles) broadcast else identity
    val tBands = reps.select(col("__tid"),
      explode(Similarity.bandBucketsProbed(reps, col("v"), bands = 8, r = 8)).as("bkt"))
    val bBands = breps.select(col("__bid"),
      explode(Similarity.bandBucketsProbed(breps, col("bv"), bands = 8, r = 8)).as("bkt"))
    val cand = tBands.join(hint(bBands), Seq("bkt"))
      .select(col("__tid"), col("__bid")).distinct()
    val contaminated = cand
      .join(reps, Seq("__tid"))
      .join(hint(breps), Seq("__bid"))
      .filter(Similarity.dot(col("v"), col("bv")) / (col("norm") * col("bn")) >= threshold)
      .select(col("__tid").as("__min")).distinct()
    grp.join(contaminated, Seq("__min"), "left_anti").drop("__min")
  }

  /** DuckDB replay of the embedding pair pipeline up to the verified
    * rep pairs (`upairs`) and the eligible-rep self-cosines
    * (`selfcos`) — shared by dd_embed_cos (appends the member-pair
    * expansion) and dd_embed_cluster (appends the recursive component
    * closure). The `nrm > 0` conjuncts mirror the Spark side's
    * explicit zero-norm gates (NaN would otherwise pass `>= 0.4` in
    * both engines — see [[embedEligibleReps]]). */
  /** One side's exact-vector groups (`<p>g`), double-cast group
    * representatives with norms (`<p>e`) and hyperplane band buckets
    * (`<p>b`) as prefixed CTEs over `srcRel` — the building block the
    * symmetric ([[embedOracleCtes]]) and asymmetric
    * (dd_embed_decontaminate) embedding oracles assemble from,
    * mirroring [[minhashSideCtes]]. The bucket comprehension is the
    * exact integer LCG of [[Similarity.bandBucketsProbed]] (bands=8,
    * r=8), so the candidate sets replay in DuckDB. */
  /** The DuckDB list comprehension computing a row's 8 hyperplane band
    * buckets from its double vector `v` — the exact integer LCG of
    * [[Similarity.bandBucketsProbed]] (bands=8, r=8), shared by every
    * embedding-family oracle. */
  private[graft] val embedBucketListSql: String =
    """[bb * 256 + list_sum([CASE WHEN list_dot_product(v,
                            [CAST(((1103515245::BIGINT * ((bb * 8 + q) * 1048576 + i) + 12345) % 2147483648) AS DOUBLE)
                               / 2147483648.0 - 0.5
                             for i in range(len(v))]) >= 0.0
                          THEN (1 << (7 - q)) ELSE 0 END
                          for q in range(8)])
                        for bb in range(8)]"""

  private def embedSideCtes(p: String, srcRel: String): String =
    s"""${p}g AS (
                SELECT vec_id, embedding,
                       min(vec_id) OVER (PARTITION BY embedding) AS mn
                FROM $srcRel),
              ${p}e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS nrm
                FROM ${p}g WHERE vec_id = mn),
              ${p}b AS (
                SELECT vec_id,
                       $embedBucketListSql AS bkts
                FROM ${p}e)"""

  private lazy val embedOracleCtes: String =
    s"""${embedSideCtes("", "embeddings")},
              cand AS (
                SELECT a.vec_id AS id_a, c.vec_id AS id_b
                FROM b a JOIN b c ON a.vec_id < c.vec_id
                WHERE len(list_intersect(a.bkts, c.bkts)) > 0),
              upairs AS (
                SELECT cand.id_a, cand.id_b,
                       list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS cos
                FROM cand
                JOIN e x ON x.vec_id = cand.id_a
                JOIN e y ON y.vec_id = cand.id_b
                WHERE x.nrm > 0 AND y.nrm > 0
                  AND list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= 0.4),
              selfcos AS (
                SELECT vec_id AS mn, list_dot_product(v, v) / (nrm * nrm) AS cos
                FROM e
                WHERE nrm > 0
                  AND list_dot_product(v, v) / (nrm * nrm) >= 0.4)"""

  /** The shared day-2 fixture of `dd_embed_increment` /
    * `dd_embed_stored`: the first 30 vectors re-ingested verbatim
    * (+1,000,000) and negated twice (+2,000,000 / +3,000,000) —
    * admitted by `admit(base, batch)`. */
  private def embedIncrementQuery(s: SparkSession, d: String)(
      admit: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    import s.implicits._
    val base = table(s, d, "embeddings").select($"vec_id", $"embedding")
    val b0 = base.filter($"vec_id" < 30)
    val neg = transform($"embedding", x => -x).as("embedding")
    val batch = b0.select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
      .unionByName(b0.select(($"vec_id" + 2000000L).as("vec_id"), neg))
      .unionByName(b0.select(($"vec_id" + 3000000L).as("vec_id"), neg))
    admit(base, batch)
      .select($"vec_id", size($"embedding").cast("long").as("n_dims"))
      .orderBy($"vec_id")
  }

  private lazy val embedIncrementOracle: String = embedIncrementOracleFor("embeddings")

  /** The vector-increment replay parameterized by the CORPUS relation
    * — the takedown twin of [[lshIncrementOracleFor]]. */
  private def embedIncrementOracleFor(corpusRel: String): String = {
    def side(p: String, rel: String) =
      s"""${p}e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))) AS nrm
            FROM $rel),
          ${p}e1 AS (SELECT * FROM ${p}e WHERE nrm > 0),
          ${p}b AS (SELECT vec_id, $embedBucketListSql AS bkts FROM ${p}e1)"""
    s"""WITH nb AS (
          SELECT vec_id + 1000000 AS vec_id, embedding
          FROM embeddings WHERE vec_id < 30
          UNION ALL
          SELECT vec_id + 2000000 AS vec_id,
                 [-x for x in embedding] AS embedding
          FROM embeddings WHERE vec_id < 30
          UNION ALL
          SELECT vec_id + 3000000 AS vec_id,
                 [-x for x in embedding] AS embedding
          FROM embeddings WHERE vec_id < 30),
        ${side("o_", corpusRel)},
        ${side("n_", "nb")},
        candc AS (
          SELECT DISTINCT a.vec_id AS id_n, o.vec_id AS id_o
          FROM n_b a JOIN o_b o
            ON len(list_intersect(a.bkts, o.bkts)) > 0),
        candb AS (
          SELECT DISTINCT a.vec_id AS id_n, p.vec_id AS id_o
          FROM n_b a JOIN n_b p
            ON p.vec_id < a.vec_id
           AND len(list_intersect(a.bkts, p.bkts)) > 0),
        domc AS (
          SELECT DISTINCT c.id_n FROM candc c
          JOIN n_e1 x ON x.vec_id = c.id_n
          JOIN o_e1 y ON y.vec_id = c.id_o
          WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= 0.4),
        domb AS (
          SELECT DISTINCT c.id_n FROM candb c
          JOIN n_e1 x ON x.vec_id = c.id_n
          JOIN n_e1 y ON y.vec_id = c.id_o
          WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= 0.4),
        dom AS (SELECT id_n FROM domc UNION SELECT id_n FROM domb)
        SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n_dims FROM nb
        WHERE vec_id NOT IN (SELECT id_n FROM dom)
        ORDER BY vec_id"""
  }

  /** dd_embed_increment / dd_embed_stored / dd_embed_takedown. */
  private[ops] lazy val embedIncrementQueries: Seq[QueryDef] = Seq(

    // Incremental embedding dedup (see embedIncrementSurvivors): the
    // vector twin of dd_lsh_increment over the same day-2 shape. The
    // batch re-ingests the first 30 vectors verbatim (+1,000,000:
    // cosine 1.0 against their corpus originals — dominated) and
    // NEGATED twice (+2,000,000 / +3,000,000: cos(-v, v) = -1, so a
    // negated copy only falls to the corpus if some corpus vector
    // anti-correlates at <= -0.4 with the original — mostly novel —
    // while the two negated copies sit at cosine 1.0 with each other,
    // so keep-first retains the +2M copy and drops the +3M one).
    // Every admission decision replays from the shared hyperplane
    // bucket comprehension.
    QueryDef(
      "dd_embed_increment",
      (s, d) => embedIncrementQuery(s, d)(embedIncrementSurvivors(_, _)),
      Some(embedIncrementOracle)),

    // Durable VECTOR-index round-trip: the same day-2 admission, but
    // the frozen vector corpus index (prepped vectors + bucket
    // postings) is WRITTEN to parquet and RELOADED before the batch
    // is admitted — the embedding twin of dd_lsh_stored, under
    // dd_embed_increment's oracle verbatim (the round-trip is
    // value-exact). IndexStoreSpec pins admission-decision equality
    // against the leased path in a fresh session.
    QueryDef(
      "dd_embed_stored",
      (s, d) => embedIncrementQuery(s, d)(embedStoredSurvivors(_, _)),
      Some(embedIncrementOracle)),

    // VECTOR-index takedown under the oracle — the embedding twin of
    // dd_lsh_takedown: the stored vector index compacted by vec_ids
    // < 10 before admission; the forgotten originals stop dominating
    // their verbatim +1M twins, and the replay is the increment
    // oracle against `embeddings` minus the forgotten ids.
    QueryDef(
      "dd_embed_takedown",
      (s, d) => {
        import s.implicits._
        embedIncrementQuery(s, d)(embedTakedownSurvivors(_, _,
          s.range(0, 10).select($"id".as("vec_id"))))
      },
      Some(embedIncrementOracleFor("(SELECT * FROM embeddings WHERE vec_id >= 10)"))),
  )

  /** dd_embed_cos .. dd_embed_decontaminate. */
  private[ops] lazy val embedQueries: Seq[QueryDef] = Seq(

    // Embedding-cosine near-dup, LSH-bounded end to end: candidates =
    // pairs colliding in any of 8 hyperplane bands (8 sign bits each —
    // Similarity.hyperplaneBandBuckets), verified at cosine >= 0.4
    // (this corpus has no planted vector dups; the threshold sits in
    // the observable tail). The band equi-join prunes ~2^8-fold per
    // band where the former label blocking was all-pairs within a
    // small fixed bucket set (O(N^2/L) — a scale-killer at 100x);
    // norms precomputed per row (one pass) so the verify join
    // multiplies, never re-normalizes. The LCG planes are exact
    // integer math in both engines, so the candidate set itself
    // replays in the oracle.
    QueryDef(
      "dd_embed_cos",
      (s, d) => {
        import s.implicits._
        // collapseExpandPairs over exact-vector groups: identical
        // embeddings share every band bucket and every cosine, so
        // verified rep pairs expand to member pairs with the rep
        // cosine (bitwise-identical doubles — identical inputs,
        // identical arithmetic). Within-group member pairs get the
        // rep's self-cosine (dot(v,v)/(norm*norm) — ~1.0 up to the
        // sqrt rounding both engines share), gated by the same
        // threshold. Candidate sets match the uncollapsed form exactly
        // (twins collide in ALL bands); a 20x-saturated set of 40k
        // vectors dropped 146s -> seconds with the quadratic left only
        // in the true output pairs.
        // the group key is a codegen'd BINARY fingerprint of the
        // vector, NOT the raw array<float>: keying on the float array
        // makes NormalizeFloatingNumbers wrap it in an interpreted
        // transform(...) that the window sort then evaluates per
        // comparison (FloatVectorBytes doc has the full autopsy);
        // bytes-equal <=> float-equal under grouping semantics, so the
        // groups — and the oracle, which partitions by embedding — are
        // unchanged
        collapseExpandPairs(embedAll(s, d), "vec_id", Seq($"vkey"))(
          embedRepPairs) { reps =>
          embedEligibleReps(reps)
            .select($"vec_id".as("__min"),
              (Similarity.dot($"v", $"v") / ($"norm" * $"norm")).as("cos"))
        }
      },
      Some(s"""WITH $embedOracleCtes,
              cross_pairs AS (
                SELECT least(ma.vec_id, mb.vec_id) AS id_a,
                       greatest(ma.vec_id, mb.vec_id) AS id_b, u.cos
                FROM upairs u
                JOIN g ma ON ma.mn = u.id_a
                JOIN g mb ON mb.mn = u.id_b),
              within_pairs AS (
                SELECT x.vec_id AS id_a, y.vec_id AS id_b, s.cos
                FROM g x JOIN g y ON x.mn = y.mn AND x.vec_id < y.vec_id
                JOIN selfcos s ON s.mn = x.mn)
              SELECT id_a, id_b, cos FROM cross_pairs
              UNION ALL
              SELECT id_a, id_b, cos FROM within_pairs
              ORDER BY id_a, id_b""")),

    // Embedding near-dup CLUSTERS: connected components over the
    // verified cosine pair graph — the canonicalization step an
    // image/embedding dedup pipeline runs after pairing, exactly as
    // dd_cluster does for text. Components run on exact-vector group
    // REPRESENTATIVES only (twins share every band bucket and every
    // cosine, so a member's component is its rep's component); members
    // of eligible groups inherit the rep's cluster, zero-norm vectors
    // (cosine undefined — never pair, not even with their twins) are
    // singletons. Reuses connectedMinLabels round-for-round; the
    // oracle replays banding + verify and closes the components with a
    // recursive CTE, mirroring dd_cluster's.
    QueryDef(
      "dd_embed_cluster",
      (s, d) => {
        import s.implicits._
        embedMembership(s, d).orderBy($"vec_id")
      },
      Some(s"""WITH RECURSIVE $embedOracleCtes,
              eg AS (SELECT id_a AS src, id_b AS dst FROM upairs
                     UNION ALL SELECT id_b, id_a FROM upairs),
              reach AS (
                SELECT mn AS id, mn AS label FROM selfcos
                UNION
                SELECT eg.dst, r.label FROM reach r JOIN eg ON eg.src = r.id),
              repl AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id)
              SELECT g.vec_id, r.cluster
              FROM g JOIN selfcos sc ON sc.mn = g.mn JOIN repl r ON r.id = g.mn
              UNION ALL
              SELECT g.vec_id, g.vec_id AS cluster
              FROM g LEFT JOIN selfcos sn ON sn.mn = g.mn WHERE sn.mn IS NULL
              ORDER BY vec_id""")),

    // Semantic dedup APPLIED (SemDeDup's keep-one-per-cluster): the
    // survivor set is one representative per embedding near-dup
    // cluster — the cluster id itself, which IS the component-minimum
    // member — with the member count it stands for. Deterministic,
    // partitioning-independent, and a pure GROUP BY over the
    // dd_embed_cluster membership, so the oracle wraps the shared
    // recursive-CTE replay in one aggregate.
    QueryDef(
      "dd_embed_apply",
      (s, d) => {
        import s.implicits._
        embedMembership(s, d)
          .groupBy($"cluster")
          .agg(count(lit(1)).as("n_members"))
          .select($"cluster".as("vec_id"), $"n_members")
          .orderBy($"vec_id")
      },
      Some(s"""WITH RECURSIVE $embedOracleCtes,
              eg AS (SELECT id_a AS src, id_b AS dst FROM upairs
                     UNION ALL SELECT id_b, id_a FROM upairs),
              reach AS (
                SELECT mn AS id, mn AS label FROM selfcos
                UNION
                SELECT eg.dst, r.label FROM reach r JOIN eg ON eg.src = r.id),
              repl AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id),
              mem AS (
                SELECT g.vec_id, r.cluster
                FROM g JOIN selfcos sc ON sc.mn = g.mn JOIN repl r ON r.id = g.mn
                UNION ALL
                SELECT g.vec_id, g.vec_id AS cluster
                FROM g LEFT JOIN selfcos sn ON sn.mn = g.mn WHERE sn.mn IS NULL)
              SELECT cluster AS vec_id, CAST(count(*) AS BIGINT) AS n_members
              FROM mem GROUP BY cluster ORDER BY vec_id""")),

    // Embedding-space decontamination: scrub the training split of
    // vectors whose cosine to ANY benchmark-split vector reaches 0.4
    // — the semantic complement of dd_decontaminate (same held-out 20%
    // md5 id split, pure id arithmetic, so the split replays in the
    // oracle) for leakage n-gram minhash cannot see: a paraphrased
    // benchmark document shares no 3-grams but lands on a nearby
    // embedding. Asymmetric: benchmark side broadcast (guarded),
    // hyperplane band candidates, exact cosine verify, training
    // anti-join — see [[embedDecontaminate]].
    QueryDef(
      "dd_embed_decontaminate",
      (s, d) => {
        import s.implicits._
        val bucket = conv(substring(md5($"vec_id".cast("string")), 1, 4), 16, 10)
          .cast("int") % 100
        val all = table(s, d, "embeddings")
          .select($"vec_id", $"label", $"embedding",
            Similarity.asDouble($"embedding").as("v"))
          .withColumn("norm", Similarity.l2norm($"v"))
          .withColumn("vkey",
            graft.functions.VectorExpressions.floatVectorBytes($"embedding"))
          .withColumn("__bucket", bucket)
        val training = all.filter($"__bucket" >= 20).drop("__bucket")
        val benchmark = all.filter($"__bucket" < 20).drop("__bucket")
        embedDecontaminate(training, benchmark, "vec_id", 0.4)
          .select($"vec_id", $"label")
          .orderBy($"vec_id")
      },
      Some {
        val split = """(SELECT vec_id, embedding, label,
                        CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS INT) % 100 AS bucket
                        FROM embeddings)"""
        s"""WITH tr AS (SELECT vec_id, embedding, label FROM $split WHERE bucket >= 20),
            bm AS (SELECT vec_id, embedding FROM $split WHERE bucket < 20),
            ${embedSideCtes("t_", "tr")},
            ${embedSideCtes("b_", "bm")},
            cand AS (
              SELECT DISTINCT a.vec_id AS tid, c.vec_id AS bid
              FROM t_b a JOIN b_b c ON len(list_intersect(a.bkts, c.bkts)) > 0),
            contam AS (
              SELECT DISTINCT cand.tid
              FROM cand
              JOIN t_e x ON x.vec_id = cand.tid
              JOIN b_e y ON y.vec_id = cand.bid
              WHERE x.nrm > 0 AND y.nrm > 0
                AND list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= 0.4)
            SELECT t.vec_id, t.label
            FROM tr t JOIN t_g g ON g.vec_id = t.vec_id
            WHERE g.mn NOT IN (SELECT tid FROM contam)
            ORDER BY t.vec_id"""
      }),

    // SemDeDup (see semDedupSurvivors): k-means-partitioned semantic
    // dedup — the candidate bound is the trained IVF coarse quantizer
    // (the SAME 4-round Lloyd build s_ann_ivf serves from, unrolled in
    // the oracle as CTEs), and within each cell the paper's
    // keep-lowest-index rule drops any vector with a lower-id
    // cell-mate at cosine >= 0.4. Complements dd_embed_apply, which
    // answers the same question with LSH-banded connected components:
    // the two variants bound the quadratic differently (learned cells
    // vs hyperplane bands) and the engine carries both.
    QueryDef(
      "dd_semdedup",
      (s, d) => {
        import s.implicits._
        semDedupSurvivors(table(s, d, "embeddings")).orderBy($"vec_id")
      },
      Some(semDedupOracle())),

    // Incremental SemDeDup (see semDedupIncrementSurvivors): the
    // family's standard day-2 batch (verbatim twins at +1M, the same
    // 30 vectors negated at +2M AND +3M) admitted against the frozen
    // clustered corpus. The +1M twins argmax the same frozen centroids
    // as their originals — same cell, cosine 1.0, all dominated; a
    // negated copy only falls to the corpus if its assigned cell holds
    // an anti-correlated member at <= -0.4, while the two negated
    // copies share a cell at cosine 1.0, so keep-first retains +2M and
    // drops +3M. The oracle replays training (cnn4), the batch argmax,
    // and both dominance joins verbatim.
    QueryDef(
      "dd_semdedup_increment",
      (s, d) => {
        import s.implicits._
        val base = table(s, d, "embeddings").select($"vec_id", $"embedding")
        val b0 = base.filter($"vec_id" < 30)
        val neg = transform($"embedding", x => -x).as("embedding")
        val batch = b0.select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
          .unionByName(b0.select(($"vec_id" + 2000000L).as("vec_id"), neg))
          .unionByName(b0.select(($"vec_id" + 3000000L).as("vec_id"), neg))
        semDedupIncrementSurvivors(base, batch).orderBy($"vec_id")
      },
      Some(semDedupIncrementOracle)),

    // Durable SemDeDup-index round-trip (see semDedupStoredSurvivors):
    // the same day-2 admission, but the trained centroid row and the
    // assigned corpus are WRITTEN to parquet and RELOADED first —
    // under dd_semdedup_increment's oracle verbatim (the round-trip is
    // value-exact; SemDedupSpec pins decision equality).
    QueryDef(
      "dd_semdedup_stored",
      (s, d) => {
        import s.implicits._
        val base = table(s, d, "embeddings").select($"vec_id", $"embedding")
        val b0 = base.filter($"vec_id" < 30)
        val neg = transform($"embedding", x => -x).as("embedding")
        val batch = b0.select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
          .unionByName(b0.select(($"vec_id" + 2000000L).as("vec_id"), neg))
          .unionByName(b0.select(($"vec_id" + 3000000L).as("vec_id"), neg))
        semDedupStoredSurvivors(base, batch).orderBy($"vec_id")
      },
      Some(semDedupIncrementOracle)),

    // SemDeDup-index takedown under the oracle (see
    // semDedupTakedownSurvivors): the stored assigned-corpus frame is
    // compacted by vec_ids < 10 before admission — the forgotten
    // originals stop dominating their verbatim +1M twins (those twins
    // now survive), while the quantizer stays frozen, so the replay
    // is the increment oracle with ONLY its corpus-side dominance CTE
    // filtered (training still runs on the full corpus).
    QueryDef(
      "dd_semdedup_takedown",
      (s, d) => {
        import s.implicits._
        val base = table(s, d, "embeddings").select($"vec_id", $"embedding")
        val b0 = base.filter($"vec_id" < 30)
        val neg = transform($"embedding", x => -x).as("embedding")
        val batch = b0.select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
          .unionByName(b0.select(($"vec_id" + 2000000L).as("vec_id"), neg))
          .unionByName(b0.select(($"vec_id" + 3000000L).as("vec_id"), neg))
        semDedupTakedownSurvivors(base, batch,
          s.range(0, 10).select($"id".as("vec_id"))).orderBy($"vec_id")
      },
      Some(semDedupIncrementOracleFor("WHERE e.vec_id >= 10"))),
  )

  /** DuckDB replay of [[semDedupSurvivors]] — shared verbatim by
    * dd_semdedup and the online w_semdedup (identical semantics:
    * arrival order == id order, and the online index retains every
    * arrival, so "dominated by any lower id in the cell" replays both
    * forms). `domExtra` appends a predicate to the dominance join —
    * the aged online form adds its monotone-event-time horizon there. */
  private[graft] def semDedupOracle(domExtra: String = ""): String =
    s"""WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS nrm
                FROM embeddings),
              ${Similarity.kmeansOracleCtes(Similarity.IvfNlist, Similarity.IvfIters)},
              s AS (
                SELECT e.vec_id, e.v, e.nrm, a.cell
                FROM e JOIN asn${Similarity.IvfIters} a ON a.vec_id = e.vec_id),
              p AS (SELECT * FROM s WHERE nrm > 0),
              dom AS (
                SELECT DISTINCT x.vec_id FROM p x JOIN p y
                  ON x.cell = y.cell AND y.vec_id < x.vec_id $domExtra
                WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= 0.4)
              SELECT vec_id, cell FROM s
              WHERE vec_id NOT IN (SELECT vec_id FROM dom)
              ORDER BY vec_id"""

  private lazy val semDedupIncrementOracle: String = semDedupIncrementOracleFor()

  /** The SemDeDup-increment replay, parameterized by a filter on the
    * CORPUS-side dominance CTE only — training (`e` -> cnn4/asn4)
    * always runs on the FULL corpus, which is exactly the takedown
    * semantics: forgetting removes a vector from the index without
    * retraining the quantizer it was recorded under. */
  private def semDedupIncrementOracleFor(sWhere: String = ""): String =
    s"""WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              ${Similarity.kmeansOracleCtes(Similarity.IvfNlist, Similarity.IvfIters)},
              s AS (
                SELECT e.vec_id, e.v,
                       sqrt(list_dot_product(e.v, e.v)) AS nrm, a.cell
                FROM e JOIN asn${Similarity.IvfIters} a ON a.vec_id = e.vec_id
                $sWhere),
              nb AS (
                SELECT vec_id + 1000000 AS vec_id, embedding
                FROM embeddings WHERE vec_id < 30
                UNION ALL
                SELECT vec_id + 2000000 AS vec_id,
                       [-x for x in embedding] AS embedding
                FROM embeddings WHERE vec_id < 30
                UNION ALL
                SELECT vec_id + 3000000 AS vec_id,
                       [-x for x in embedding] AS embedding
                FROM embeddings WHERE vec_id < 30),
              be AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS nrm
                FROM nb),
              bsc AS (
                SELECT b.vec_id, b.v, b.nrm, c.c_label,
                       row_number() OVER (PARTITION BY b.vec_id
                         ORDER BY list_dot_product(b.v, c.cv) / c.cn DESC,
                                  c.c_label ASC) AS rk
                FROM be b CROSS JOIN cnn${Similarity.IvfIters} c),
              basn AS (SELECT vec_id, v, nrm, c_label AS cell FROM bsc WHERE rk = 1),
              domc AS (
                SELECT DISTINCT b.vec_id FROM basn b JOIN s x ON x.cell = b.cell
                WHERE b.nrm > 0 AND x.nrm > 0
                  AND list_dot_product(b.v, x.v) / (b.nrm * x.nrm) >= 0.4),
              domb AS (
                SELECT DISTINCT b.vec_id FROM basn b JOIN basn y
                  ON y.cell = b.cell AND y.vec_id < b.vec_id
                WHERE b.nrm > 0 AND y.nrm > 0
                  AND list_dot_product(b.v, y.v) / (b.nrm * y.nrm) >= 0.4)
              SELECT vec_id, cell FROM basn
              WHERE vec_id NOT IN
                (SELECT vec_id FROM domc UNION SELECT vec_id FROM domb)
              ORDER BY vec_id"""
}
