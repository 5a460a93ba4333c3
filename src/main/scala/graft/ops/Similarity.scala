package graft.ops

import graft.QueryDef
import graft.model.Tables.table
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`ArrayType(FloatType)`):
  * brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane LSH-bucketed variant as the 100 TB scale path.
  *
  * Scale design: the query set is always the broadcast side, so the
  * corpus is streamed exactly once with no shuffle; norms are
  * precomputed per row (never inside the pair loop); top-k is a
  * per-query window over the (queries x bucket) candidate set, which
  * AQE keeps small. The LSH variant reduces scanned candidates by
  * ~2^bits while staying a plain equi-join — the same plan shape that
  * works with a 10^9-vector corpus bucketed on disk.
  */
object Similarity {

  /** Cast a float vector column to double for exact, reproducible math
    * (float -> double widening is value-exact). A native array Cast,
    * NOT `transform(v, _.cast)`: higher-order functions are
    * CodegenFallback, so the transform form knocked every stage that
    * touched the vector out of whole-stage codegen — and CollapseProject
    * re-inlined it into each consumer (64 plane dot products in the
    * banded-LSH path), re-evaluating the interpreted per-element
    * lambda per use. The Cast stays codegen'd and evaluates once. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Dot product: fused native expression (graft.functions.DotProduct,
    * codegen'd single loop), bit-identical to the left-to-right
    * `aggregate(zip_with(...))` fold it replaced — SimilaritySpec
    * asserts the equivalence. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotProduct(a, b)

  def l2norm(v: Column): Column = sqrt(dot(v, v))

  /** Random-hyperplane LSH bucket: sign pattern of the vector against
    * `planes` pseudo-random hyperplanes. Plane weights come from one
    * LCG step on the flat index plane * 2^20 + dim, centered to
    * [-0.5, 0.5) — integer arithmetic both engines compute exactly, so
    * the bucket ids replay in the DuckDB oracle (and, same property,
    * executors rebuild planes identically with zero driver state: at a
    * real 100 TB deployment the same expression computes bucket ids at
    * write time as a partition column and at query time). The 2^20
    * stride keeps plane weight streams disjoint up to 2^20 dims while
    * the LCG product (<= 1103515245 * 9 * 2^20) stays well inside a
    * signed 64-bit long. */
  def hyperplaneBucket(v: Column, planes: Int = 8): Column =
    aggregate(
      transform(sequence(lit(0), lit(planes - 1)), p =>
        when(
          aggregate(
            zip_with(v, sequence(lit(0), size(v) - 1),
              (x, i) => x *
                (((lit(1103515245L) * (p.cast("long") * lit(1048576L) + i.cast("long")) + lit(12345L))
                  % lit(2147483648L)).cast("double") / lit(2.147483648E9) - lit(0.5))),
            lit(0.0), (acc, x) => acc + x) >= lit(0.0),
          lit(1)).otherwise(lit(0))),
      lit(0), (acc, bit) => acc * lit(2) + bit)

  /** Banded random-hyperplane signatures for near-dup blocking: one
    * bucket per band, band b packing the sign bits of the r planes
    * [b*r, (b+1)*r) behind the band index (value = b * 2^r + bits, so
    * buckets from different bands can never collide). OR-ing bands
    * recovers the recall a single wide signature loses — the classic
    * LSH band construction, same shape as the minhash banding — while
    * each band still prunes ~2^r-fold. Same exact-integer LCG plane
    * family as [[hyperplaneBucket]] (global plane index b*r + q), so
    * the bucket ids — and any candidate set derived from them —
    * replay exactly in the DuckDB oracle. */
  def hyperplaneBandBuckets(v: Column, bands: Int = 8, r: Int = 8): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      aggregate(
        transform(sequence(lit(0), lit(r - 1)), q =>
          when(
            aggregate(
              zip_with(v, sequence(lit(0), size(v) - 1),
                (x, i) => x *
                  (((lit(1103515245L) * ((b.cast("long") * lit(r.toLong) + q.cast("long")) * lit(1048576L) + i.cast("long")) + lit(12345L))
                    % lit(2147483648L)).cast("double") / lit(2.147483648E9) - lit(0.5))),
              lit(0.0), (acc, x) => acc + x) >= lit(0.0),
            lit(1)).otherwise(lit(0))),
        b, (acc, bit) => acc * lit(2) + bit))

  /** [[hyperplaneBandBuckets]] for a KNOWN vector dimension: the same
    * exact-integer LCG plane family evaluated driver-side into literal
    * coefficient arrays, so each sign bit is one codegen'd
    * [[dot]] against a constant vector instead of an interpreted
    * zip_with/aggregate pair (higher-order functions are
    * CodegenFallback — bands*r interpreted plane evaluations per row
    * made the column form ~10x slower on wide fan-outs). Bit-identical
    * buckets: coefficient doubles (integer LCG, exact power-of-two
    * scaling) and left-to-right fold order are exactly the column
    * form's — SimilaritySpec asserts equality — so the DuckDB oracle
    * replays unchanged. */
  def hyperplaneBandBucketsFixed(
      v: Column, dim: Int, bands: Int = 8, r: Int = 8): Column =
    graft.functions.VectorExpressions.hyperplaneBandBuckets(v, dim, bands, r)

  /** [[hyperplaneBandBucketsFixed]] with an empty-safe dimension probe:
    * reads ONE row of `df` for the corpus dimension (LIMIT-1 scan; the
    * dimension is fixed per table). An empty table falls back to the
    * dim-agnostic column form — same buckets (SimilaritySpec asserts
    * the two forms equal), and on zero rows the expression never
    * evaluates, so construction cannot throw. A non-empty table with a
    * row whose vector length differs from the probed dim fails LOUDLY:
    * the fused form would emit a null bucket array and the row would
    * silently drop out of candidate generation. */
  def bandBucketsProbed(df: DataFrame, v: Column, bands: Int = 8, r: Int = 8): Column =
    probedDim(df, v) match {
      case None => hyperplaneBandBuckets(v, bands, r)
      case Some(dim) =>
        when(v.isNull, lit(null))
          .when(size(v) =!= dim, raise_error(concat(
            lit(s"embedding dimension mismatch: expected $dim, got "),
            size(v).cast("string"))))
          .otherwise(hyperplaneBandBucketsFixed(v, dim, bands, r))
    }

  /** Probe-job cache: query CONSTRUCTION firing a Spark job is a
    * surprise to a caller composing plans offline, and repeated builds
    * over the same table (dd_embed_cos + s_ann_lsh in one Verify run)
    * would re-probe a dimension that cannot have changed. Keyed by the
    * canonicalized plan of the probe itself (so both the input relation
    * AND the probed column participate); bounded by the number of
    * distinct (table, column) pairs a session touches. A table whose
    * dimension changes IN PLACE mid-process would serve a stale dim —
    * and the per-row raise_error mismatch guard turns that into a loud
    * failure, never silent candidate loss. */
  private val probedDims =
    new java.util.concurrent.ConcurrentHashMap[LogicalPlan, Option[Int]]()

  private def probedDim(df: DataFrame, v: Column): Option[Int] = {
    val probe = df.select(size(v)).limit(1)
    probedDims.computeIfAbsent(
      probe.queryExecution.analyzed.canonicalized,
      _ => probe.collect().headOption.map(_.getInt(0)))
  }

  /** Exact top-k cosine neighbors of each query vector. Both inputs
    * must carry (id, vec); query side is broadcast. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("query_id"), asDouble(col("vec")).as("qv"))
      .withColumn("qn", l2norm(col("qv")))
    val c = corpus.select(col("id").as("neighbor_id"), asDouble(col("vec")).as("cv"))
      .withColumn("cn", l2norm(col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF cell count and Lloyd iteration count — FIXED constants, part
    * of the oracle contract (the DuckDB replay unrolls exactly
    * [[IvfIters]] assignment rounds). 4 iterations measured best on
    * the fixture corpora (recall@5 at nprobe=1/2/4: 0.18/0.40/0.63 at
    * sf0.001 vs 0.14/0.28/0.48 for the untrained label cells —
    * SimilaritySpec holds the trained >= untrained inequality). */
  val IvfNlist = 10
  val IvfIters = 4

  /** Deterministic Lloyd's k-means over (vec_id, v): returns the
    * trained cell assignment (vec_id, cell) — the coarse quantizer an
    * IVF index is built on. Every step is portable arithmetic so the
    * DuckDB oracle replays training EXACTLY, not just the result
    * shape:
    *
    *  - init: portable-hash partition, `md5Hash60(vec_id) % nlist` —
    *    the random-partition init of the k-means literature with the
    *    engine's cross-engine hash as the randomness;
    *  - centroid step: elementwise QUANTIZED mean
    *    (`sum(floor(x*1e6) as long) / (n*1e6)` — the cross-row sum is
    *    exact-integer and order-insensitive, so partitioning cannot
    *    change it; the one division is deterministic double math);
    *    degenerate all-zero centroids are dropped (`cn > 0`);
    *  - assignment step: argmax of `dot(v, cv) / cn` (same argmax as
    *    cosine for each fixed vector — the vector's own norm is a
    *    positive constant across cells — and, unlike cosine, defined
    *    for zero vectors: all scores 0, the tie-break assigns cell
    *    min); ties break by cell ascending via row_number, exactly as
    *    the probe stage breaks centroid ties;
    *  - FIXED iteration count, not convergence detection: a
    *    convergence test is a driver-side scalar per round, and at
    *    100 TB each round is a full corpus pass — a fixed small count
    *    is both the replayable and the scalable choice.
    *
    * Scale shape per round: one (cell, pos)-keyed aggregate with
    * map-side combine (centroids: nlist x dim rows) + one broadcast
    * of the 1-row centroid array against the corpus with the argmax
    * folded IN-ROW (see the loop comment) — per round the ONLY
    * shuffle is the centroid aggregate, and nothing is pairwise.
    * Training is an index-BUILD cost: a deployment materializes the
    * assignment once and serves from it; the serving queries run it
    * once per build behind a [[Checkpoints]] lease so the oracle can
    * see the whole pipeline without the plan re-instantiating it. */
  /** Quantized-mean vectors per key group — the exact-integer centroid
    * kernel of every trained-index build — as ONE native aggregate
    * ([[graft.functions.QuantVecSumAgg]]): per group it accumulates
    * `sum(floor(x_i * 1e6) as long)` and a per-position row count
    * in-row, then divides once. Value-identical to the
    * posexplode + (key, pos) aggregate + sorted reassembly it
    * replaces — same order-insensitive exact-integer sums, same single
    * deterministic double division, and positions are contiguous per
    * row so the reassembled arrays coincide even on ragged groups
    * (VecSumAggSpec pins bit-equality against the explode form on the
    * real corpus and on ragged/null synthetics) — so every oracle
    * replays unchanged. Cost: ~dim-fold fewer aggregate input rows
    * (no 64x row fan-out through the hash aggregate) and ONE shuffle
    * per centroid stage instead of two; at 100 TB each Lloyd round
    * becomes a single map-side-combined pass over the corpus.
    * Returns `keys :+ cv`. */
  private[graft] def quantMeanCv(
      df: DataFrame, keys: Seq[String], v: String = "v"): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(graft.functions.QuantVecSumAgg.quantVecSum(col(v)).as("__qs"))
      .select(keys.map(col) :+
        zip_with(col("__qs").getField("sums"), col("__qs").getField("counts"),
          (s, c) => s.cast("double") / (c.cast("double") * lit(1e6))).as("cv"): _*)

  /** Appends the nearest-centroid `cell` of each row's `v` against a
    * broadcast single-row centroid frame (`cents` = one row holding
    * the cell-ascending array of (c_label, cv, cn) structs): the
    * in-row strictly-greater fold over ≤ nlist candidates — one map
    * pass, no shuffle. Value-identical to row_number over
    * (score DESC, cell ASC): the fold keeps a candidate only on a
    * STRICTLY greater score, so among tied maxima the first
    * (= lowest cell, by the sort) wins. An EMPTY centroid row (the
    * all-zero degenerate corpus) yields an empty frame, mirroring the
    * window form's crossJoin against zero centroid rows. */
  private[graft] def withNearestCell(df: DataFrame, cents: DataFrame): DataFrame =
    df.crossJoin(broadcast(cents))
      .filter(size(col("cents")) > 0)
      .withColumn("cell",
        aggregate(col("cents"),
          struct(lit(Long.MaxValue).as("cell"),
            lit(Double.NegativeInfinity).as("best")),
          (acc, c) => {
            val score = dot(col("v"), c.getField("cv")) / c.getField("cn")
            when(score > acc.getField("best"),
              struct(c.getField("c_label").as("cell"), score.as("best")))
              .otherwise(acc)
          }).getField("cell"))
      .drop("cents")

  /** The trained quantizer ITSELF: the round-`iters` centroid row the
    * final assignment is the argmax of — what an incremental consumer
    * must freeze so that a later batch assigns into exactly the cells
    * the corpus was recorded under (a verbatim twin provably lands in
    * its original's cell because both argmax the SAME centroids).
    * [[kmeansCells]] is withNearestCell over this, so the restructure
    * is value-identical to the historical in-loop-assignment form:
    * round r's centroids come from round r-1's assignment, and the
    * returned assignment is the argmax of round `iters`' centroids —
    * the same recurrence, same plan depth. */
  private[graft] def kmeansCents(
      emb: DataFrame, nlist: Int = IvfNlist, iters: Int = IvfIters): DataFrame = {
    // The assignment CARRIES the vector: withNearestCell keeps every
    // emb column, so each round's centroid aggregate reads (cell, v)
    // straight off the assignment map. The historical form projected
    // the assignment to (vec_id, cell) and re-joined emb on vec_id to
    // reattach `v` — at 100 TB a full shuffle of the vector corpus on
    // BOTH join sides, once per round (guide §2.4: two operations
    // keyed the same way should not pay a reattachment join when the
    // first already holds the columns). Value-identical: the join was
    // 1:1 on the unique vec_id, so quantMeanCv sees exactly the same
    // (cell, v) rows; per round the ONLY shuffle left is the
    // nlist-row centroid aggregate itself.
    var assigned = emb.withColumn("cell",
      pmod(graft.functions.PortableHash.md5Hash60(col("vec_id").cast("string")),
        lit(nlist.toLong)))
    var cents: DataFrame = null
    for (r <- 1 to iters) {
      // centroids rolled into ONE row (nlist entries, cell-ascending —
      // array_sort on struct(c_label, …) orders by the leading field),
      // broadcast against the corpus so the argmax runs IN-ROW (see
      // withNearestCell) — per round that is one shuffle (the
      // quantMeanCv aggregate) and a pure map over the corpus.
      cents = quantMeanCv(assigned, Seq("cell"))
        .select(col("cell").as("c_label"), col("cv"))
        .withColumn("cn", l2norm(col("cv")))
        .filter(col("cn") > 0)
        .groupBy().agg(array_sort(collect_list(
          struct(col("c_label"), col("cv"), col("cn")))).as("cents"))
      if (r < iters)
        assigned = withNearestCell(emb, cents)
    }
    cents
  }

  private[graft] def kmeansCells(
      emb: DataFrame, nlist: Int = IvfNlist, iters: Int = IvfIters): DataFrame =
    kmeansAssigned(emb, nlist, iters).select(col("vec_id"), col("cell"))

  /** The corpus WITH its trained cell — every `emb` column plus
    * `cell` — the frame the IVF-family index builds lease. The
    * assignment is the broadcast in-row argmax against the trained
    * centroid row, NEVER a corpus-wide vec_id join: callers
    * historically wrote `emb.join(kmeansCells(emb'), "vec_id")`,
    * which re-shuffled the whole vector corpus just to reattach the
    * columns the assignment map already had in hand (guide §2.4).
    * Value-identical — the join was 1:1 on the unique vec_id and the
    * argmax is a deterministic function of (v, cents) — with one
    * fewer corpus-wide shuffle per consumer. */
  private[graft] def kmeansAssigned(
      emb: DataFrame, nlist: Int = IvfNlist, iters: Int = IvfIters): DataFrame =
    withNearestCell(emb, kmeansCents(emb, nlist, iters))

  /** The trained coarse-quantizer assignment for the `embeddings`
    * table at `d` — what the IVF queries index on (exposed for specs:
    * cell-membership checks and the trained-vs-untrained recall
    * comparison). */
  private[ops] def trainedCells(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    kmeansCells(table(s, d, "embeddings")
      .select($"vec_id", asDouble($"embedding").as("v")))
  }

  /** IVF ANN, parameterized by probe width: coarse-quantize the corpus
    * into TRAINED cells ([[kmeansCells]] — quantized-mean centroids;
    * the s_ann_ivf QueryDef notes say why the mean runs over exact
    * integers), rank cells per query by centroid cosine, search the
    * UNION of the `nprobe` nearest cells, return top-`k` per query.
    *
    * nprobe is the standard IVF recall knob: a query near a cell
    * boundary has true neighbors in the runner-up cells, and probing
    * only the winner misses them (SimilaritySpec measures recall@5
    * against [[bruteForceTopK]] improving as nprobe grows). Cells are
    * disjoint (a vector has exactly one label) and the probed cells
    * are distinct per query, so the union join introduces no duplicate
    * candidates; cost scales as nprobe/nlist of the corpus per query —
    * the same knob a 100 TB deployment exposes, where cells are the
    * partition layout and nprobe bounds partitions touched. */
  /** Shared IVF front half: the embedding table with norms + int8
    * codes, and the per-query probed-cell set (query columns carried
    * through, `nprobe` nearest centroids by cosine). Both IVF variants
    * consume this; unused columns (codes for the float-scored variant,
    * floats for the ADC scan) are pruned by Catalyst, so each caller
    * pays only for what it reads. */
  private def ivfProbed(
      s: SparkSession, d: String, nprobe: Int): (DataFrame, DataFrame) =
    // the trained default rides the broadcast-map assignment
    // ([[kmeansAssigned]]) — no corpus-wide vec_id reattachment join
    ivfProbedAssigned(s, d, nprobe, embBase => kmeansAssigned(embBase))

  /** [[ivfProbed]] with a pluggable cell assignment (specs swap in the
    * untrained label cells to measure what training buys) — the
    * pluggable form keeps the historical (vec_id, cell) contract and
    * pays the reattachment join; the trained default path does not. */
  private[ops] def ivfProbedWith(
      s: SparkSession, d: String, nprobe: Int,
      assignCells: DataFrame => DataFrame): (DataFrame, DataFrame) =
    ivfProbedAssigned(s, d, nprobe, embBase => embBase.join(
      assignCells(embBase.select(col("vec_id"), col("v"), col("label"))),
      Seq("vec_id")))

  private def ivfProbedAssigned(
      s: SparkSession, d: String, nprobe: Int,
      assigned: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    import s.implicits._
    val embBase = table(s, d, "embeddings")
      .select($"vec_id", $"label", asDouble($"embedding").as("v"))
      .withColumn("nrm", l2norm($"v"))
      // fused codegen quantization — the declarative HOF chain ran
      // interpreted in the one stage that touches every corpus row
      // (SimilaritySpec asserts bit-equality of the two forms)
      .withColumn("codes", graft.functions.VectorExpressions.int8QuantCodes($"v"))
      .withColumn("cc", dot($"codes", $"codes"))
    // INDEX BUILD, materialized ONCE: the assignment-joined corpus is
    // localCheckpointed before any serving stage references it. The
    // serving plan references `emb` 3-4 times (centroids, query
    // projection, cell scan, re-rank fetches); without the checkpoint
    // each reference re-instantiates the whole iterative k-means
    // subtree — measured ~12 corpus-wide training passes and 21
    // nested-loop joins in one s_ann_ivf_adc plan (round-8 regression;
    // PlanSpec now gates it at 1). This is also the honest deployment
    // shape the kmeansCells scaladoc promises: train/assign once,
    // serve from the materialized index. Blocks are leased per query
    // build and released at the next IVF build on the same context
    // (see [[Checkpoints]] — Bench's 4 runs per query hold a constant
    // block count).
    val emb = Checkpoints.lease("ivf", assigned(embBase))
    // centroid per trained cell: element-wise quantized mean (the same
    // exact-integer kernel the training rounds use — see quantMeanCv)
    val centroids = quantMeanCv(emb, Seq("cell"))
      .select($"cell".as("c_label"), $"cv")
      .withColumn("cn", l2norm($"cv"))
    // probe: each query joins every centroid (nlist rows -> broadcast),
    // keeps its nprobe nearest cells
    val queriesDf = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"),
        $"codes".as("qc"), $"cc".as("qcc"))
    val wProbe = Window.partitionBy($"query_id")
      .orderBy($"c_cos".desc, $"c_label".asc)
    val probed = queriesDf.crossJoin(broadcast(centroids))
      .withColumn("c_cos", dot($"qv", $"cv") / ($"qn" * $"cn"))
      .withColumn("rk", row_number().over(wProbe))
      .filter($"rk" <= nprobe)
      .select($"query_id", $"qv", $"qn", $"qc", $"qcc", $"c_label".as("cell"))
    (emb, probed)
  }

  def ivfTopK(s: SparkSession, d: String, nprobe: Int, k: Int,
      assignCells: DataFrame => DataFrame = cells => kmeansCells(cells)): DataFrame = {
    import s.implicits._
    val (emb, probed) = ivfProbedWith(s, d, nprobe, assignCells)
    // search the union of the probed cells (disjoint -> no dup candidates)
    val wTop = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id".asc)
    broadcast(probed.select($"query_id", $"qv", $"qn", $"cell"))
      .join(emb.select($"cell", $"vec_id".as("neighbor_id"),
        $"v".as("cv2"), $"nrm".as("cn2")), Seq("cell"))
      .filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"cell", $"neighbor_id",
        (dot($"qv", $"cv2") / ($"qn" * $"cn2")).as("cos"))
      .withColumn("rank", row_number().over(wTop))
      .filter($"rank" <= k)
      .orderBy($"query_id", $"rank")
  }

  /** IVF + ADC: the full serving shape of a scalar-quantized inverted
    * index (cells bound partitions touched, codes bound bytes read,
    * exact math only on the tiny re-rank set). Probe `nprobe` cells
    * per query as [[ivfTopK]], score the probed cells' members from
    * int8 codes only ([[adcTopK]]'s bit-portable integer cosine),
    * keep the top-`m` per query, re-rank those with the exact float
    * cosine fetched by id equi-join, return the top-`k`.
    *
    * At 100 TB this plan reads: centroids (tiny, broadcast), the
    * (id, codes) projection of nprobe/nlist of the corpus, and the
    * float vectors of m rows per query — never the full float corpus.
    * Zero vectors are gated out of both sides via `nrm/qn > 0` — the
    * same row set as cc > 0, chosen for the pushdown reason
    * [[adcTopK]] documents (a cc gate inlines the interpreted
    * quantization tree into every scan filter). */
  def ivfAdcTopK(
      s: SparkSession, d: String, nprobe: Int, m: Int, k: Int): DataFrame = {
    import s.implicits._
    val (emb, probed) = ivfProbed(s, d, nprobe)
    val wAdc = Window.partitionBy($"query_id")
      .orderBy($"cos_adc".desc, $"neighbor_id".asc)
    val cand = broadcast(
        probed.filter($"qn" > 0).select($"query_id", $"qc", $"qcc", $"cell"))
      .join(emb.filter($"nrm" > 0)
        .select($"cell", $"vec_id".as("neighbor_id"),
          $"codes".as("nc"), $"cc".as("ncc")), Seq("cell"))
      .filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"cell", $"neighbor_id",
        (dot($"qc", $"nc") / sqrt($"qcc" * $"ncc")).as("cos_adc"))
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter($"adc_rank" <= m)
    val wTop = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id".asc)
    broadcast(cand)
      .join(emb.select($"vec_id".as("neighbor_id"), $"v".as("cv"), $"nrm".as("cn")),
        Seq("neighbor_id"))
      // query floats come straight from the table projection — going
      // through `probed` would re-instantiate the whole centroid-probe
      // subtree a second time in the plan
      .join(broadcast(emb.filter($"vec_id" < 20)
        .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))),
        Seq("query_id"))
      .select($"query_id", $"cell", $"neighbor_id", $"cos_adc", $"adc_rank",
        (dot($"qv", $"cv") / ($"qn" * $"cn")).as("cos"))
      .withColumn("rank", row_number().over(wTop))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", $"cell",
        $"cos", $"cos_adc", $"adc_rank")
      .orderBy($"query_id", $"rank")
  }

  /** DuckDB CTE chain replaying [[kmeansCells]] over a CTE `e` that
    * carries (vec_id, v DOUBLE[]): defines `asn$iters` (vec_id, cell),
    * the trained assignment both IVF oracles join the corpus on.
    * Every step mirrors the Spark side exactly — md5Hash60-mod init,
    * exact-integer quantized centroid means, `cn > 0` drop of
    * degenerate centroids, argmax with the (score DESC, cell ASC)
    * row_number tie-break — so the replay is value-identical, not
    * merely shape-identical. */
  private[ops] def kmeansOracleCtes(nlist: Int, iters: Int): String = {
    val init =
      s"""asn0 AS (
                SELECT vec_id,
                       ${graft.functions.PortableHash.duckdbHash60("CAST(vec_id AS VARCHAR)")}
                         % $nlist AS cell
                FROM e)"""
    val rounds = (1 to iters).map { r =>
      s"""px$r AS (
                SELECT a.cell, unnest(e.v) AS x, generate_subscripts(e.v, 1) AS pos
                FROM e JOIN asn${r - 1} a ON a.vec_id = e.vec_id),
              cg$r AS (
                SELECT cell, pos,
                       CAST(sum(CAST(floor(x * 1000000) AS BIGINT)) AS DOUBLE)
                         / (count(*) * 1000000.0) AS cx
                FROM px$r GROUP BY cell, pos),
              ct$r AS (
                SELECT cell AS c_label, list(cx ORDER BY pos) AS cv
                FROM cg$r GROUP BY cell),
              cnn$r AS (
                SELECT c_label, cv, sqrt(list_dot_product(cv, cv)) AS cn
                FROM ct$r WHERE sqrt(list_dot_product(cv, cv)) > 0),
              sc$r AS (
                SELECT e.vec_id, c.c_label,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_dot_product(e.v, c.cv) / c.cn DESC,
                                  c.c_label ASC) AS rk
                FROM e CROSS JOIN cnn$r c),
              asn$r AS (SELECT vec_id, c_label AS cell FROM sc$r WHERE rk = 1)"""
    }
    (init +: rounds).mkString(",\n              ")
  }

  /** The serving-side centroid CTEs both IVF oracles share: recompute
    * the quantized-mean centroid of each TRAINED cell from the final
    * assignment `asn$iters` (mirrors [[ivfProbedWith]]'s centroid
    * stage, which — unlike the training rounds — does NOT drop
    * zero-norm centroids). Defines `fcn` (c_label, cv, cn). */
  private[ops] def ivfCentroidCtes(iters: Int): String =
    s"""fpx AS (
                SELECT a.cell, unnest(e.v) AS x, generate_subscripts(e.v, 1) AS pos
                FROM e JOIN asn$iters a ON a.vec_id = e.vec_id),
              fcg AS (
                SELECT cell, pos,
                       CAST(sum(CAST(floor(x * 1000000) AS BIGINT)) AS DOUBLE)
                         / (count(*) * 1000000.0) AS cx
                FROM fpx GROUP BY cell, pos),
              fct AS (
                SELECT cell AS c_label, list(cx ORDER BY pos) AS cv
                FROM fcg GROUP BY cell),
              fcn AS (
                SELECT c_label, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM fct)"""

  /** DuckDB replay of [[ivfTopK]] at the same (nprobe, k): k-means
    * training unrolled as [[IvfIters]] CTE rounds, then the identical
    * probe + cell-bounded search. */
  private def ivfOracle(nprobe: Int, k: Int): String =
    s"""WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS nrm
                FROM embeddings),
              ${kmeansOracleCtes(IvfNlist, IvfIters)},
              ${ivfCentroidCtes(IvfIters)},
              q AS (
                SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id < 20),
              probe AS (
                SELECT query_id, qv, qn, c_label AS cell,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY list_dot_product(qv, cv) / (qn * cn) DESC, c_label ASC) AS rk
                FROM q CROSS JOIN fcn),
              p1 AS (SELECT query_id, qv, qn, cell FROM probe WHERE rk <= $nprobe),
              ec AS (
                SELECT e.vec_id, a.cell, e.v, e.nrm
                FROM e JOIN asn$IvfIters a ON a.vec_id = e.vec_id),
              sr AS (
                SELECT p.query_id, p.cell, c.vec_id AS neighbor_id,
                       list_dot_product(p.qv, c.v) / (p.qn * c.nrm) AS cos
                FROM p1 p JOIN ec c ON c.cell = p.cell AND p.query_id <> c.vec_id),
              rk AS (
                SELECT query_id, cell, neighbor_id, cos,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id ASC) AS rank
                FROM sr)
              SELECT query_id, cell, neighbor_id, cos, rank
              FROM rk WHERE rank <= $k ORDER BY query_id, rank"""

  /** DuckDB replay of [[ivfAdcTopK]] at the same (nprobe, m, k):
    * trained cells ([[kmeansOracleCtes]]) + int8-code ADC scan of the
    * probed cells + exact re-rank. */
  private def ivfAdcOracle(nprobe: Int, m: Int, k: Int): String =
    s"""WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS nrm
                FROM embeddings),
              en AS (
                SELECT vec_id, v, nrm, list_max([abs(x) for x in v]) AS maxabs
                FROM e),
              ec AS (
                SELECT vec_id, v, nrm, codes,
                       list_dot_product(codes, codes) AS cc
                FROM (SELECT vec_id, v, nrm,
                             [floor(x * (CASE WHEN maxabs > 0 THEN 127.0 / maxabs ELSE 0.0 END) + 0.5)
                              for x in v] AS codes
                      FROM en)),
              ${kmeansOracleCtes(IvfNlist, IvfIters)},
              ${ivfCentroidCtes(IvfIters)},
              q AS (
                SELECT vec_id AS query_id, v AS qv, nrm AS qn, codes AS qc, cc AS qcc
                FROM ec WHERE vec_id < 20 AND cc > 0),
              probe AS (
                SELECT query_id, qv, qn, qc, qcc, c_label AS cell,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY list_dot_product(qv, cv) / (qn * cn) DESC, c_label ASC) AS rk
                FROM q CROSS JOIN fcn),
              p1 AS (SELECT * FROM probe WHERE rk <= $nprobe),
              corp AS (
                SELECT c.vec_id, a.cell, c.v, c.nrm, c.codes, c.cc
                FROM ec c JOIN asn$IvfIters a ON a.vec_id = c.vec_id
                WHERE c.cc > 0),
              adc AS (
                SELECT p.query_id, p.cell, c.vec_id AS neighbor_id,
                       list_dot_product(p.qc, c.codes) / sqrt(p.qcc * c.cc) AS cos_adc,
                       list_dot_product(p.qv, c.v) / (p.qn * c.nrm) AS cos
                FROM p1 p JOIN corp c
                  ON c.cell = p.cell AND p.query_id <> c.vec_id),
              r1 AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos_adc DESC, neighbor_id ASC) AS adc_rank
                FROM adc),
              cand AS (SELECT * FROM r1 WHERE adc_rank <= $m),
              r2 AS (
                SELECT query_id, cell, neighbor_id, cos, cos_adc, adc_rank,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id ASC) AS rank
                FROM cand)
              SELECT query_id, rank, neighbor_id, cell, cos, cos_adc, adc_rank
              FROM r2 WHERE rank <= $k ORDER BY query_id, rank"""

  /** Symmetric int8 quantization of an embedding column — the
    * compression step a 10^9-vector ANN corpus runs before indexing
    * (4x smaller than float32, SIMD-friendly codes; the scalar-quant
    * half of an IVF-PQ layout). Per vector: `scale = 127 / max|x|`
    * (zero vectors quantize to all-zero codes with scale 0), code_i =
    * `floor(x_i * scale + 0.5)` — floor of an exact double, not a
    * round(), because round's half-even/half-up convention differs
    * across engines while floor is bit-defined — and the max absolute
    * reconstruction error `max|code/scale - x|` is reported per row.
    * Every step is exactly-rounded double math over the value-exact
    * float->double widening, so codes AND error replay bit-identically
    * in DuckDB.
    *
    * Scale shape: pure per-row column algebra — no shuffle, no state;
    * the corpus streams once. The lambdas are higher-order functions
    * (CodegenFallback), acceptable here because each binds to a real
    * column evaluated ONCE per row (multi-referenced aliases block
    * CollapseProject from re-inlining them into consumers) — unlike
    * the banded-LSH hot path, there is no per-plane fan-out to
    * amortize, so a fused expression would buy little. */
  def quantizeInt8(df: DataFrame, id: Column, vec: Column): DataFrame = {
    val out = df
      .withColumn("__xd", asDouble(vec))
      .withColumn("__maxabs", array_max(transform(col("__xd"), x => abs(x))))
      .withColumn("scale",
        when(col("__maxabs") > 0, lit(127.0) / col("__maxabs")).otherwise(lit(0.0)))
      .withColumn("__codes",
        transform(col("__xd"), x => floor(x * col("scale") + lit(0.5)).cast("int")))
      .withColumn("max_err",
        when(col("__maxabs") > 0,
          array_max(transform(col("__xd"), x =>
            abs(floor(x * col("scale") + lit(0.5)).cast("double") / col("scale") - x))))
          .otherwise(lit(0.0)))
    out.select(
      id.as("vec_id"),
      size(col("__codes")).as("dim"),
      col("scale"),
      size(filter(col("__codes"), c => c =!= 0)).cast("long").as("n_nonzero"),
      array_join(transform(col("__codes"), _.cast("string")), ",").as("codes_str"),
      col("max_err"))
  }

  /** Two-phase ANN over int8-quantized codes (the serving pattern of an
    * IVF-PQ / scalar-quantized index): an ADC-style first pass scores
    * every corpus vector against each query using ONLY the integer
    * codes — approximate cosine = dot(qc, cc) / sqrt(Σqc² * Σcc²),
    * where every term is an exact small integer (codes in [-127,127],
    * dot ≤ 127²·dim ≪ 2^53), so the approximate score is a composition
    * of exactly-rounded double ops and replays bit-identically in the
    * oracle. The `scale` factors cancel out of the cosine, so the code
    * dot needs no dequantization at all. The top-`m` candidates per
    * query are then RE-RANKED with the exact float cosine fetched by
    * an id join, and the top-`k` of that re-ranked set is returned
    * with both scores and both ranks.
    *
    * Scale shape: the first pass streams the corpus reading only the
    * (id, codes) projection — 4x smaller than float32, which is the
    * whole point at 10^9 vectors — with the query side broadcast; the
    * exact re-rank touches float vectors for only m rows per query
    * (the candidate set is broadcast back against the corpus as a
    * second id equi-join, never a second full scan of pair space).
    * Zero vectors quantize to all-zero codes and are excluded from
    * BOTH sides (cos undefined), mirroring the norm > 0 gates of the
    * embedding dedup family. The gate is written `nrm > 0` — the SAME
    * row set as cc > 0 (any nonzero component makes the norm and the
    * max |code| both nonzero) — because a filter on a derived column
    * is pushed into the parquet scan with the alias SUBSTITUTED:
    * gating on cc inlined the whole interpreted transform-quantization
    * tree into every scan's filter (evaluated twice per row inside
    * its dot product, on every scan of the table — measured ~6x the
    * whole query), while nrm inlines as one fused codegen DotProduct
    * pass. The oracle keeps the equivalent `cc > 0` spelling. */
  def adcTopK(s: SparkSession, d: String, m: Int, k: Int): DataFrame = {
    import s.implicits._
    val emb = table(s, d, "embeddings")
      .select($"vec_id", asDouble($"embedding").as("v"))
      .withColumn("nrm", l2norm($"v"))
      // fused codegen quantization (int-valued doubles, so the same
      // fused DotProduct the float path uses consumes the codes and
      // the code dot stays exact); the declarative HOF chain this
      // replaces ran interpreted in the stage that touches every
      // corpus row — SimilaritySpec asserts the two forms bit-equal
      .withColumn("codes", graft.functions.VectorExpressions.int8QuantCodes($"v"))
      .withColumn("cc", dot($"codes", $"codes"))
      .filter($"nrm" > 0)
    val q = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"),
        $"codes".as("qc"), $"cc".as("qcc"))
    val wAdc = Window.partitionBy($"query_id")
      .orderBy($"cos_adc".desc, $"neighbor_id".asc)
    val cand = broadcast(q.select($"query_id", $"qc", $"qcc"))
      .crossJoin(emb.select($"vec_id".as("neighbor_id"),
        $"codes".as("nc"), $"cc".as("ncc")))
      .filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id",
        (dot($"qc", $"nc") / sqrt($"qcc" * $"ncc")).as("cos_adc"))
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter($"adc_rank" <= m)
    val wTop = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id".asc)
    broadcast(cand)
      .join(emb.select($"vec_id".as("neighbor_id"), $"v".as("cv"), $"nrm".as("cn")),
        Seq("neighbor_id"))
      .join(broadcast(q.select($"query_id", $"qv", $"qn")), Seq("query_id"))
      .select($"query_id", $"neighbor_id", $"cos_adc", $"adc_rank",
        (dot($"qv", $"cv") / ($"qn" * $"cn")).as("cos"))
      .withColumn("rank", row_number().over(wTop))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", $"cos", $"cos_adc", $"adc_rank")
      .orderBy($"query_id", $"rank")
  }

  /** DuckDB replay of [[adcTopK]] at the same (m, k). */
  private def adcOracle(m: Int, k: Int): String =
    s"""WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              q8 AS (
                SELECT vec_id, v, list_max([abs(x) for x in v]) AS maxabs,
                       sqrt(list_dot_product(v, v)) AS nrm
                FROM e),
              c8 AS (
                SELECT vec_id, v, nrm,
                       [floor(x * (CASE WHEN maxabs > 0 THEN 127.0 / maxabs ELSE 0.0 END) + 0.5)
                        for x in v] AS codes
                FROM q8),
              cn AS (
                SELECT vec_id, v, nrm, codes, list_dot_product(codes, codes) AS cc
                FROM c8 WHERE list_dot_product(codes, codes) > 0),
              pairs AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       list_dot_product(q.codes, c.codes) / sqrt(q.cc * c.cc) AS cos_adc,
                       list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
                FROM cn q JOIN cn c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
              r1 AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos_adc DESC, neighbor_id ASC) AS adc_rank
                FROM pairs),
              cand AS (SELECT * FROM r1 WHERE adc_rank <= $m),
              r2 AS (
                SELECT query_id, neighbor_id, cos_adc, cos, adc_rank,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id ASC) AS rank
                FROM cand)
              SELECT query_id, rank, neighbor_id, cos, cos_adc, adc_rank
              FROM r2 WHERE rank <= $k ORDER BY query_id, rank"""

  /** Deterministic random-projection coordinates (Johnson-
    * Lindenstrauss style dimensionality reduction): `k` dot products
    * of `v` against the engine's exact-integer LCG plane family at
    * stream offset 4096 (disjoint from every bucketing plane stream —
    * global plane indices there stay < 64). Projection is the STORAGE
    * path of the similarity family: project once at ingest and every
    * downstream distance pass touches k doubles instead of dim — at
    * 100 TB, a dim/k shrink of both the vector table and the
    * brute-force/IVF scan cost, traded against recall the
    * oracle-checked query measures honestly. Same replay property as
    * the bucketing planes: coefficients are exact integer arithmetic,
    * dots are the shared [[dot]]/list_dot_product pairing, so the
    * projected vectors — and any ranking over them — are
    * bit-identical in DuckDB. */
  private def projPlaneCoeffs(j: Int, dim: Int): Column =
    array((0 until dim).map { i =>
      lit(((1103515245L * ((j + 4096L) * 1048576L + i) + 12345L)
        % 2147483648L).toDouble / 2.147483648e9 - 0.5)
    }: _*)

  /** Column (HOF) form — the dim-agnostic fallback; bit-identical to
    * the fixed form (left-to-right fold == the fused DotProduct,
    * SimilaritySpec asserts it). */
  def randomProjectionCol(v: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)), j =>
      aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, i) => x *
            (((lit(1103515245L) * ((j.cast("long") + lit(4096L)) * lit(1048576L) + i.cast("long")) + lit(12345L))
              % lit(2147483648L)).cast("double") / lit(2.147483648E9) - lit(0.5))),
        lit(0.0), (acc, x) => acc + x))

  /** Fixed-dimension form: k codegen'd constant-vector dots. */
  def randomProjectionFixed(v: Column, dim: Int, k: Int): Column =
    array((0 until k).map(j => dot(v, projPlaneCoeffs(j, dim))): _*)

  /** Probed dispatch, same contract as [[bandBucketsProbed]]: LIMIT-1
    * dimension probe, loud per-row mismatch guard, HOF fallback on an
    * empty table. */
  def randomProjection(df: DataFrame, v: Column, k: Int = 16): Column =
    probedDim(df, v) match {
      case None => randomProjectionCol(v, k)
      case Some(dim) =>
        when(v.isNull, lit(null))
          .when(size(v) =!= dim, raise_error(concat(
            lit(s"embedding dimension mismatch: expected $dim, got "),
            size(v).cast("string"))))
          .otherwise(randomProjectionFixed(v, dim, k))
    }

  val queries: Seq[QueryDef] = Seq(

    // Quantized-ADC ANN with exact re-rank: integer-code first pass
    // (reads 4x less data per vector), float re-rank of the top-10
    // candidates, top-5 out. SimilaritySpec measures recall@5 vs
    // s_ann_bruteforce and bounds |cos_adc - cos| corpus-wide.
    QueryDef(
      "s_ann_adc",
      (s, d) => adcTopK(s, d, m = 10, k = 5),
      Some(adcOracle(m = 10, k = 5))),

    // Int8 scalar quantization of the whole embedding table: codes,
    // scale, and max reconstruction error per vector, all bit-exact
    // vs the oracle (floor-based rounding and exactly-rounded double
    // ops only — see quantizeInt8).
    QueryDef(
      "s_quantize",
      (s, d) => {
        import s.implicits._
        quantizeInt8(table(s, d, "embeddings"), $"vec_id", $"embedding")
          .orderBy($"vec_id")
      },
      Some("""WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS xd
                FROM embeddings),
              m AS (
                SELECT vec_id, xd, list_max([abs(x) for x in xd]) AS maxabs
                FROM e),
              s AS (
                SELECT vec_id, xd, maxabs,
                       CASE WHEN maxabs > 0 THEN 127.0 / maxabs ELSE 0.0 END AS scale
                FROM m),
              c AS (
                SELECT vec_id, scale,
                       [CAST(floor(x * scale + 0.5) AS INTEGER) for x in xd] AS codes,
                       CASE WHEN maxabs > 0
                            THEN list_max([abs(floor(x * scale + 0.5) / scale - x) for x in xd])
                            ELSE 0.0 END AS max_err
                FROM s)
              SELECT vec_id, CAST(len(codes) AS INTEGER) AS dim, scale,
                     CAST(len([c for c in codes if c != 0]) AS BIGINT) AS n_nonzero,
                     array_to_string(codes, ',') AS codes_str, max_err
              FROM c ORDER BY vec_id""")),

    // Exact ANN baseline: top-5 cosine neighbors for the 20 lowest
    // vec_ids. DuckDB replays the identical fold with list_dot_product
    // over DOUBLE[] (validated bit-exact).
    QueryDef(
      "s_ann_bruteforce",
      (s, d) => {
        import s.implicits._
        val emb = table(s, d, "embeddings")
          .select($"vec_id".as("id"), $"embedding".as("vec"))
        bruteForceTopK(emb.filter($"id" < 20), emb, 5)
          .select($"query_id", $"rank", $"neighbor_id", $"cos")
          .orderBy($"query_id", $"rank")
      },
      Some("""WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS nrm
                FROM embeddings),
              pairs AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
                FROM e q JOIN e c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
              ranked AS (
                SELECT query_id, neighbor_id, cos,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, neighbor_id ASC) AS rank
                FROM pairs)
              SELECT query_id, rank, neighbor_id, cos
              FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""")),

    // IVF ANN at nprobe=1 (fastest, lowest recall — see ivfTopK).
    // Cells come from a TRAINED coarse quantizer (kmeansCells — 4
    // deterministic Lloyd rounds the oracle unrolls as CTEs); at
    // 100 TB the cells are the partition layout, so a query touches
    // nprobe/nlist of the corpus. Centroid components are computed as
    // sum(floor(x * 1e6)) / (n * 1e6): the cross-row sum runs on
    // exact integers (order-insensitive, hence portable across
    // engines and across partitionings), the single final division is
    // deterministic double math — that converts the one
    // non-bit-portable step of the plain float mean into an
    // oracle-checkable quantized mean, in training and serving alike.
    QueryDef(
      "s_ann_ivf",
      (s, d) => ivfTopK(s, d, nprobe = 1, k = 3),
      Some(ivfOracle(nprobe = 1, k = 3))),

    // Multi-probe IVF: same pipeline, nprobe = 2 of the 10 cells — the
    // standard recall knob (a query near a cell boundary has true
    // neighbors in the runner-up cell; nprobe=1 misses them). The
    // oracle replays the identical nprobe-cell union; SimilaritySpec
    // measures recall@5 vs brute force strictly improving with nprobe.
    QueryDef(
      "s_ann_ivf_mp",
      (s, d) => ivfTopK(s, d, nprobe = 2, k = 3),
      Some(ivfOracle(nprobe = 2, k = 3))),

    // IVF + ADC: probe 2 cells, score members from int8 codes only,
    // exact float re-rank of the top-8, top-3 out — the full
    // scalar-quantized inverted-index serving shape (see ivfAdcTopK).
    QueryDef(
      "s_ann_ivf_adc",
      (s, d) => ivfAdcTopK(s, d, nprobe = 2, m = 8, k = 3),
      Some(ivfAdcOracle(nprobe = 2, m = 8, k = 3))),

    // LSH-bucketed ANN: hyperplane signature equi-join, top-3 within
    // bucket. The LCG-derived planes are exact integer math in both
    // engines, so bucket assignment — and with it the whole candidate
    // set — replays in the oracle; SimilaritySpec additionally asserts
    // bucket-match against brute force.
    QueryDef(
      "s_ann_lsh",
      (s, d) => {
        import s.implicits._
        val emb0 = table(s, d, "embeddings")
          .select($"vec_id", asDouble($"embedding").as("v"))
        // empty-safe dim probe; bands=1, r=8 of the fused matrix-vector
        // expression IS hyperplaneBucket (band 0 offsets by 0 and the
        // global plane indices coincide) — same buckets, compiled loop
        // instead of 8 interpreted HOF plane folds
        val emb = emb0
          .withColumn("bucket",
            element_at(bandBucketsProbed(emb0, $"v", bands = 1, r = 8), 1))
          .withColumn("nrm", l2norm($"v"))
        val q = emb.filter($"vec_id" < 20)
          .select($"bucket", $"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
        val c = emb.select($"bucket", $"vec_id".as("neighbor_id"), $"v".as("cv"), $"nrm".as("cn"))
        val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id".asc)
        broadcast(q).join(c, Seq("bucket"))
          .filter($"query_id" =!= $"neighbor_id")
          .select($"query_id", $"neighbor_id",
            (dot($"qv", $"cv") / ($"qn" * $"cn")).as("cos"))
          .withColumn("rank", row_number().over(w))
          .filter($"rank" <= 3)
          .orderBy($"query_id", $"rank")
      },
      Some("""WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS nrm
                FROM embeddings),
              b AS (
                SELECT vec_id, v, nrm,
                       list_sum([CASE WHEN list_dot_product(v,
                           [CAST(((1103515245::BIGINT * (p * 1048576 + i) + 12345) % 2147483648) AS DOUBLE)
                              / 2147483648.0 - 0.5
                            for i in range(len(v))]) >= 0.0
                         THEN (1 << (7 - p)) ELSE 0 END
                         for p in range(8)]) AS bucket
                FROM e),
              pairs AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
                FROM b q JOIN b c
                  ON q.bucket = c.bucket AND q.vec_id < 20 AND q.vec_id <> c.vec_id),
              ranked AS (
                SELECT query_id, neighbor_id, cos,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id ASC) AS rank
                FROM pairs)
              SELECT query_id, neighbor_id, cos, rank
              FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""")),

    // Random-projection ANN (see randomProjection): the corpus is
    // projected 64 -> 16 dims through the exact-integer LCG plane
    // family, then brute-force top-5 by cosine IN THE PROJECTED
    // SPACE — the storage-reduction path (project once at ingest;
    // every later scan touches 4x fewer doubles). The oracle replays
    // projection and ranking exactly (the plane coefficients and the
    // dot/list_dot_product pairing are both integer-exact), so what
    // the compare pins is the projected ranking itself — the recall
    // tradeoff is visible by diffing against s_ann_bruteforce, not
    // hidden behind a tolerance. The first 10 vectors re-ingest as
    // verbatim twins (+1,000,000 — the family's deterministic-
    // positive convention): identical vectors project identically, so
    // each such query's twin MUST serve at rank 1 at every sf — the
    // structure JL projection provably preserves, while the top-5
    // tail honestly shows what 16 dims keep of an isotropic corpus's
    // concentrated cosine margins (SimilaritySpec measures both).
    QueryDef(
      "s_ann_proj",
      (s, d) => {
        import s.implicits._
        val base = table(s, d, "embeddings")
          .select($"vec_id", $"embedding")
        val corpus = base.unionByName(base.filter($"vec_id" < 10)
          .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding"))
        val emb0 = corpus.select($"vec_id", asDouble($"embedding").as("v"))
        val proj = emb0.select($"vec_id".as("id"),
          randomProjection(emb0, $"v", 16).as("vec"))
        bruteForceTopK(proj.filter($"id" < 20), proj, 5)
          .select($"query_id", $"rank", $"neighbor_id",
            $"cos".as("cos_proj"))
          .orderBy($"query_id", $"rank")
      },
      Some("""WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM (SELECT vec_id, embedding FROM embeddings
                      UNION ALL
                      SELECT vec_id + 1000000 AS vec_id, embedding
                      FROM embeddings WHERE vec_id < 10)),
              p AS (
                SELECT vec_id,
                       [list_dot_product(v,
                          [CAST(((1103515245::BIGINT * ((j + 4096) * 1048576 + i) + 12345) % 2147483648) AS DOUBLE)
                             / 2147483648.0 - 0.5
                           for i in range(len(v))])
                        for j in range(16)] AS pv
                FROM e),
              n AS (
                SELECT vec_id, pv, sqrt(list_dot_product(pv, pv)) AS pn
                FROM p),
              pairs AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       list_dot_product(q.pv, c.pv) / (q.pn * c.pn) AS cos_proj
                FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
              ranked AS (
                SELECT query_id, neighbor_id, cos_proj,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY cos_proj DESC, neighbor_id ASC) AS rank
                FROM pairs)
              SELECT query_id, rank, neighbor_id, cos_proj
              FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))
  )
}
