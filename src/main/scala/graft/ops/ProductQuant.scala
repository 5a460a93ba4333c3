package graft.ops

import graft.QueryDef
import graft.model.Tables.table
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) ANN — the compression step that makes
  * 100 TB vector serving real: each vector is cut into [[PqM]]
  * subvectors and each subvector is replaced by the 4-bit id of its
  * nearest trained sub-centroid, so a 64-dim float32 vector (256 B)
  * serves from 8 codes (4 B packed) — 16x beyond the int8 scalar
  * quantization of `s_quantize`, with the codebook (m * ksub * dsub
  * doubles ≈ 8 KB) broadcast everywhere.
  *
  * Training is per-subspace Lloyd's k-means, run as ONE iterative
  * dataflow over the exploded (vec_id, sub, subvector) frame — the
  * subspace id rides in the grouping key, so m independent k-means
  * problems cost exactly the plan of one ([[Similarity.kmeansCells]]'s
  * shape with a composite key). Every step is portable arithmetic so
  * the DuckDB oracle replays training value-identically (not just
  * shape-identically), exactly like the IVF family:
  *
  *  - init: `md5Hash60(vec_id || ':' || sub) % ksub` — random-partition
  *    init with the engine's cross-engine hash as the randomness;
  *  - centroid step: elementwise QUANTIZED mean per (sub, cell)
  *    (`sum(floor(x*1e6) as long) / (n*1e6)` — exact-integer cross-row
  *    sum, order- and partitioning-insensitive; one deterministic
  *    double division);
  *  - assignment step: per subspace, argmin of the L2 distance
  *    `||sv - cv||²` — computed as argmax of
  *    `dot(sv, cv) - 0.5 * dot(cv, cv)` (expand the square: the
  *    `||sv||²` term is constant across cells for a fixed subvector,
  *    so the argmax is identical, and the expansion is a composition
  *    of exactly-rounded double ops both engines agree on, while a
  *    naive per-element `(x-c)²` fold would hinge on subtraction
  *    order). L2, not cosine: PQ reconstructs magnitudes, so
  *    zero-norm subvectors are first-class (score 0 everywhere, the
  *    cell-ascending tie-break decides) — unlike the IVF coarse
  *    quantizer there is NO degenerate-centroid drop;
  *  - FIXED iteration count ([[PqIters]]) — replayable and scalable
  *    (no per-round driver-side convergence collect).
  *
  * Serving is true ADC (asymmetric distance computation): the query
  * keeps its exact floats, the corpus is REPRESENTED BY its
  * reconstruction `recon = concat_sub(codebook[sub][code_sub])`, and
  * `cos_adc = dot(qv, recon) / (|qv| * |recon|)`. `dot(qv, recon)`
  * evaluated left-to-right in dimension order IS the classic per-query
  * lookup-table sum `Σ_sub LUT[sub][code]` accumulated in subspace
  * order — the fused in-row dot is the LUT algorithm with the table
  * evaluation inlined, chosen over an explicit LUT join because it
  * keeps the scoring pass a single codegen'd map over the (id, codes)
  * projection. The top-`m` ADC candidates per query are re-ranked
  * with the exact float cosine fetched by id equi-join (never a
  * second pair scan), top-`k` out — the same two-phase shape as
  * `s_ann_adc`.
  *
  * Scale shape: training is per-round one (sub, cell, pos)-keyed
  * aggregate with map-side combine (codebook rows: m * ksub * dsub)
  * plus one broadcast m-row join with the argmax folded in-row — no
  * pairwise stage anywhere. The trained codes + reconstructions are
  * materialized ONCE per query build behind a [[Checkpoints]] lease
  * (tag "pq"), truncating the 4-round iterative plan exactly as the
  * IVF index build does; at a deployment this materialization is the
  * stored index and the ADC pass reads codes only.
  */
object ProductQuant {

  /** Subspace count, dims per subspace, centroids per subspace, Lloyd
    * rounds — FIXED constants, part of the oracle contract (the DuckDB
    * replay unrolls exactly [[PqIters]] assignment rounds and slices
    * [[PqM]] subvectors of width [[PqDsub]]). ksub=16 keeps cells
    * populated at the 500-vector fixture scale (~31 members per cell
    * per subspace) while exercising real 4-bit codes. */
  val PqM = 8
  val PqDsub = 8
  val PqKsub = 16
  val PqIters = 4

  /** The fixture embedding dimension the slicing is pinned to; a row
    * with any other length fails LOUDLY (a silent short slice would
    * train on truncated subvectors). */
  val PqDim: Int = PqM * PqDsub

  /** (vec_id, sub, sv): the corpus exploded into its subvectors. */
  private[graft] def subvectors(emb: DataFrame): DataFrame = {
    val guarded = when(size(col("v")) =!= PqDim, raise_error(concat(
        lit(s"pq: embedding dimension mismatch: expected $PqDim, got "),
        size(col("v")).cast("string"))))
      .otherwise(col("v"))
    emb.select(col("vec_id"), guarded.as("v"))
      .select(col("vec_id"), inline(
        transform(sequence(lit(0), lit(PqM - 1)), s =>
          struct(s.cast("int").as("sub"),
            slice(col("v"), s * lit(PqDsub) + lit(1), lit(PqDsub)).as("sv")))))
  }

  /** One k-means round's codebook, rolled into ONE row per subspace
    * (cells ascending — array_sort on struct(c_label, ...) orders by
    * the leading field) for the broadcast in-row argmax. `cself` =
    * dot(cv, cv) is carried so the assignment score is one fused dot
    * plus one multiply-subtract per candidate. */
  private[graft] def codebookPerSub(sub: DataFrame, assign: DataFrame): DataFrame = {
    // an assignment that CARRIES its subvector (the [[pqCodes]] rounds
    // do, same move as Similarity.kmeansCents) feeds the aggregate
    // directly; the historical (vec_id, sub, cell) shape pays the
    // reattachment equi-join — a full shuffle of the exploded
    // subvector corpus on both sides (kept only for the pluggable
    // spec paths that hand in bare code frames). Value-identical:
    // the join was 1:1 on the unique (vec_id, sub).
    val withSv =
      if (assign.columns.contains("sv")) assign
      else sub.join(assign, Seq("vec_id", "sub"))
    Similarity.quantMeanCv(withSv, Seq("sub", "cell"), "sv")
      .select(col("sub"), col("cell").as("c_label"), col("cv"))
      .withColumn("cself", graft.ops.Similarity.dot(col("cv"), col("cv")))
  }

  /** The training init: random-partition codes from the portable hash
    * (exposed for the spec's trained-vs-init reconstruction-error
    * comparison). */
  private[ops] def pqInitCodes(emb: DataFrame): DataFrame =
    subvectors(emb).select(col("vec_id"), col("sub"),
      pmod(graft.functions.PortableHash.md5Hash60(
          concat(col("vec_id").cast("string"), lit(":"), col("sub").cast("string"))),
        lit(PqKsub.toLong)).as("cell"))

  /** Deterministic per-subspace Lloyd's k-means: returns the final
    * code assignment (vec_id, sub, cell). See the object doc for the
    * portability argument of each step. */
  private[graft] def pqCodes(emb: DataFrame): DataFrame = {
    val sub = subvectors(emb)
    // the rolling assignment CARRIES `sv` (see [[codebookPerSub]]) so
    // no round pays the (vec_id, sub) reattachment shuffle; the init
    // is [[pqInitCodes]]'s hash computed over the subvector frame
    // itself (value-identical — the hash reads only vec_id and sub)
    var assign = sub.withColumn("cell",
      pmod(graft.functions.PortableHash.md5Hash60(
          concat(col("vec_id").cast("string"), lit(":"), col("sub").cast("string"))),
        lit(PqKsub.toLong)))
    for (_ <- 1 to PqIters) {
      val cents = codebookPerSub(sub, assign)
        .groupBy(col("sub")).agg(array_sort(collect_list(
          struct(col("c_label"), col("cv"), col("cself")))).as("cents"))
      // broadcast m rows; argmax folds in-row over ≤ ksub candidates —
      // keep-on-strictly-greater = row_number over (score DESC, cell ASC)
      assign = sub.join(broadcast(cents), Seq("sub"))
        .select(col("vec_id"), col("sub"), col("sv"),
          aggregate(col("cents"),
            struct(lit(Long.MaxValue).as("cell"),
              lit(Double.NegativeInfinity).as("best")),
            (acc, c) => {
              val score = graft.ops.Similarity.dot(col("sv"), c.getField("cv")) -
                lit(0.5) * c.getField("cself")
              when(score > acc.getField("best"),
                struct(c.getField("c_label").as("cell"), score.as("best")))
                .otherwise(acc)
            }).getField("cell").as("cell"))
    }
    assign
  }

  /** The PQ index in its serving form: (vec_id, recon, rn) — each
    * corpus vector's codebook reconstruction and its norm,
    * materialized once per query build behind the "pq" checkpoint
    * lease. The serving codebook is the quantized mean of each FINAL
    * cell's members (the mean minimizes reconstruction error given
    * the assignment — the standard closing half-step; every code
    * references a cell with ≥ 1 member by construction, so the join
    * below loses no rows). */
  private[ops] def pqRecon(emb: DataFrame): DataFrame =
    pqReconWith(emb, pqCodes)

  /** [[pqRecon]] with a pluggable code assignment (specs swap in the
    * untrained init codes to measure what training buys). */
  private[ops] def pqReconWith(
      emb: DataFrame, assignCodes: DataFrame => DataFrame): DataFrame =
    Checkpoints.lease("pq", pqReconPlanWith(emb, assignCodes))

  /** The UNLEASED [[pqRecon]] plan: training, serving codebook and
    * reconstruction assembly. */
  private def pqReconPlanWith(
      emb: DataFrame, assignCodes: DataFrame => DataFrame): DataFrame = {
    val codes = assignCodes(emb)
    val book = codebookPerSub(subvectors(emb), codes)
      .select(col("sub"), col("c_label").as("cell"), col("cv"))
    codes.join(broadcast(book), Seq("sub", "cell"))
      .groupBy(col("vec_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("sub"), col("cv")))),
        p => p.getField("cv"))).as("recon"))
      .withColumn("rn", graft.ops.Similarity.l2norm(col("recon")))
  }

  /** Two-phase PQ-ADC ANN: code-reconstruction first pass over the
    * whole corpus (reads the PQ index, never corpus floats), exact
    * float re-rank of the top-`m` per query, top-`k` out. */
  def pqTopK(s: SparkSession, d: String, m: Int, k: Int): DataFrame = {
    import s.implicits._
    val emb = table(s, d, "embeddings")
      .select($"vec_id", graft.ops.Similarity.asDouble($"embedding").as("v"))
      .withColumn("nrm", graft.ops.Similarity.l2norm($"v"))
    val recon = pqRecon(emb.select($"vec_id", $"v"))
    val q = emb.filter($"vec_id" < 20 && $"nrm" > 0)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    val wAdc = Window.partitionBy($"query_id")
      .orderBy($"cos_adc".desc, $"neighbor_id".asc)
    val cand = broadcast(q)
      .crossJoin(recon.filter($"rn" > 0)
        .select($"vec_id".as("neighbor_id"), $"recon", $"rn"))
      .filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id",
        (graft.ops.Similarity.dot($"qv", $"recon") / ($"qn" * $"rn")).as("cos_adc"))
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter($"adc_rank" <= m)
    val wTop = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id".asc)
    // cn > 0 mirrors the query side's nrm > 0: a genuine zero vector can
    // still carry a nonzero RECONSTRUCTION (its cells' means include other
    // members) and reach re-rank, where cos would be 0/0 = NaN and sort
    // first under DESC in both engines — filter it like every other s_ann.
    broadcast(cand)
      .join(emb.filter($"nrm" > 0)
          .select($"vec_id".as("neighbor_id"), $"v".as("cv"), $"nrm".as("cn")),
        Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select($"query_id", $"neighbor_id", $"cos_adc", $"adc_rank",
        (graft.ops.Similarity.dot($"qv", $"cv") / ($"qn" * $"cn")).as("cos"))
      .withColumn("rank", row_number().over(wTop))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", $"cos", $"cos_adc", $"adc_rank")
      .orderBy($"query_id", $"rank")
  }

  /** DuckDB CTE chain replaying [[pqCodes]] + the serving codebook:
    * defines `sv` (vec_id, sub, sv), `asn$PqIters` (vec_id, sub, cell)
    * and `rcn` (vec_id, rv, rn). Every step mirrors the Spark side —
    * md5-mod init, exact-integer quantized centroid means, the
    * expanded-square L2 argmax with the (score DESC, cell ASC)
    * row_number tie-break, subspace-ordered flatten — so the replay is
    * value-identical. `in` names the (vec_id, v) CTE the subvectors
    * slice from — `e` for the raw-vector trainings, the residual CTE
    * for the residual IVF-PQ replay. */
  private[ops] def pqOracleCtes(p: String = "", in: String = "e"): String = {
    val init =
      s"""${p}sv AS (
                SELECT vec_id, s AS sub, v[s*$PqDsub+1 : s*$PqDsub+$PqDsub] AS sv
                FROM (SELECT vec_id, v, unnest(range(0, $PqM)) AS s FROM $in)),
              ${p}asn0 AS (
                SELECT vec_id, sub,
                       ${graft.functions.PortableHash.duckdbHash60(
                         "CAST(vec_id AS VARCHAR) || ':' || CAST(sub AS VARCHAR)")}
                         % $PqKsub AS cell
                FROM ${p}sv)"""
    val rounds = (1 to PqIters).map { r =>
      s"""${p}px$r AS (
                SELECT a.sub, a.cell, unnest(s.sv) AS x, generate_subscripts(s.sv, 1) AS pos
                FROM ${p}sv s JOIN ${p}asn${r - 1} a ON a.vec_id = s.vec_id AND a.sub = s.sub),
              ${p}cg$r AS (
                SELECT sub, cell, pos,
                       CAST(sum(CAST(floor(x * 1000000) AS BIGINT)) AS DOUBLE)
                         / (count(*) * 1000000.0) AS cx
                FROM ${p}px$r GROUP BY sub, cell, pos),
              ${p}ct$r AS (
                SELECT sub, cell AS c_label, list(cx ORDER BY pos) AS cv
                FROM ${p}cg$r GROUP BY sub, cell),
              ${p}sc$r AS (
                SELECT s.vec_id, s.sub, c.c_label,
                       row_number() OVER (PARTITION BY s.vec_id, s.sub
                         ORDER BY list_dot_product(s.sv, c.cv)
                                    - 0.5 * list_dot_product(c.cv, c.cv) DESC,
                                  c.c_label ASC) AS rk
                FROM ${p}sv s JOIN ${p}ct$r c ON c.sub = s.sub),
              ${p}asn$r AS (SELECT vec_id, sub, c_label AS cell FROM ${p}sc$r WHERE rk = 1)"""
    }
    val serving =
      s"""${p}fpx AS (
                SELECT a.sub, a.cell, unnest(s.sv) AS x, generate_subscripts(s.sv, 1) AS pos
                FROM ${p}sv s JOIN ${p}asn$PqIters a ON a.vec_id = s.vec_id AND a.sub = s.sub),
              ${p}fcg AS (
                SELECT sub, cell, pos,
                       CAST(sum(CAST(floor(x * 1000000) AS BIGINT)) AS DOUBLE)
                         / (count(*) * 1000000.0) AS cx
                FROM ${p}fpx GROUP BY sub, cell, pos),
              ${p}fcb AS (
                SELECT sub, cell, list(cx ORDER BY pos) AS cv
                FROM ${p}fcg GROUP BY sub, cell),
              ${p}rcn AS (
                SELECT vec_id, rv, sqrt(list_dot_product(rv, rv)) AS rn
                FROM (SELECT a.vec_id, flatten(list(c.cv ORDER BY a.sub)) AS rv
                      FROM ${p}asn$PqIters a
                      JOIN ${p}fcb c ON c.sub = a.sub AND c.cell = a.cell
                      GROUP BY a.vec_id))"""
    (init +: rounds :+ serving).mkString(",\n              ")
  }

  /** DuckDB replay of [[pqTopK]] at the same (m, k). */
  private def pqOracle(m: Int, k: Int): String =
    s"""WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS nrm
                FROM embeddings),
              ${pqOracleCtes()},
              q AS (
                SELECT vec_id AS query_id, v AS qv, nrm AS qn
                FROM e WHERE vec_id < 20 AND nrm > 0),
              adc AS (
                SELECT q.query_id, r.vec_id AS neighbor_id,
                       list_dot_product(q.qv, r.rv) / (q.qn * r.rn) AS cos_adc
                FROM q JOIN rcn r ON q.query_id <> r.vec_id
                WHERE r.rn > 0),
              r1 AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos_adc DESC, neighbor_id ASC) AS adc_rank
                FROM adc),
              cand AS (SELECT * FROM r1 WHERE adc_rank <= $m),
              r2 AS (
                SELECT c.query_id, c.neighbor_id, c.cos_adc, c.adc_rank,
                       list_dot_product(q.qv, e.v) / (q.qn * e.nrm) AS cos,
                       row_number() OVER (PARTITION BY c.query_id
                         ORDER BY list_dot_product(q.qv, e.v) / (q.qn * e.nrm) DESC,
                                  c.neighbor_id ASC) AS rank
                FROM cand c
                JOIN e ON e.vec_id = c.neighbor_id AND e.nrm > 0
                JOIN q ON q.query_id = c.query_id)
              SELECT query_id, rank, neighbor_id, cos, cos_adc, adc_rank
              FROM r2 WHERE rank <= $k ORDER BY query_id, rank"""

  val queries: Seq[QueryDef] = Seq(

    // PQ-ADC ANN: 8 subspaces x 16 centroids (4-bit codes, 16x
    // compression), trained by 4 oracle-replayed Lloyd rounds per
    // subspace; reconstruction-scored first pass, exact float re-rank
    // of the top-10, top-5 out. SimilaritySpec pins recall@5 vs
    // s_ann_bruteforce.
    QueryDef(
      "s_ann_pq",
      (s, d) => pqTopK(s, d, m = 10, k = 5),
      Some(pqOracle(m = 10, k = 5)))
  )
}
