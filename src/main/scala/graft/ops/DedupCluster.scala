package graft.ops

import graft.QueryDef
import graft.model.Tables.table
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The clustering / applied-dedup family of [[Dedup]] — connected
  * components (min-label propagation and star contraction), the
  * collapse-apply survivor combinator, and the applied LSH / cluster
  * queries built on them. Implementation part of the [[Dedup]]
  * object. */
trait DedupClusterPart { this: Dedup.type =>

  /** Connected components of an undirected pair graph as min-label
    * propagation: every vertex starts labeled with its own id and
    * repeatedly takes the minimum label over itself and its neighbors
    * until a fixpoint — the final label is the minimum vertex id of
    * the component (the canonical-document id a dedup pipeline keys
    * clusters on). Returns (id, cluster).
    *
    * Execution shape: the DRIVER runs the loop, but it is control
    * only — each round is one distributed join + hash aggregate, data
    * never leaves executors, and convergence is detected from an
    * exact sum(label) metric that rides the round's own
    * materialization job ([[checkpointedWithMetric]] — labels only
    * ever decrease, so sum(label) is strictly monotone until the
    * fixpoint; no per-row diff join, no second job per round).
    * Round count is the component diameter, which for near-dup
    * clusters is small (dup cliques have diameter 1; chains of
    * borderline pairs are short); `maxIters` fails loudly rather than
    * returning a half-propagated labeling. Each round's labels are
    * eagerly `localCheckpoint`ed and the previous round's blocks
    * dropped: checkpointing (unlike persist) also TRUNCATES the
    * logical plan, which otherwise deepens by one join per round and
    * sends Catalyst re-optimizing — and eventually OOMing the driver
    * on — an ever-growing tree (observed at ~20 rounds; any iterative
    * DataFrame algorithm needs this). At 100 TB the same loop holds
    * (rounds are
    * diameter-bounded, not data-bounded); a graph with adversarially
    * long chains would swap this for the two-phase star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — same per-round plan shape. */
  /** Shared localCheckpoint lease machinery ([[Checkpoints]]) under
    * the "cc" tag: each CC invocation releases the PRIOR invocation's
    * result blocks, checkpoints per round (truncating the per-round
    * plan growth), and registers its own result blocks for the next
    * entry. See [[Checkpoints]] for the full lifetime contract.
    */
  private def checkpointedWithRdd(
      df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[_]) =
    Checkpoints.checkpointedWithRdd(df)

  private def ccReleasePrior(sc: org.apache.spark.SparkContext): Unit =
    Checkpoints.releasePrior("cc", sc)

  private def ccRegister(sc: org.apache.spark.SparkContext)(
      finals: org.apache.spark.rdd.RDD[_]*): Unit =
    Checkpoints.register("cc", sc)(finals: _*)

  /** Checkpoint one CC round's frame with its convergence metric
    * riding the SAME job that materializes the checkpoint:
    * `Dataset.observe` plants a CollectMetrics node at the top of the
    * round's plan, so the metric accumulates WHILE the eager
    * localCheckpoint job runs — where the round-17 shape paid a
    * SECOND full-scan job per round (a 1-row convergence aggregate
    * over the just-checkpointed blocks), i.e. 2 driver-blocking jobs
    * per round per CC invocation (committed before/after counts:
    * plans/r18/cc_jobcount_*.txt).
    *
    * The metric is EXACT, not best-effort: CollectMetrics sits above
    * the round's last exchange, so it evaluates in the RESULT stage of
    * the materialization job, and the scheduler merges a result-stage
    * accumulator update exactly once per partition (a duplicate
    * successful task is discarded before the merge — the same
    * mechanism that keeps SQL metrics exact; only shuffle-map-stage
    * accumulators can double-count under retries). The bounded wait +
    * recompute fallback below is defense against an action path that
    * bypasses the listener bus — it recomputes the SAME metric over
    * the checkpointed blocks (one extra job, the pre-fusion shape)
    * rather than ever returning a wrong or absent value. */
  private def checkpointedWithMetric(
      df: DataFrame, metric: Column): (
      DataFrame, org.apache.spark.rdd.RDD[_], Any) = {
    val obs = org.apache.spark.sql.Observation()
    val (out, rdd) = checkpointedWithRdd(df.observe(obs, metric.as("m")))
    val m = try {
      Some(scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(10, "s")).get(0))
    } catch { case _: java.util.concurrent.TimeoutException => None }
    (out, rdd, m.getOrElse(out.agg(metric.as("m")).head().get(0)))
  }

  /** Min-label-propagation connected components (see the execution
    * notes above). RESULT LIFETIME CONTRACT: the returned frame is
    * backed by localCheckpoint blocks that are released at the NEXT
    * [[connectedMinLabels]]/[[connectedStarContraction]] call on the
    * same SparkContext — consume the result (write/collect/derive)
    * before re-invoking CC on that context, and do not run two CC
    * computations concurrently on one session. */
  def connectedMinLabels(
      vertices: DataFrame, edges: DataFrame, maxIters: Int = 50): DataFrame = {
    ccReleasePrior(vertices.sparkSession.sparkContext)
    val e = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist()
    // the convergence sum rides each round's checkpoint job
    // ([[checkpointedWithMetric]] — labels only ever decrease, so
    // equal consecutive exact sums == fixpoint, as before; the metric
    // just stopped costing a second job per round)
    val lsum = coalesce(sum(col("label").cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)"))
    val init = checkpointedWithMetric(
      vertices.select(col("id"), col("id").as("label")), lsum)
    var labels = init._1
    var labelsRdd = init._2
    var sum0 = init._3.asInstanceOf[java.math.BigDecimal]
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val prop = e.join(labels, e("src") === labels("id"))
        .groupBy(col("dst")).agg(min(col("label")).as("nlabel"))
      val (next, nextRdd, s1) = checkpointedWithMetric(labels.as("l")
        .join(prop, col("l.id") === prop("dst"), "left")
        .select(col("l.id").as("id"),
          least(col("l.label"), coalesce(col("nlabel"), col("l.label"))).as("label")),
        lsum)
      val sum1 = s1.asInstanceOf[java.math.BigDecimal]
      labelsRdd.unpersist(blocking = false) // previous round's checkpoint blocks
      labels = next
      labelsRdd = nextRdd
      converged = sum1.compareTo(sum0) == 0
      sum0 = sum1
      iter += 1
    }
    e.unpersist()
    // register BEFORE the convergence require: a non-convergent run's
    // last checkpoint must also be reclaimed at the next CC entry
    ccRegister(vertices.sparkSession.sparkContext)(labelsRdd)
    require(converged, s"component labeling did not converge in $maxIters rounds")
    labels
  }

  /** Connected components by alternating star contraction (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14,
    * alg. 2 "two-phase") — the documented fallback
    * [[connectedMinLabels]] names for graphs with adversarially long
    * chains. Same signature, same output contract: (id, label) with
    * label = the component's minimum vertex id.
    *
    * Each round rewires edges toward local minima:
    *  - LARGE-STAR: for every vertex c, link each strictly-larger
    *    neighbor to min(N(c) ∪ {c});
    *  - SMALL-STAR: for every vertex u over its smaller-or-equal
    *    neighborhood N(u), link u and each x ∈ N(u) to min(N(u)).
    * Both keep every edge inside one equi-join + hash-aggregate round
    * (same per-round plan shape as min-label propagation), but the
    * component shrinks to a star rooted at its minimum in O(log n)
    * rounds instead of O(diameter) — a 10⁶-long chain needs ~20 rounds,
    * not 10⁶. Near-dup cliques (diameter 1-2) don't need this; use it
    * when the pair graph's shape is unknown or chain-heavy.
    *
    * Convergence = the canonical (hi, lo) edge set reaches a fixpoint,
    * detected from a 1-ROW SET FINGERPRINT per round — (count,
    * bit_xor of xxhash64(u, v)) over the distinct canonical edges,
    * riding the round's checkpoint job as an observed metric
    * ([[checkpointedWithMetric]], round 18 — zero extra jobs); the
    * round-5 version paid a full count() PLUS a shuffle-compare
    * exceptAll every round (two extra distributed jobs — it was the
    * slowest bench entry). bit_xor is
    * order-independent and overflow-free (sum would throw under ANSI),
    * and over a DISTINCT edge set it is a proper set fingerprint. The
    * moment the fingerprint repeats, the fixpoint is asserted EXACTLY
    * once (one-way except — both sides distinct, counts already
    * equal), so the output contract stays bit-exact; a 64-bit
    * collision would fail loudly, never return a wrong labeling. At
    * the fixpoint the edges form a star forest (child → component-min
    * root); vertices with no edge label themselves.
    *
    * RESULT LIFETIME CONTRACT: same as [[connectedMinLabels]] — the
    * returned frame's checkpoint blocks are released at the next CC
    * call on the same SparkContext; consume before re-invoking, and
    * do not run two CC computations concurrently on one session. */
  def connectedStarContraction(
      vertices: DataFrame, edges: DataFrame, maxIters: Int = 50): DataFrame = {
    ccReleasePrior(vertices.sparkSession.sparkContext)
    def canon(e: DataFrame): DataFrame =
      e.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
    // the (count, bit_xor) set fingerprint rides each round's
    // checkpoint job as one struct metric ([[checkpointedWithMetric]]
    // — same values, no second job per round)
    val efp = struct(
      count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("x"))
    def asFp(m: Any): (Long, Long) = {
      val r = m.asInstanceOf[org.apache.spark.sql.Row]
      (r.getLong(0), r.getLong(1))
    }
    // localCheckpoint (not persist) per round: truncates the logical
    // plan so Catalyst never re-optimizes the accumulated join tree —
    // see connectedMinLabels' doc
    val init = checkpointedWithMetric(
      canon(edges.select(col("id_a").as("u"), col("id_b").as("v"))), efp)
    var e = init._1
    var eRdd = init._2
    var eFp = asFp(init._3)
    var converged = eFp._1 == 0L
    var iter = 0
    while (!converged && iter < maxIters) {
      // large-star around every center c (both edge directions)
      val sym = e.select(col("u").as("c"), col("v").as("n"))
        .unionByName(e.select(col("v").as("c"), col("u").as("n")))
      val cmin = sym.groupBy("c").agg(min(col("n")).as("nm"))
        .select(col("c"), least(col("c"), col("nm")).as("m"))
      val large = canon(sym.join(cmin, "c").filter(col("n") > col("c"))
        .select(col("n").as("u"), col("m").as("v"))).persist()
      // small-star over each u's (strictly smaller, post-canon) nbrs
      val umin = large.groupBy("u").agg(min(col("v")).as("m"))
      val withM = large.join(umin, "u")
      val (next, nextRdd, nm) = checkpointedWithMetric(canon(
        withM.select(col("v").as("u"), col("m").as("v"))
          .unionByName(withM.select(col("u"), col("m").as("v")))), efp)
      val nFp = asFp(nm)
      if (nFp == eFp) {
        // the once-at-exit exact assert (see doc): counts are equal, so
        // an empty one-way difference proves set equality
        require(next.exceptAll(e).isEmpty,
          "star contraction: edge sets differ at equal fingerprint (64-bit collision)")
        converged = true
      }
      large.unpersist()
      eRdd.unpersist(blocking = false) // previous round's checkpoint blocks
      e = next
      eRdd = nextRdd
      eFp = nFp
      iter += 1
    }
    // e stays checkpointed: the returned frame reads it, and a
    // localCheckpoint's blocks are NOT recomputable once dropped —
    // released at the NEXT CC entry (see ccLiveBlocks). Registered
    // before the require so a non-convergent run is reclaimed too.
    ccRegister(vertices.sparkSession.sparkContext)(eRdd)
    require(converged, s"star contraction did not converge in $maxIters rounds")
    vertices.select(col("id"))
      .join(e.select(col("u").as("id"), col("v").as("__root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__root"), col("id")).as("label"))
  }

  /** Exact-content collapse for APPLIED dedup (survivor set): groups
    * `docs` by `groupCols`, lets `dominatedReps` name dominated
    * representatives from the eligible-rep set, marks every non-rep
    * member of an ELIGIBLE group as twin-dominated by its group
    * minimum, and anti-joins. Same collapse proof as
    * [[collapseExpandPairs]]: a non-rep x of an eligible group is
    * dominated by its group min at similarity 1; a rep x is dominated
    * iff some group Y with sim(Y, X) >= t has min(Y) < x — exactly a
    * rep pair. Group members are content-homogeneous, so member
    * eligibility equals rep eligibility and eligibility is computed
    * once per distinct content, not per doc. Returns the surviving
    * rows of `docs` (original schema). */
  def collapseApplySurvivors(
      docs: DataFrame, idCol: String, groupCols: Seq[Column])(
      eligiblePred: Column)(
      dominatedReps: DataFrame => DataFrame): DataFrame = {
    // ONE leased pass materializes the group window AND the row-wise
    // eligibility predicate: the grouped frame fans out to the rep
    // pipeline, the twin expansion, and the eligible-rep filter, so
    // without the lease each reference re-instantiates the group
    // window / the eligibility kernel (guide §1.2). Eligibility rides
    // the SAME materialization as a boolean column — the when() guard
    // short-circuits, so the (potentially expensive) predicate
    // evaluates on REP rows only, exactly as the round-17 second
    // lease ("collapseapply_el") did — but without that lease's extra
    // sequential full-frame materialization job per execution, the
    // per-job fixed cost the round-17 verdict measured regressing
    // dd_cluster_keepbest at 32 cores. The eligible-rep set is now a
    // free filter over the already-materialized blocks.
    val grp = Checkpoints.lease("collapseapply_grp", docs
      .withColumn("__min", min(col(idCol)).over(Window.partitionBy(groupCols: _*)))
      .withColumn("__elig",
        when(col(idCol) === col("__min"), eligiblePred).otherwise(lit(false))))
    val el = grp.filter(col("__elig")).drop("__elig")
    val twinDominated = grp.filter(col(idCol) =!= col("__min"))
      .join(el.select(col(idCol).as("__min")), Seq("__min"))
      .select(col(idCol))
    val dominated = dominatedReps(el).toDF(idCol).unionByName(twinDominated)
    docs.join(dominated, Seq(idCol), "left_anti")
  }

  /** The dd_apply_lsh pipeline as a reusable stage over ANY doc set
    * carrying `doc_id` + `text` (original schema preserved): applied
    * minhash-LSH dedup at t = 0.5 through the exact-content collapse.
    * collapseApplySurvivors' contract holds exactly as in
    * dd_minhash_lsh: identical texts share signatures, bands, AND
    * exact hash-set Jaccard, so the rep pair reproduces every
    * cross-group domination and the group minimum dominates its
    * eligible twins directly (shingles computed once per unique
    * content). Shingle-less reps emit no postings/bands and can never
    * pair, so running the pipeline on eligible reps only is
    * output-identical. */
  def applyLshSurvivors(docs: DataFrame): DataFrame =
    collapseApplySurvivors(docs, "doc_id", Seq(md5(lower(col("text")))))(
      size(graft.functions.TextShingles.wordShingles(col("text"), 3)) > 0) { el =>
      minhashNearDups(
          el.select(col("doc_id"), col("text")), col("doc_id"), col("text"), 0.5)
        .select(col("id_b").as("doc_id")).distinct()
    }

  /** The dd_cluster member frame (doc_id, cluster), UNORDERED,
    * parameterized by the connected-components algorithm (min-label
    * propagation or star contraction — both return
    * (id, label=component min)). Shared by the cluster queries and the
    * keep-best survivor policy below. */
  private def clusterMembers(cc: (DataFrame, DataFrame) => DataFrame)(
      s: SparkSession, d: String): DataFrame =
    clusterMembersOf(cc, table(s, d, "documents"))

  /** [[clusterMembers]] over ANY doc set carrying `doc_id` + `text` —
    * the form pipeline compositions feed (`pipe_curate` clusters the
    * quality-selected subset, not the corpus). */
  private[ops] def clusterMembersOf(
      cc: (DataFrame, DataFrame) => DataFrame, docsIn: DataFrame): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    val docs = docsIn.select($"doc_id", $"text")
    // leased: the grouped frame fans out to the pair pipeline, the CC
    // vertex set, the eligibility filter, and the member expansion —
    // each reference otherwise re-instantiates the scan + group
    // window. Eligibility rides the SAME materialization as a boolean
    // column (the when() guard evaluates the shingle kernel on rep
    // rows only) — the round-17 separate "cluster_eligible" lease
    // bought the once-only evaluation at the price of one more
    // sequential full-frame materialization job per execution, the
    // 32-core per-job fixed cost the round-17 verdict measured
    // regressing dd_cluster_keepbest; a filter over the leased blocks
    // costs neither.
    val grp = Checkpoints.lease("cluster_grp", docs
      .withColumn("__min", min($"doc_id").over(Window.partitionBy(md5(lower($"text")))))
      .withColumn("__elig", when($"doc_id" === $"__min",
        size(graft.functions.TextShingles.wordShingles($"text", 3)) > 0)
        .otherwise(lit(false))))
    val reps = grp.filter($"doc_id" === $"__min")
    val pairs = minhashNearDups(
        reps.select($"doc_id", $"text"), $"doc_id", $"text", 0.5)
      .select($"id_a", $"id_b")
    val repLabels = cc(reps.select($"doc_id".as("id")), pairs)
    val eligible = grp.filter($"__elig").select($"doc_id".as("__min"))
    val members = grp.select($"doc_id", $"__min")
    val inherited = members
      .join(eligible, Seq("__min"))
      .join(repLabels.select($"id".as("__min"), $"label".as("cluster")), Seq("__min"))
      .select($"doc_id", $"cluster")
    val singletons = members.join(eligible, Seq("__min"), "left_anti")
      .select($"doc_id", $"doc_id".as("cluster"))
    inherited.unionByName(singletons)
  }

  /** The dd_cluster pipeline body ([[clusterMembers]] in registry
    * output order). */
  private def clusterQuery(cc: (DataFrame, DataFrame) => DataFrame)(
      s: SparkSession, d: String): DataFrame =
    clusterMembers(cc)(s, d).orderBy(col("doc_id"))

  /** Oracle CTE chain ending in `cmemb AS (doc_id, cluster)` — the
    * member-frame replay shared by the cluster queries and
    * dd_cluster_keepbest. */
  private lazy val clusterMemberCtes: String =
    "WITH RECURSIVE " + clusterMemberChainFrom("documents")

  /** The member-frame chain parameterized by the doc relation and
    * WITHOUT the leading `WITH RECURSIVE` — spliceable into a larger
    * statement (pipe_curate roots it at the quality-selected subset;
    * the enclosing WITH must be RECURSIVE for the `reach` fixpoint). */
  private[ops] def clusterMemberChainFrom(rel: String): String = {
    val reps = s"""(SELECT doc_id, text FROM (
                    SELECT doc_id, text,
                           min(doc_id) OVER (PARTITION BY md5(lower(text))) AS mn
                    FROM $rel) WHERE doc_id = mn)"""
    s"""${minhashOracleCtesFrom(reps).stripPrefix("WITH ")},
        gm AS (
          SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(lower(text))) AS mn
          FROM $rel),
        up AS (SELECT id_a, id_b FROM verified WHERE sim >= 0.5),
        eg AS (SELECT id_a AS src, id_b AS dst FROM up
               UNION ALL SELECT id_b, id_a FROM up),
        reach AS (
          SELECT doc_id AS id, doc_id AS label FROM ne
          UNION
          SELECT eg.dst, r.label FROM reach r JOIN eg ON eg.src = r.id
        ),
        repl AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id),
        cmemb AS (
          SELECT g.doc_id, r.cluster
          FROM gm g JOIN ne ON ne.doc_id = g.mn JOIN repl r ON r.id = g.mn
          UNION ALL
          SELECT g.doc_id, g.doc_id AS cluster
          FROM gm g LEFT JOIN ne ON ne.doc_id = g.mn WHERE ne.doc_id IS NULL)"""
  }

  private lazy val clusterOracle: String =
    s"""$clusterMemberCtes
        SELECT doc_id, cluster FROM cmemb ORDER BY doc_id"""

  /** dd_apply (spliced after dd_simhash in the registry). */
  private[ops] lazy val applyQueries: Seq[QueryDef] = Seq(

    // Applied dedup: the corpus with near-duplicates REMOVED — any doc
    // dominated by a lower-id near-dup partner is dropped (one
    // left-anti join against the pair set). This is the operator a
    // training-data pipeline actually runs; the pair queries above are
    // its evidence.
    //
    // EXACT ground truth with BOUNDED candidate generation via prefix
    // filtering (Bayardo et al., "Scaling Up All Pairs Similarity
    // Search", WWW'07): order each doc's gram set by (global df ASC,
    // gram ASC) and index only the first floor(n/2)+1 grams — for
    // Jaccard >= t a pair MUST share a gram inside both prefixes
    // (prefix length |x| - ceil(t*|x|) + 1, here t = 0.5), so the
    // candidate set is complete while stop-grams (df = d, formerly d^2
    // candidate rows each) sort to the suffix and never join. Grams
    // are PortableHash 30-bit md5-prefix hashes so BOTH engines
    // compute the identical (df, hash) total order and hash-set
    // Jaccard — the whole pipeline replays in DuckDB, same contract as
    // dd_minhash_lsh (collisions ~n^2/2^31 per doc affect both sides
    // identically).
    QueryDef(
      "dd_apply",
      (s, d) => {
        import s.implicits._
        // collapseApplySurvivors: identical texts have identical
        // shingle sets (J = 1), so each md5(lower(text)) group enters
        // the pairwise machinery only through its minimal doc_id and
        // every other eligible member (>= 1 shingle — groups are
        // content-homogeneous, so rep eligibility decides) is
        // dominated by that minimum outright. Duplicate-saturated
        // corpora (the 100 TB reality) then cost the pairwise stage
        // O(unique contents), not O(docs): a 20x-saturated 100k
        // corpus dropped 342s -> seconds with the identical
        // survivor set. Shingle-less docs (< 3 tokens) never enter
        // postings, can't be dominated, and pass through.
        collapseApplySurvivors(table(s, d, "documents"), "doc_id",
            Seq(md5(lower($"text"))))(
            size(graft.functions.TextShingles.wordShingles($"text", 3)) > 0) { el =>
          val (posts, cand) = prefixCandidates(el.select($"doc_id", $"text"))
          // verify by postings-join intersection counts,
          // candidates-only: no gram arrays cross a shuffle and the
          // whole check is codegen'd joins + one hash-agg (an
          // interpreted per-pair array_intersect was 2.5x slower)
          val pa = posts.select($"doc_id".as("id_a"), $"n".as("n_a"), $"x")
          val pb = posts.select($"doc_id".as("id_b"), $"n".as("n_b"), $"x")
          cand
            .join(pa, Seq("id_a"))
            .join(pb, Seq("id_b", "x"))
            .groupBy($"id_a", $"id_b", $"n_a", $"n_b")
            .agg(count(lit(1)).as("inter"))
            .filter($"inter".cast("double") / ($"n_a" + $"n_b" - $"inter") >= 0.5)
            .select($"id_b".as("doc_id")).distinct()
        }
          .select($"doc_id", $"source", $"n_chars")
          .orderBy($"doc_id")
      },
      Some {
        import graft.functions.PortableHash.duckdbUhBase
        s"""WITH t AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(toks) >= 3
                       THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
                       ELSE [] END) AS grams
              FROM (SELECT doc_id,
                           [x for x in string_split_regex(lower(text), '\\s+') if x != ''] AS toks
                    FROM documents)),
            gmin AS (
              SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(lower(text))) AS mn
              FROM documents),
            el AS (
              SELECT g.doc_id, g.mn FROM gmin g JOIN t ON t.doc_id = g.doc_id
              WHERE len(t.grams) > 0),
            xb AS (
              SELECT t.doc_id, list_distinct([${duckdbUhBase("g")} for g in grams]) AS xs
              FROM t JOIN el ON el.doc_id = t.doc_id AND el.doc_id = el.mn),
            post AS (SELECT doc_id, len(xs) AS n, unnest(xs) AS x FROM xb),
            dfx AS (SELECT x, count(*) AS df FROM post GROUP BY x),
            pref AS (
              SELECT doc_id, n, x FROM (
                SELECT p.doc_id, p.x, p.n,
                       row_number() OVER (PARTITION BY p.doc_id
                         ORDER BY d.df ASC, p.x ASC) AS rk
                FROM post p JOIN dfx d USING (x))
              WHERE rk <= n // 2 + 1),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM pref a JOIN pref b ON a.x = b.x AND a.doc_id < b.doc_id
               AND a.n * 2 >= b.n AND b.n * 2 >= a.n),
            dominated AS (
              SELECT DISTINCT cand.id_b AS doc_id
              FROM cand
              JOIN xb xa ON xa.doc_id = cand.id_a
              JOIN xb yb ON yb.doc_id = cand.id_b
              WHERE CAST(len(list_intersect(xa.xs, yb.xs)) AS DOUBLE)
                    / len(list_distinct(xa.xs || yb.xs)) >= 0.5
              UNION
              SELECT doc_id FROM el WHERE doc_id != mn)
            SELECT doc_id, source, n_chars FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM dominated)
            ORDER BY doc_id"""
      }),
  )

  /** dd_cluster / dd_cluster_star — the registry tail. */
  private[ops] lazy val clusterQueries: Seq[QueryDef] = Seq(

    // Near-dup CLUSTERS: connected components over the verified
    // minhash pair graph, cluster id = minimum doc_id of the component
    // — the canonicalization step a training-data pipeline runs after
    // pairing (keep one doc per cluster, attribute the rest to it).
    // Components are computed on exact-content representatives only
    // (collapse proof as in dd_minhash_lsh: twins share every pair, so
    // a member's component is its rep's component); members of
    // eligible groups inherit the rep's cluster, gramless docs (never
    // pair) are singletons. The min-label loop is driver-CONTROLLED
    // but executor-run: one join+agg round per component-diameter hop
    // (see connectedMinLabels). The oracle replays the whole pipeline
    // — signatures, banding, verify, and the component fixpoint as a
    // recursive CTE (closure bounded by sum of component sizes
    // squared; components are near-dup cliques, so tiny).
    QueryDef(
      "dd_cluster",
      clusterQuery((v, e) => connectedMinLabels(v, e)),
      Some(clusterOracle)),

    // Same clusters via the star-contraction CC (the chain-robust
    // variant): labels are identical by construction — both converge
    // to component-minimum labels — so the ORACLE IS SHARED, and the
    // driver's hash-compare holds the two algorithms to bit-equality.
    QueryDef(
      "dd_cluster_star",
      clusterQuery((v, e) => connectedStarContraction(v, e)),
      Some(clusterOracle)),

    // Keep-best survivor policy: per near-dup cluster, the KEPT
    // document is the highest-QUALITY member (composite quality score,
    // ties to the lowest doc_id) — the curation policy a production
    // pipeline wants when duplicates differ in cleanliness (dd_cluster
    // keeps the lowest id; over EXACT-dup groups alone quality is
    // constant per group, so the policy only becomes distinct at the
    // near-dup cluster level, which is where it lives). One row per
    // cluster: keeper, member count, and the winning quality.
    //
    // Plan shape: the member frame is dd_cluster's (same CC pipeline),
    // quality is a second column-pruned (doc_id, text) scan, and the
    // argmax is ONE map-side-combined hash aggregate — min_by over the
    // (-quality, doc_id) struct, a total order since doc_id is unique,
    // so the result is deterministic and the oracle replays it with a
    // rank-1 window. No corpus-sized window, no extra shuffle beyond
    // the aggregate's.
    QueryDef(
      "dd_cluster_keepbest",
      (s, d) => {
        import s.implicits._
        val memb = clusterMembers((v, e) => connectedMinLabels(v, e))(s, d)
        val q = table(s, d, "documents")
          .withColumn("__toks", TextAnalysis.tokens($"text"))
          .select($"doc_id",
            TextAnalysis.qualityScoreOf($"text", $"__toks").as("quality"))
        memb.join(q, Seq("doc_id"))
          .groupBy($"cluster")
          .agg(
            min_by($"doc_id", struct((-$"quality").as("nq"), $"doc_id".as("i")))
              .as("keeper"),
            count(lit(1)).as("n_members"),
            max($"quality").as("best_quality"))
          .orderBy($"cluster")
      },
      Some(s"""$clusterMemberCtes,
        kbq AS (
          SELECT doc_id, ${TextAnalysis.duckdbQuality("text", "toks")} AS quality
          FROM (SELECT doc_id, text,
                       [x for x in string_split_regex(lower(text), '\\s+') if x != ''] AS toks
                FROM documents)),
        kbr AS (
          SELECT m.cluster, q.doc_id, q.quality,
                 row_number() OVER (PARTITION BY m.cluster
                   ORDER BY q.quality DESC, q.doc_id ASC) AS rk,
                 count(*) OVER (PARTITION BY m.cluster) AS n_members,
                 max(q.quality) OVER (PARTITION BY m.cluster) AS best_quality
          FROM cmemb m JOIN kbq q USING (doc_id))
        SELECT cluster, doc_id AS keeper, n_members, best_quality
        FROM kbr WHERE rk = 1 ORDER BY cluster"""))
  )
}
