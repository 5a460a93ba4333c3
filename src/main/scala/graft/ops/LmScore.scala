package graft.ops

import graft.QueryDef
import graft.model.Tables.table
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N-gram language-model perplexity scoring — the quality filter a
  * training corpus runs after the cheap heuristics (`t_quality_filter`):
  * train a bigram LM with add-one smoothing on the corpus, then score
  * every document by its mean per-token surprisal. High mean surprisal
  * = the document's word sequences are improbable under the corpus LM
  * (boilerplate soup, OCR noise, wrong language); CCNet-style pipelines
  * drop or down-weight the tail.
  *
  * Cross-engine exactness: a float `ln()` never appears. Each token's
  * probability under add-one smoothing is the exact rational
  * `n/d = (c(w1,w2)+1) / (c(w1)+V)`, and the surprisal is quantized to
  * INTEGER bits — `floor(log2(d/n))` — computed purely in integer
  * arithmetic: the candidate bit count is `bitlen(d) - bitlen(n)`
  * (binary-string lengths, minimal in both engines), corrected by one
  * exact shift-compare `(n << k0) <= d`. This is the same move real LM
  * filters make (KenLM stores 8-bit-quantized logprobs); whole bits are
  * a coarser grid, but the decision variable (mean bits/token) still
  * separates repetitive from improbable text, and the DuckDB oracle
  * replays it bit-for-bit — no tolerance, no transcendentals.
  *
  * Scale shape (100 TB): the tokenized corpus is leased once
  * ([[Checkpoints.lease]]) and fans out to three consumers (unigram
  * counts, bigram counts, the scoring explode) without re-reading the
  * source. Both count tables are map-side-combined hash aggregates;
  * scoring is one equi-join per table keyed on the n-gram — the bigram
  * model table grows with the corpus but the join stays a keyed shuffle
  * (never broadcast-forced), and the vocabulary-size scalar rides a
  * 1-row broadcast. A production deployment would additionally prune
  * the model (count >= minCount) — that is a strict filter on `cnt`
  * and changes nothing structural.
  */
object LmScore {
  import TextAnalysis.tokens

  /** (doc_id, w1, w2) — one row per adjacent token pair, in-document
    * order irrelevant (scoring sums a per-pair integer). Empty and
    * 1-token documents produce no rows (slice length clamps to 0). */
  private def bigramPairs(toksDf: DataFrame): DataFrame = {
    import toksDf.sparkSession.implicits._
    val m = greatest(size($"toks") - 1, lit(0))
    toksDf
      .select($"doc_id", explode(arrays_zip(
        slice($"toks", lit(1), m).as("w1"),
        slice($"toks", lit(2), m).as("w2"))).as("b"))
      .select($"doc_id", $"b.w1".as("w1"), $"b.w2".as("w2"))
  }

  /** Score `docs` under a bigram add-one LM trained on `docs` itself.
    * Output: (doc_id, n_bigrams, sum_bits, avg_bits) for every document
    * with at least one bigram; `avg_bits` is the single IEEE division
    * `sum_bits / n_bigrams` (both engines divide the same two integers,
    * so the double is identical). */
  def lmScore(docs: DataFrame, docId: Column, text: Column): DataFrame = {
    import docs.sparkSession.implicits._
    val toksL = Checkpoints.lease("lm_toks",
      docs.select(docId.as("doc_id"), tokens(text).as("toks")))
    val bg = bigramPairs(toksL)
    val uni = Checkpoints.lease("lm_uni",
      toksL.select(explode($"toks").as("w1"))
        .groupBy($"w1").agg(count(lit(1)).as("cw")))
    val vocab = uni.agg(count(lit(1)).as("vs"))
    val cnt = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
    bg.join(cnt, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("n", $"cb" + lit(1L))
      .withColumn("d", $"cw" + $"vs")
      .withColumn("k0", length(bin($"d")) - length(bin($"n")))
      .withColumn("bits",
        when(expr("shiftleft(n, k0)") <= $"d", $"k0").otherwise($"k0" - 1))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum($"bits").cast("long").as("sum_bits"))
      .withColumn("avg_bits", $"sum_bits".cast("double") / $"n_bigrams")
  }

  /** The leased raw-corpus model tables [[scoreAgainst]] scores
    * against — the tokenize pass and the unigram table materialize
    * eagerly here ([[Checkpoints.lease]]); the bigram count table is
    * cheap plan algebra over the leased tokens and rides the scoring
    * plan. Split out so a composition whose scored-side subtree is
    * INDEPENDENT of the model build can materialize both concurrently
    * (guide §2.6 — [[Pipeline.pipeCorpus]] overlaps this model build
    * with its gate-survivor lease; the sequential two-lease chain here
    * left the box idle during each). */
  private[graft] case class RawLmModel(rawToks: DataFrame, uni: DataFrame)

  private[graft] def rawLmModel(
      corpus: DataFrame, corpusText: Column): RawLmModel = {
    import corpus.sparkSession.implicits._
    val rawToks = Checkpoints.lease("lm_raw_toks",
      corpus.select(tokens(corpusText).as("toks")))
    val uni = Checkpoints.lease("lm_raw_uni",
      rawToks.select(explode($"toks").as("w1"))
        .groupBy($"w1").agg(count(lit(1)).as("cw")))
    RawLmModel(rawToks, uni)
  }

  /** Append `avg_bits` to every row of `scored` (which must carry a
    * `doc_id` column) under the bigram add-one LM `model` built by
    * [[rawLmModel]] — the BATCH (keyed-join) form of the gate
    * [[graft.streaming.LmServe.withLmScoreColumn]] applies with a
    * broadcast model: counts come from the RAW corpus, scoring runs
    * over the (possibly transformed) `scored` text, and OOV n-grams —
    * tokens the training side never saw, e.g. redaction-minted
    * markers — take `coalesce(c, 0)` via LEFT joins, exactly the
    * `getOrDefault(_, 0)` the broadcast scorer computes. Rows with
    * fewer than two tokens are dropped (inner join — no evidence;
    * the pipeline's length gate admits none).
    *
    * Scale shape: both count tables are map-side-combined hash
    * aggregates over the leased raw tokenize pass; scoring is keyed
    * equi-joins (model-table-sized, never broadcast-forced) plus the
    * 1-row vocab scalar on a broadcast cross join. */
  private[graft] def scoreAgainst(
      scored: DataFrame, text: Column, model: RawLmModel): DataFrame = {
    import scored.sparkSession.implicits._
    val rawToks = model.rawToks
    val uni = model.uni
    val vocab = uni.agg(count(lit(1)).as("vs"))
    val m = greatest(size($"toks") - 1, lit(0))
    val cnt = rawToks
      .select(explode(arrays_zip(
        slice($"toks", lit(1), m).as("w1"),
        slice($"toks", lit(2), m).as("w2"))).as("b"))
      .groupBy($"b.w1".as("w1"), $"b.w2".as("w2"))
      .agg(count(lit(1)).as("cb"))
    val lm = bigramPairs(scored.select($"doc_id", tokens(text).as("toks")))
      .join(cnt, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("n", coalesce($"cb", lit(0L)) + lit(1L))
      .withColumn("d", coalesce($"cw", lit(0L)) + $"vs")
      .withColumn("k0", length(bin($"d")) - length(bin($"n")))
      .withColumn("bits",
        when(expr("shiftleft(n, k0)") <= $"d", $"k0").otherwise($"k0" - 1))
      .groupBy($"doc_id")
      .agg((sum($"bits").cast("double") / count(lit(1))).as("avg_bits"))
    scored.join(lm, Seq("doc_id"))
  }

  /** DuckDB replay of [[scoreAgainst]] over [[rawLmModel]]: CTEs `{p}rt` (raw
    * tokens), `{p}uni`/`{p}v`/`{p}cnt` (the model), `{p}sbg`/`{p}sc`/
    * `{p}k` (scoring) and `{p}lm` = (doc_id, avg_bits). `scoredRel`
    * must expose (doc_id, text); `rawRel` is the training corpus
    * relation. Shared by the `pipe_corpus` and `w_corpus` oracles so
    * both compositions replay the SAME gate. */
  private[graft] def lmAgainstCtes(
      p: String, scoredRel: String, rawRel: String): String = {
    val toksExpr =
      """[x for x in string_split_regex(lower(text), '\s+') if x != '']"""
    s"""${p}rt AS (SELECT $toksExpr AS toks FROM $rawRel),
        ${p}uni AS (
          SELECT w1, count(*) AS cw
          FROM (SELECT unnest(toks) AS w1 FROM ${p}rt) GROUP BY w1),
        ${p}v AS (SELECT count(*) AS vs FROM ${p}uni),
        ${p}cnt AS (
          SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS cb
          FROM (SELECT unnest([{'w1': toks[i], 'w2': toks[i+1]}
                              for i in range(1, len(toks))]) AS b FROM ${p}rt)
          GROUP BY 1, 2),
        ${p}sbg AS (
          SELECT doc_id, b.w1 AS w1, b.w2 AS w2
          FROM (SELECT doc_id,
                       unnest([{'w1': toks[i], 'w2': toks[i+1]}
                               for i in range(1, len(toks))]) AS b
                FROM (SELECT doc_id, $toksExpr AS toks FROM $scoredRel))),
        ${p}sc AS (
          SELECT s.doc_id,
                 CAST(coalesce(c.cb, 0) + 1 AS BIGINT) AS n,
                 CAST(coalesce(u.cw, 0) + ${p}v.vs AS BIGINT) AS d
          FROM ${p}sbg s LEFT JOIN ${p}cnt c USING (w1, w2)
                         LEFT JOIN ${p}uni u USING (w1)
                         CROSS JOIN ${p}v),
        ${p}k AS (
          SELECT doc_id,
                 CASE WHEN (n << (length(bin(d)) - length(bin(n)))) <= d
                      THEN length(bin(d)) - length(bin(n))
                      ELSE length(bin(d)) - length(bin(n)) - 1 END AS bits
          FROM ${p}sc),
        ${p}lm AS (
          SELECT doc_id, CAST(sum(bits) AS DOUBLE) / count(*) AS avg_bits
          FROM ${p}k GROUP BY doc_id)"""
  }

  /** EXCESS-surprisal data selection — the document-level form of
    * RHO-style excess-loss selection (Lin et al. 2024, "Rho-1: Not All
    * Tokens Are What You Need", arXiv:2404.07965; PAPERS.md): score
    * every document under TWO bigram add-one LMs — the raw-pool model
    * and a reference model trained on the target slice — and select
    * the top `topFrac` by `excess = pool bits − reference bits`
    * (desc, doc_id tie-break): the documents the reference model
    * explains most strongly RELATIVE to the pool model. This is the
    * sequence-LM sibling of [[Dsir]] (which ratios bag-of-feature
    * counts); both engines replay the integer-bit surprisals
    * bit-for-bit, and the excess is one IEEE subtraction of two exact
    * divisions.
    *
    * Scale shape: ONE tokenize pass leased and fanned out (the
    * [[Dsir]] move — two [[rawLmModel]] builds would lease the
    * corpus twice and break the lease-lifetime contract); both models
    * come from the SAME count tables (pool count + target-slice count
    * per n-gram, map-side combined), scoring is one equi-join per
    * table, and the top-fraction rank is
    * [[Selection.topFracByOrder]]'s bucketed two-phase plan — excess
    * lives in (−64, 64) bits, so the 1/64-quantized bucket table holds
    * ≤ ~8k rows no matter the corpus. */
  def excessLmSelect(
      docs: DataFrame, docId: Column, text: Column, isTarget: Column,
      topFrac: Double = 0.25): DataFrame = {
    import docs.sparkSession.implicits._
    val toksL = Checkpoints.lease("xlm_toks",
      docs.select(docId.as("doc_id"), isTarget.as("is_target"),
        tokens(text).as("toks")))
    val bg = bigramPairs(toksL)
    val uni = Checkpoints.lease("xlm_uni",
      toksL.select($"is_target", explode($"toks").as("w1"))
        .groupBy($"w1").agg(
          count(lit(1)).as("cwp"),
          sum(when($"is_target", 1L).otherwise(0L)).as("cwt")))
    val vocab = uni.agg(
      count(lit(1)).as("vsp"),
      sum(when($"cwt" > 0L, 1L).otherwise(0L)).as("vst"))
    val m = greatest(size($"toks") - 1, lit(0))
    val cnt = toksL
      .select($"is_target", explode(arrays_zip(
        slice($"toks", lit(1), m).as("w1"),
        slice($"toks", lit(2), m).as("w2"))).as("b"))
      .groupBy($"b.w1".as("w1"), $"b.w2".as("w2"))
      .agg(count(lit(1)).as("cbp"),
        sum(when($"is_target", 1L).otherwise(0L)).as("cbt"))
    def bits(n: Column, d: Column): Column = {
      val k0 = length(bin(d)) - length(bin(n))
      when(call_function("shiftleft", n, k0) <= d, k0)
        .otherwise(k0 - 1).cast("long")
    }
    val perDoc = bg
      .join(cnt, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("bits_p", bits($"cbp" + 1L, $"cwp" + $"vsp"))
      .withColumn("bits_t", bits($"cbt" + 1L, $"cwt" + $"vst"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum($"bits_p").cast("long").as("__sp"),
        sum($"bits_t").cast("long").as("__st"))
      .withColumn("pool_bits", $"__sp".cast("double") / $"n_bigrams")
      .withColumn("target_bits", $"__st".cast("double") / $"n_bigrams")
      .withColumn("excess_bits", $"pool_bits" - $"target_bits")
      .select($"doc_id", $"n_bigrams", $"pool_bits", $"target_bits",
        $"excess_bits")
    Selection.topFracByOrder(perDoc,
      floor(-$"excess_bits" * lit(64.0)),
      Seq($"excess_bits".desc, $"doc_id".asc), topFrac, "selected")
  }

  /** Shared oracle CTE chain for the excess family: tokenize with the
    * target flag, shared pool+target count tables, both integer-bit
    * surprisals, per-doc sums — everything up to `perdoc`, shared
    * verbatim by t_select_excess (which adds the selection window) and
    * the online twin `w_select_excess` (which restricts to the served
    * arrivals). */
  private[graft] lazy val excessPerDocCtes: String = """t AS (
                SELECT doc_id, lang = 'en' AS is_target,
                       [x for x in string_split_regex(lower(text), '\s+') if x != ''] AS toks
                FROM documents),
              uni AS (
                SELECT w1, count(*) AS cwp,
                       CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS cwt
                FROM (SELECT is_target, unnest(toks) AS w1 FROM t) GROUP BY w1),
              v AS (
                SELECT count(*) AS vsp,
                       CAST(sum(CASE WHEN cwt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vst
                FROM uni),
              bg AS (
                SELECT doc_id, is_target, b.w1 AS w1, b.w2 AS w2
                FROM (SELECT doc_id, is_target,
                             unnest([{'w1': toks[i], 'w2': toks[i+1]}
                                     for i in range(1, len(toks))]) AS b
                      FROM t)),
              cnt AS (
                SELECT w1, w2, count(*) AS cbp,
                       CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS cbt
                FROM bg GROUP BY w1, w2),
              sc AS (
                SELECT bg.doc_id,
                       CAST(cnt.cbp + 1 AS BIGINT) AS np,
                       CAST(uni.cwp + v.vsp AS BIGINT) AS dp,
                       CAST(cnt.cbt + 1 AS BIGINT) AS nt,
                       CAST(uni.cwt + v.vst AS BIGINT) AS dt
                FROM bg JOIN cnt USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v),
              k AS (
                SELECT doc_id,
                       CASE WHEN (np << (length(bin(dp)) - length(bin(np)))) <= dp
                            THEN length(bin(dp)) - length(bin(np))
                            ELSE length(bin(dp)) - length(bin(np)) - 1 END AS bits_p,
                       CASE WHEN (nt << (length(bin(dt)) - length(bin(nt)))) <= dt
                            THEN length(bin(dt)) - length(bin(nt))
                            ELSE length(bin(dt)) - length(bin(nt)) - 1 END AS bits_t
                FROM sc),
              perdoc AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                       CAST(sum(bits_p) AS DOUBLE) / count(*) AS pool_bits,
                       CAST(sum(bits_t) AS DOUBLE) / count(*) AS target_bits,
                       CAST(sum(bits_p) AS DOUBLE) / count(*)
                         - CAST(sum(bits_t) AS DOUBLE) / count(*) AS excess_bits
                FROM k GROUP BY doc_id)"""

  val queries: Seq[QueryDef] = Seq(

    // RHO-style excess-surprisal selection (see excessLmSelect):
    // target = the en slice, top 25% by pool-minus-target bits. The
    // oracle replays both integer-bit models from the same counts and
    // the selection window bit-for-bit.
    QueryDef(
      "t_select_excess",
      (s, d) => {
        import s.implicits._
        excessLmSelect(table(s, d, "documents"), $"doc_id", $"text",
          $"lang" === "en")
          .orderBy($"doc_id")
      },
      Some(s"""WITH $excessPerDocCtes,
              ranked AS (
                SELECT *, row_number() OVER
                         (ORDER BY excess_bits DESC, doc_id ASC) AS rn,
                       count(*) OVER () AS n_docs
                FROM perdoc)
              SELECT doc_id, n_bigrams, pool_bits, target_bits, excess_bits,
                     rn <= ceil(n_docs * 0.25) AS selected
              FROM ranked ORDER BY doc_id""")),

    QueryDef(
      "t_lm_score",
      (s, d) => {
        import s.implicits._
        lmScore(table(s, d, "documents"), $"doc_id", $"text")
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
                SELECT doc_id,
                       [x for x in string_split_regex(lower(text), '\s+') if x != ''] AS toks
                FROM documents),
              uni AS (
                SELECT w1, count(*) AS cw
                FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY w1),
              v AS (SELECT count(*) AS vs FROM uni),
              bg AS (
                SELECT doc_id, b.w1 AS w1, b.w2 AS w2
                FROM (SELECT doc_id,
                             unnest([{'w1': toks[i], 'w2': toks[i+1]}
                                     for i in range(1, len(toks))]) AS b
                      FROM t)),
              cnt AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
              sc AS (
                SELECT bg.doc_id,
                       CAST(cnt.cb + 1 AS BIGINT) AS n,
                       CAST(uni.cw + v.vs AS BIGINT) AS d
                FROM bg JOIN cnt USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v),
              k AS (
                SELECT doc_id,
                       CASE WHEN (n << (length(bin(d)) - length(bin(n)))) <= d
                            THEN length(bin(d)) - length(bin(n))
                            ELSE length(bin(d)) - length(bin(n)) - 1 END AS bits
                FROM sc)
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                     CAST(sum(bits) AS BIGINT) AS sum_bits,
                     CAST(sum(bits) AS DOUBLE) / count(*) AS avg_bits
              FROM k GROUP BY doc_id ORDER BY doc_id"""))
  )
}
