package graft.ops

import graft.QueryDef
import graft.model.Tables.table
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: tokenization, token counting (whitespace and a
  * BPE-ish regex), punctuation/stopword quality signals, a composite
  * quality score, n-gram-heuristic language ID, and document
  * fingerprinting (content hash + min-hash-of-shingles).
  *
  * Everything is pure `functions._` column algebra — no UDFs — so the
  * whole module rides whole-stage codegen and scales linearly with
  * partition count; per-document work is independent (no shuffle at
  * all until an aggregation is requested).
  */
object TextAnalysis {

  /** Whitespace tokens, lowercased, empties dropped (split of trailing
    * whitespace yields empty strings in both Spark and DuckDB). Fused
    * native expression — the `filter(split(lower(...)))` HOF form is
    * CodegenFallback and was re-evaluated interpreted at every token
    * fan-out; the fused pass is bit-identical (DedupSpec). */
  def tokens(text: Column): Column =
    graft.functions.TextShingles.wordTokens(text)

  /** The HOF form [[tokens]] replaced, kept as the equivalence-spec
    * reference. */
  def tokensHof(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= lit(""))

  /** BPE-ish token count: letter runs, single digits, or single
    * non-alphanumeric glyphs — a cheap stand-in for subword counts. */
  def bpeishCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"))

  /** Fraction of characters that are sentence punctuation. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[.,!?;:]", "")))
      .cast("double") / length(text)

  private[graft] val stopwords: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "den", "mit", "auf", "ein"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "se", "del", "las"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "il"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不", "这", "他"))

  /** Occurrence count of tokens from `words` (not distinct-presence).
    * Fused native expression — the `size(filter(isin))` HOF form is
    * CodegenFallback and ran interpreted once per (row, language);
    * kept as [[stopwordHitsHof]] for the equivalence spec. */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    graft.functions.TextShingles.tokenSetHits(toks, words)

  /** The HOF form [[stopwordHits]] replaced (equivalence reference). */
  def stopwordHitsHof(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  /** Stopword ratio for one language's list. */
  def stopwordRatio(toks: Column, lang: String): Column =
    stopwordHits(toks, stopwords(lang)).cast("double") /
      greatest(size(toks), lit(1)).cast("double")

  /** Composite quality score in [0,1] over an ALREADY-BOUND token
    * array (bind via withColumn — a raw `tokens(text)` argument would
    * be re-evaluated at each of its references in this tree): length
    * saturation, low punctuation, English stopword density. */
  def qualityScoreOf(text: Column, toks: Column): Column =
    least(size(toks).cast("double") / lit(100.0), lit(1.0)) * lit(0.4) +
      (lit(1.0) - punctRatio(text)) * lit(0.3) +
      least(stopwordRatio(toks, "en") * lit(4.0), lit(1.0)) * lit(0.3)

  /** DuckDB twin of [[qualityScoreOf]] for oracle builders: `text` /
    * `toks` are SQL expressions for the raw text and its whitespace
    * token list. The double is bit-identical cross-engine (pinned by
    * the t_pack_curriculum oracle, which ORDERS the corpus by it and
    * hash-compares the resulting running sums). */
  def duckdbQuality(text: String, toks: String): String =
    s"""least(CAST(len($toks) AS DOUBLE) / 100.0, 1.0) * 0.4
                         + (1.0 - CAST(length($text) - length(regexp_replace($text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length($text)) * 0.3
                         + least(CAST(len([x for x in $toks if list_contains(['the','and','of','to','in','is','that','it','was','for'], x)]) AS DOUBLE)
                                 / CAST(greatest(len($toks), 1) AS DOUBLE) * 4.0, 1.0) * 0.3"""

  /** Stopword-overlap language ID over the five reference languages;
    * ties break alphabetically, zero evidence => "und". Adds `out` to
    * `df` with the tokenizer and each language score bound to real
    * columns first: the winner-selection tree references every score
    * ~7 times (greatest + the when-chain), so unbound score
    * expressions would re-run the tokenizer dozens of times per row. */
  def withLangId(df: org.apache.spark.sql.DataFrame, text: Column, out: String): org.apache.spark.sql.DataFrame = {
    val tk = s"__toks_$out"
    val langs = stopwords.keys.toSeq.sorted // alphabetical tie-break
    val scored = langs.foldLeft(df.withColumn(tk, tokens(text))) { (d, l) =>
      d.withColumn(s"__s_$l", stopwordHits(col(tk), stopwords(l)))
    }
    val best = greatest(langs.map(l => col(s"__s_$l")): _*)
    scored
      .withColumn(out,
        langs.foldRight(lit("und")) { (l, acc) =>
          when(col(s"__s_$l") === best && best > 0, lit(l)).otherwise(acc)
        })
      .drop(tk +: langs.map(l => s"__s_$l"): _*)
  }

  /** Rolling-hash document fingerprint over an ALREADY-BOUND lowercased
    * text column: the minimum scrambled poly-31 rolling hash over all
    * 8-char shingles (a 1-hash winnowing sketch — see
    * [[graft.functions.ShingleMinRoll]]); null for texts shorter than
    * the shingle. A handful of integer ops per character position, vs
    * the full MD5 per position the first implementation paid. */
  def shingleFingerprintOf(t: Column, k: Int = 8): Column =
    graft.functions.Fingerprint.shingleMinRoll(t, k)

  /** Global token offsets + fixed-budget shard assignment — the
    * "where does each document land in the training shards" step a
    * pipeline runs after filtering/dedup: every document gets its
    * starting offset in the doc_id-ordered token stream, and
    * `shard = floor(offset / budget)` names the shard whose token
    * budget it starts in.
    *
    * The naive plan is one GLOBAL window (`Window.orderBy(id)` with no
    * partitioning) — a single-partition sort that serializes the whole
    * corpus through one task. This is instead the classic two-phase
    * prefix sum, bucketed on the key:
    *
    *  - phase 1: per id-bucket token totals (one hash aggregate), then
    *    the running offset of each BUCKET via a window over the bucket
    *    table — the only globally-ordered structure in the plan, and
    *    it is BOUNDED: the bucket count is min(distinct ids,
    *    idRange / bucketWidth), so size bucketWidth from the ID RANGE,
    *    not the row count — a sparse id space (e.g. post-dedup
    *    survivors keeping 1 in 10 ids) with bucketWidth 1 would give
    *    every doc its own bucket and quietly recreate the global
    *    single-partition window this decomposition exists to avoid;
    *  - phase 2: per-bucket LOCAL prefix sums — a window partitioned
    *    by bucket, parallel across buckets — plus the broadcast bucket
    *    offsets, summed per row.
    *
    * Tokenization runs twice (both phases scan the corpus,
    * column-pruned); a 100 TB pipeline materializes the tiny
    * (id, n_tokens) projection first and feeds it here. Offsets are
    * exact longs; the budget division goes through double (exact to
    * 2^53 — beyond any real token count). */
  def packShards(
      docs: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      budget: Long, bucketWidth: Long,
      tok: Column => Column = tokens): org.apache.spark.sql.DataFrame =
    packShardsByCount(
      docs.select(id.as("doc_id"), size(tok(text)).cast("long").as("n_tokens")),
      budget, bucketWidth)

  /** [[packShards]] over an ALREADY-COUNTED `(doc_id, n_tokens)`
    * relation — the form pipeline compositions feed (their token
    * counts come out of earlier stages). Same bucketed two-phase
    * prefix sum; the single-partition exchange only ever sees
    * rows / bucketWidth bucket totals. */
  def packShardsByCount(
      counts: org.apache.spark.sql.DataFrame,
      budget: Long, bucketWidth: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = counts
      .withColumn("__bucket", floor(col("doc_id") / lit(bucketWidth)))
    // bounded-global-window: runs over the per-bucket totals table
    // (min(distinct ids, idRange / bucketWidth) rows), never the corpus
    val wB = Window.orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = toks.groupBy(col("__bucket"))
      .agg(sum(col("n_tokens")).as("__btotal"))
      .withColumn("__boff", coalesce(sum(col("__btotal")).over(wB), lit(0L)))
    val wL = Window.partitionBy(col("__bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .join(broadcast(offsets.select(col("__bucket"), col("__boff"))), Seq("__bucket"))
      .withColumn("token_offset",
        col("__boff") + coalesce(sum(col("n_tokens")).over(wL), lit(0L)))
      .withColumn("shard",
        floor(col("token_offset").cast("double") / lit(budget.toDouble)).cast("long"))
      .drop("__bucket", "__boff") // carry any extra input columns through
  }

  /** [[packShardsByCount]] in deterministic SHUFFLED order — the
    * shuffle-before-pack every training run needs: documents are laid
    * out by the portable 60-bit hash of their id (total order
    * `(h, doc_id)` — the id tie-break makes a hash collision
    * deterministic instead of partitioning-dependent), so the
    * training-order permutation is reproducible on any cluster and in
    * the oracle, with no RNG state to ship. Same bucketed two-phase
    * prefix sum as [[packShardsByCount]], except the bucket is the
    * hash's HIGH BITS (`h >> bucketShift`): the hash is uniform, so
    * buckets are balanced by construction — unlike the id-bucket
    * variant there is no sparse-id-space trap, and the single
    * bounded global structure sees at most `2^(60 - bucketShift)`
    * bucket totals (size the shift from the corpus count; a 100 TB
    * corpus at shift 40 gives ~2^20 totals, still one executor's
    * work). */
  def packShardsShuffled(
      docs: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      budget: Long, bucketShift: Int,
      tok: Column => Column = tokens): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs.select(id.as("doc_id"),
        size(tok(text)).cast("long").as("n_tokens"))
      .withColumn("__h",
        graft.functions.PortableHash.md5Hash60(col("doc_id").cast("string")))
      .withColumn("__bucket", expr(s"shiftright(__h, $bucketShift)"))
    // bounded-global-window: runs over the per-bucket totals table
    // (at most 2^(60 - bucketShift) rows), never the corpus
    val wB = Window.orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts.groupBy(col("__bucket"))
      .agg(sum(col("n_tokens")).as("__btotal"))
      .withColumn("__boff", coalesce(sum(col("__btotal")).over(wB), lit(0L)))
    val wL = Window.partitionBy(col("__bucket"))
      .orderBy(col("__h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    counts
      .join(broadcast(offsets.select(col("__bucket"), col("__boff"))), Seq("__bucket"))
      .withColumn("token_offset",
        col("__boff") + coalesce(sum(col("n_tokens")).over(wL), lit(0L)))
      .withColumn("shard",
        floor(col("token_offset").cast("double") / lit(budget.toDouble)).cast("long"))
      .drop("__bucket", "__boff", "__h")
  }

  /** CURRICULUM-ordered shard packing — the training-order composition
    * of the quality family with the packing family: documents are laid
    * out highest-[[qualityScoreOf]] first (clean-first curriculum; the
    * common LLM-pretraining schedule that front-loads the cleanest
    * data), doc_id tie-break, and each gets its global token offset
    * and fixed-budget shard IN THAT ORDER. The corpus-wide running sum
    * over a VALUE order (not the id order [[packShardsByCount]]
    * buckets by, nor [[packShardsShuffled]]'s uniform hash) is exactly
    * [[Selection.withRunningTotals]]'s job: the bucket is the quality
    * score quantized to 1/1024 (monotone in the descending order,
    * ≤ 1025 buckets no matter the corpus — score lives in [0,1]), so
    * the only global structure is the bounded bucket-totals window and
    * the per-bucket offset sums run parallel. The oracle replays the
    * layout with one global window — the bucketed decomposition must
    * equal it exactly, which also holds the quality doubles to
    * cross-engine bit-equality through an ORDER, not just a filter. */
  def packShardsCurriculum(
      docs: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      budget: Long): org.apache.spark.sql.DataFrame =
    Selection.withRunningTotals(
      docs.withColumn("__toks", tokens(text))
        .select(id.as("doc_id"),
          size(col("__toks")).cast("long").as("n_tokens"),
          qualityScoreOf(text, col("__toks")).as("quality")),
      floor(-col("quality") * lit(1024.0)),
      Seq(col("quality").desc, col("doc_id").asc),
      col("n_tokens"), "token_offset", "__ct_total")
      .withColumn("shard",
        floor(col("token_offset").cast("double") / lit(budget.toDouble)).cast("long"))
      .drop("__ct_total")

  /** The fixed t_bm25 query: five mid-frequency corpus terms, so tf,
    * df and n_hit all vary across documents. */
  private[graft] val bm25Terms: Seq[String] =
    Seq("spark", "query", "vector", "merge", "window")

  /** BM25 relevance of every document against a FIXED query-term set —
    * the "score the corpus against a topic / filter by relevance" step
    * a targeted-crawl or domain-upsampling pipeline runs. Uses the
    * RATIONAL idf `(N - df + 0.5) / (df + 0.5)` instead of its
    * logarithm: `ln` is not correctly-rounded in IEEE 754, so
    * Java's `Math.log` and a C libm may differ in the last bit and
    * break the cross-engine hash-compare; the rational form keeps the
    * score a composition of exactly-rounded ops (+, -, *, /) that is
    * bit-identical on any engine, at the cost of steeper (monotone
    * per-term) idf weighting — documented as a variant, not classic
    * BM25. All other constants are decimal literals on both sides
    * (never runtime-computed), so both engines parse identical bits.
    *
    * Scale shape: NO explode and no per-term join — each term's tf is
    * one fused in-row counter ([[stopwordHits]]) over the token array,
    * so the per-document stage is a single column-pruned map pass.
    * The only global structure is a ONE-ROW aggregate (N, Σdl, per-term
    * df) cross-joined back by broadcast; Σdl is an exact BIGINT sum
    * (order-independent), divided once — no non-deterministic double
    * accumulation anywhere. At 100 TB the corpus streams twice over
    * the narrow (id, dl, tf…) projection; a production run would
    * materialize that tiny projection first, as t_pack documents. */
  def bm25Scores(
      docs: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    val perDoc = docs
      .withColumn("__toks", tokens(text))
      .select(
        id.as("doc_id") +:
          size(col("__toks")).cast("long").as("dl") +:
          terms.indices.map(i =>
            stopwordHits(col("__toks"), Seq(terms(i))).cast("long").as(s"__tf_$i")): _*)
    val stats = perDoc.agg(
      count(lit(1)).as("__n"),
      sum(col("dl")).as("__sl") +:
        terms.indices.map(i =>
          sum(when(col(s"__tf_$i") > 0, 1L).otherwise(0L)).as(s"__df_$i")): _*)
    // k1 = 1.2, b = 0.75; 2.2 = k1+1 and 0.25 = 1-b are spelled as
    // literals so both engines decimal->binary round identically.
    val avgdl = col("__sl").cast("double") / col("__n").cast("double")
    val score = terms.indices.map { i =>
      val tf = col(s"__tf_$i").cast("double")
      val df = col(s"__df_$i").cast("double")
      ((col("__n").cast("double") - df + lit(0.5)) / (df + lit(0.5))) *
        (tf * lit(2.2) /
          (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / avgdl)))
    }.reduce(_ + _)
    val nHit = terms.indices.map(i =>
      when(col(s"__tf_$i") > 0, 1).otherwise(0)).reduce(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .withColumn("score", score)
      .withColumn("n_hit", nHit)
      .select(col("doc_id"), col("dl").as("n_tokens"), col("n_hit"), col("score"))
  }

  /** The t_bm25 oracle: the same fixed terms, same rational-idf score,
    * same literal constants, arithmetic parenthesized to the identical
    * IEEE evaluation order as [[bm25Scores]]. */
  private[graft] def bm25OracleSql(terms: Seq[String]): String = {
    val tfCols = terms.indices.map(i =>
      s"CAST(len([x for x in toks if x = '${terms(i)}']) AS BIGINT) AS tf_$i")
      .mkString(",\n                       ")
    val dfCols = terms.indices.map(i =>
      s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i")
      .mkString(", ")
    val scoreExpr = terms.indices.map { i =>
      s"""((CAST(n AS DOUBLE) - CAST(df_$i AS DOUBLE) + 0.5) / (CAST(df_$i AS DOUBLE) + 0.5))
           * (CAST(tf_$i AS DOUBLE) * 2.2
              / (CAST(tf_$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sl AS DOUBLE) / CAST(n AS DOUBLE)))))"""
    }.mkString("\n           + ")
    val hitExpr = terms.indices.map(i =>
      s"CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH t AS (SELECT doc_id,
                          [x for x in string_split_regex(lower(text), '\\s+') if x != ''] AS toks
                   FROM documents),
            p AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
                       $tfCols
                  FROM t),
            s AS (SELECT count(*) AS n, sum(dl) AS sl, $dfCols FROM p)
        SELECT doc_id, dl AS n_tokens, $hitExpr AS n_hit,
           $scoreExpr AS score
        FROM p, s
        ORDER BY score DESC, doc_id LIMIT 100"""
  }

  /** Within-document repetition signals (the Gopher-style repetition
    * filter): appends per-document duplicated token / bigram / trigram
    * fractions and the keep decision a pipeline derives from them
    * (`kept` = 1 iff dup_token_ratio <= 0.6, dup_bigram_ratio <= 0.1,
    * dup_trigram_ratio <= 0.02). All three ratios fall out of ONE
    * already-fused primitive: wordShingles(text, n) is the DISTINCT
    * n-gram set (first-occurrence order), so
    * dup ratio = (total - distinct) / total with
    * total = max(n_tokens - n + 1, 0) — no explode, no groupBy, no new
    * expression; per-document column algebra that rides whole-stage
    * codegen and needs no shuffle at all. Texts shorter than n tokens
    * have 0 total n-grams and report ratio 0. */
  def withRepetitionStats(df: org.apache.spark.sql.DataFrame, text: Column): org.apache.spark.sql.DataFrame = {
    def ratio(total: Column, distinct: Column): Column =
      (total - distinct).cast("double") /
        greatest(total, lit(1)).cast("double")
    val sh = graft.functions.TextShingles.wordShingles(_: Column, _: Int)
    df.withColumn("n_tokens", size(tokens(text)).cast("long"))
      .withColumn("dup_token_ratio",
        ratio(col("n_tokens"), size(sh(text, 1))))
      .withColumn("dup_bigram_ratio",
        ratio(greatest(col("n_tokens") - 1, lit(0L)), size(sh(text, 2))))
      .withColumn("dup_trigram_ratio",
        ratio(greatest(col("n_tokens") - 2, lit(0L)), size(sh(text, 3))))
      .withColumn("kept",
        (col("dup_token_ratio") <= 0.6 && col("dup_bigram_ratio") <= 0.1 &&
          col("dup_trigram_ratio") <= 0.02).cast("int"))
  }

  /** Fixed-width token-window chunking with stride — the "split long
    * documents into training windows" step that feeds context-length-
    * bounded tokenization (width tokens per chunk, stride < width
    * gives the overlap that keeps spans crossing a boundary learnable).
    * One chunk row per (doc, start) with the token offset, actual
    * chunk length (the tail chunk is short), and an md5 of the
    * space-rejoined chunk text pinning the exact token content.
    *
    * Scale shape: pure per-row fan-out (sequence + posexplode of
    * ~n/stride starts per doc) — no shuffle, no state; chunk text is
    * re-sliced from the one bound token array, so the tokenizer runs
    * once per document, not once per chunk. Empty documents emit one
    * empty chunk (start 0, length 0) rather than vanishing — a
    * pipeline that drops empties does so in its quality gate, not
    * silently here. */
  def chunkWindows(
      docs: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      width: Int, stride: Int,
      tok: Column => Column = tokens): org.apache.spark.sql.DataFrame = {
    require(stride >= 1 && width >= stride,
      s"need 1 <= stride <= width, got width=$width stride=$stride")
    docs
      .select(id.as("doc_id"), tok(text).as("__toks"))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("__toks"),
        posexplode(sequence(lit(0L),
          greatest(col("n_tokens") - 1L, lit(0L)), lit(stride.toLong)))
          .as(Seq("chunk_idx", "chunk_start")))
      .select(col("doc_id"), col("n_tokens"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_start"),
        least(lit(width.toLong), col("n_tokens") - col("chunk_start"))
          .as("n_chunk_tokens"),
        md5(array_join(
          slice(col("__toks"), (col("chunk_start") + 1L).cast("int"), lit(width)), " "))
          .as("chunk_md5"))
  }

  /** Temperature-flattened domain mixture sampling (the multilingual /
    * multi-source rebalancing step: sample group g with probability
    * ∝ n_g^τ instead of n_g, so dominant groups are downweighted —
    * τ = 1/2 here, computed as `p = min(1, k / sqrt(n_g))` so the
    * whole per-group rate is a composition of exactly-rounded double
    * ops (sqrt and divide are IEEE-exact; a general pow is not) and
    * the oracle replays it bit-identically. Membership is decided by
    * the portable 60-bit hash of the doc id against
    * `floor(p * 10^6)` — the same engine-independent,
    * partitioning-invariant membership rule as t_sample_stratified.
    * Returns per-group totals, the applied rate, kept counts, and the
    * kept-id checksum that pins the exact membership set.
    *
    * Scale shape: two passes — a tiny per-group count aggregate
    * (broadcast back: group count = languages/domains, never rows)
    * and one map-side filter + partial-agg rollup. No row-level
    * global structure at all. */
  def mixtureSample(
      docs: org.apache.spark.sql.DataFrame, id: Column, group: Column,
      k: Double): org.apache.spark.sql.DataFrame = {
    val counts = docs.groupBy(group.as("grp"))
      .agg(count(lit(1)).as("n_total"))
      .withColumn("p_keep",
        least(lit(1.0), lit(k) / sqrt(col("n_total").cast("double"))))
      .withColumn("__thr", floor(col("p_keep") * lit(1000000.0)).cast("long"))
    docs.select(group.as("grp"), id.as("doc_id"))
      .join(broadcast(counts), Seq("grp"))
      .withColumn("__keep",
        graft.functions.PortableHash.md5Hash60(col("doc_id").cast("string"))
          % 1000000L < col("__thr"))
      .groupBy(col("grp"), col("n_total"), col("p_keep"))
      .agg(
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__keep"), col("doc_id")).otherwise(0L)).as("kept_id_sum"))
  }

  val queries: Seq[QueryDef] = Seq(

    // Token-window chunking (width 32, stride 24): every document cut
    // into overlapping training windows, chunk content pinned by md5.
    QueryDef(
      "t_chunk",
      (s, d) => {
        import s.implicits._
        chunkWindows(table(s, d, "documents"), $"doc_id", $"text",
            width = 32, stride = 24)
          .orderBy($"doc_id", $"chunk_idx")
      },
      Some("""WITH t AS (
                SELECT doc_id,
                       [x for x in string_split_regex(lower(text), '\s+') if x != ''] AS toks
                FROM documents),
              c AS (
                SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                       unnest(range(0, greatest(len(toks), 1), 24)) AS chunk_start,
                       toks
                FROM t)
              SELECT doc_id, n_tokens,
                     CAST(chunk_start / 24 AS BIGINT) AS chunk_idx,
                     CAST(chunk_start AS BIGINT) AS chunk_start,
                     CAST(least(32, n_tokens - chunk_start) AS BIGINT) AS n_chunk_tokens,
                     md5(array_to_string(toks[chunk_start+1:chunk_start+32], ' ')) AS chunk_md5
              FROM c ORDER BY doc_id, chunk_idx""")),

    // Temperature-flattened language mixture (tau = 1/2, k = 8): the
    // dominant language (en, ~43% of the corpus) is downsampled ~2x
    // harder than the tail languages; kept_id_sum pins the exact
    // hash-derived membership set in the compare.
    QueryDef(
      "t_mix_sample",
      (s, d) => {
        import s.implicits._
        mixtureSample(table(s, d, "documents"), $"doc_id", $"lang", k = 8.0)
          .withColumnRenamed("grp", "lang")
          .orderBy($"lang")
      },
      Some("""WITH n AS (
                SELECT lang, count(*) AS n_total FROM documents GROUP BY lang),
              p AS (
                SELECT lang, n_total,
                       least(1.0, 8.0 / sqrt(CAST(n_total AS DOUBLE))) AS p_keep,
                       CAST(floor(least(1.0, 8.0 / sqrt(CAST(n_total AS DOUBLE))) * 1000000.0) AS BIGINT) AS thr
                FROM n)
              SELECT d.lang, p.n_total, p.p_keep,
                     CAST(sum(CASE WHEN (('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000) < p.thr
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                     CAST(sum(CASE WHEN (('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000) < p.thr
                              THEN d.doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
              FROM documents d JOIN p USING (lang)
              GROUP BY d.lang, p.n_total, p.p_keep ORDER BY d.lang""")),

    // Training-shard packing: global token offset per document and the
    // fixed-budget shard it starts in — distributed as a bucketed
    // two-phase prefix sum (see packShards), never a global
    // single-partition window.
    QueryDef(
      "t_pack",
      (s, d) => {
        import s.implicits._
        packShards(table(s, d, "documents"), $"doc_id", $"text",
            budget = 5000L, bucketWidth = 100L)
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
                SELECT doc_id,
                       CAST(len([x for x in string_split_regex(lower(text), '\s+') if x != '']) AS BIGINT) AS n_tokens
                FROM documents),
              o AS (
                SELECT doc_id, n_tokens,
                       CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset
                FROM t)
              SELECT doc_id, n_tokens, token_offset,
                     CAST(floor(CAST(token_offset AS DOUBLE) / 5000.0) AS BIGINT) AS shard
              FROM o ORDER BY doc_id""")),

    // Shard packing in deterministic SHUFFLED order (see
    // packShardsShuffled): training-order permutation by the portable
    // id hash, offsets via the hash-high-bits bucketed prefix sum.
    // The oracle replays the permutation with one global window — the
    // bucketed decomposition must equal it exactly because the bucket
    // is the hash's monotone prefix.
    QueryDef(
      "t_pack_shuffled",
      (s, d) => {
        import s.implicits._
        packShardsShuffled(table(s, d, "documents"), $"doc_id", $"text",
            budget = 5000L, bucketShift = 50)
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
                SELECT doc_id,
                       CAST(len([x for x in string_split_regex(lower(text), '\s+') if x != '']) AS BIGINT) AS n_tokens,
                       ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
                FROM documents),
              o AS (
                SELECT doc_id, n_tokens,
                       CAST(coalesce(SUM(n_tokens) OVER (ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset
                FROM t)
              SELECT doc_id, n_tokens, token_offset,
                     CAST(floor(CAST(token_offset AS DOUBLE) / 5000.0) AS BIGINT) AS shard
              FROM o ORDER BY doc_id""")),

    // Curriculum packing (see packShardsCurriculum): training order =
    // cleanest-first by the composite quality score, offsets/shards
    // via the quantized-quality bucketed running sum. The oracle's
    // single global window pins the bucketed decomposition AND the
    // cross-engine bit-equality of the quality doubles under ordering.
    QueryDef(
      "t_pack_curriculum",
      (s, d) => {
        import s.implicits._
        packShardsCurriculum(table(s, d, "documents"), $"doc_id", $"text",
            budget = 5000L)
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
                SELECT doc_id, text,
                       [x for x in string_split_regex(lower(text), '\s+') if x != ''] AS toks
                FROM documents),
              q AS (
                SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                       least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.4
                         + (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
                         + least(CAST(len([x for x in toks if list_contains(['the','and','of','to','in','is','that','it','was','for'], x)]) AS DOUBLE)
                                 / CAST(greatest(len(toks), 1) AS DOUBLE) * 4.0, 1.0) * 0.3 AS quality
                FROM t),
              o AS (
                SELECT doc_id, n_tokens, quality,
                       CAST(coalesce(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset
                FROM q)
              SELECT doc_id, n_tokens, quality, token_offset,
                     CAST(floor(CAST(token_offset AS DOUBLE) / 5000.0) AS BIGINT) AS shard
              FROM o ORDER BY doc_id""")),

    // BM25 relevance vs a fixed 5-term query (rational-idf variant —
    // see bm25Scores for why the log is not bit-safe cross-engine):
    // top 100 most relevant documents. Per-doc stage is explode-free
    // in-row counting; the only global structure is a 1-row stats
    // aggregate broadcast back.
    QueryDef(
      "t_bm25",
      (s, d) => {
        import s.implicits._
        bm25Scores(table(s, d, "documents"), $"doc_id", $"text", bm25Terms)
          .orderBy($"score".desc, $"doc_id")
          .limit(100)
      },
      Some(bm25OracleSql(bm25Terms))),

    QueryDef(
      "t_rep_ngrams",
      (s, d) => {
        import s.implicits._
        withRepetitionStats(table(s, d, "documents"), $"text")
          .select($"doc_id", $"n_tokens", $"dup_token_ratio",
            $"dup_bigram_ratio", $"dup_trigram_ratio", $"kept")
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
                SELECT doc_id,
                       [x for x in string_split_regex(lower(text), '\s+') if x != ''] AS toks
                FROM documents),
              r AS (
                SELECT doc_id,
                       CAST(len(toks) AS BIGINT) AS n_tokens,
                       CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
                         / greatest(len(toks), 1) AS dup_token_ratio,
                       CAST(greatest(len(toks) - 1, 0)
                            - CASE WHEN len(toks) >= 2
                                THEN len(list_distinct([array_to_string(toks[i:i+1], ' ')
                                                        for i in range(1, len(toks))]))
                                ELSE 0 END AS DOUBLE)
                         / greatest(len(toks) - 1, 1) AS dup_bigram_ratio,
                       CAST(greatest(len(toks) - 2, 0)
                            - CASE WHEN len(toks) >= 3
                                THEN len(list_distinct([array_to_string(toks[i:i+2], ' ')
                                                        for i in range(1, len(toks) - 1)]))
                                ELSE 0 END AS DOUBLE)
                         / greatest(len(toks) - 2, 1) AS dup_trigram_ratio
                FROM t)
              SELECT doc_id, n_tokens, dup_token_ratio, dup_bigram_ratio,
                     dup_trigram_ratio,
                     CASE WHEN dup_token_ratio <= 0.6 AND dup_bigram_ratio <= 0.1
                               AND dup_trigram_ratio <= 0.02
                          THEN 1 ELSE 0 END AS kept
              FROM r ORDER BY doc_id""")),

    QueryDef(
      "t_text_stats",
      (s, d) => {
        import s.implicits._
        table(s, d, "documents")
          .withColumn("__toks", tokens($"text"))
          .select(
            $"doc_id",
            char_length($"text").cast("long").as("n_chars_c"),
            size($"__toks").cast("long").as("n_tokens"),
            bpeishCount($"text").cast("long").as("n_tokens_bpe"),
            punctRatio($"text").as("punct_ratio"),
            stopwordRatio($"__toks", "en").as("stopword_ratio"),
            qualityScoreOf($"text", $"__toks").as("quality"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
                SELECT doc_id, text,
                       [x for x in string_split_regex(lower(text), '\s+') if x != ''] AS toks
                FROM documents)
              SELECT doc_id,
                     CAST(length(text) AS BIGINT) AS n_chars_c,
                     CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens_bpe,
                     CAST(len(toks) AS BIGINT) AS n_tokens,
                     CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
                     CAST(len([x for x in toks if list_contains(['the','and','of','to','in','is','that','it','was','for'], x)]) AS DOUBLE)
                       / CAST(greatest(len(toks), 1) AS DOUBLE) AS stopword_ratio,
                     least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.4
                       + (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
                       + least(CAST(len([x for x in toks if list_contains(['the','and','of','to','in','is','that','it','was','for'], x)]) AS DOUBLE)
                               / CAST(greatest(len(toks), 1) AS DOUBLE) * 4.0, 1.0) * 0.3 AS quality
              FROM t ORDER BY doc_id""")),

    QueryDef(
      "t_lang_id",
      (s, d) => {
        import s.implicits._
        withLangId(table(s, d, "documents"), $"text", "lang_guess")
          .select($"doc_id", $"lang", $"lang_guess")
          .withColumn("is_match", ($"lang" === $"lang_guess").cast("int"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
                SELECT doc_id, lang,
                       [x for x in string_split_regex(lower(text), '\s+') if x != ''] AS toks
                FROM documents),
              sc AS (
                SELECT doc_id, lang,
                       len([x for x in toks if list_contains(['der','die','und','das','ist','von','den','mit','auf','ein'], x)]) AS s_de,
                       len([x for x in toks if list_contains(['the','and','of','to','in','is','that','it','was','for'], x)]) AS s_en,
                       len([x for x in toks if list_contains(['el','la','de','que','y','en','los','se','del','las'], x)]) AS s_es,
                       len([x for x in toks if list_contains(['le','la','de','et','les','des','en','un','du','il'], x)]) AS s_fr,
                       len([x for x in toks if list_contains(['的','是','了','在','和','有','我','不','这','他'], x)]) AS s_zh
                FROM t)
              SELECT doc_id, lang,
                     CASE
                       WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                       WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                       ELSE 'zh'
                     END AS lang_guess,
                     CASE WHEN lang = CASE
                       WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                       WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                       ELSE 'zh'
                     END THEN 1 ELSE 0 END AS is_match
              FROM sc ORDER BY doc_id""")),

    // Vocabulary building: corpus-wide token frequencies, top 100 —
    // the explode -> count shape that tokenizer training starts from.
    QueryDef(
      "t_vocab",
      (s, d) => {
        import s.implicits._
        table(s, d, "documents")
          .select(explode(tokens($"text")).as("token"))
          .groupBy($"token")
          .agg(count(lit(1)).as("freq"))
          .orderBy($"freq".desc, $"token".asc)
          .limit(100)
      },
      Some("""SELECT token, count(*) AS freq
              FROM (SELECT unnest([x for x in string_split_regex(lower(text), '\s+') if x != '']) AS token
                    FROM documents) t
              GROUP BY token ORDER BY freq DESC, token ASC LIMIT 100""")),

    // The quality-gate pipeline a training corpus actually runs:
    // keep documents passing a composite quality threshold with
    // enough tokens, sorted survivors out.
    QueryDef(
      "t_quality_filter",
      (s, d) => {
        import s.implicits._
        table(s, d, "documents")
          .withColumn("__toks", tokens($"text"))
          .withColumn("quality", qualityScoreOf($"text", $"__toks"))
          .withColumn("n_tokens", size($"__toks").cast("long"))
          .filter($"quality" >= 0.7 && $"n_tokens" >= 30)
          .select($"doc_id", $"lang", $"n_tokens", $"quality")
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
                SELECT doc_id, lang, text,
                       [x for x in string_split_regex(lower(text), '\s+') if x != ''] AS toks
                FROM documents),
              q AS (
                SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
                       least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.4
                         + (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
                         + least(CAST(len([x for x in toks if list_contains(['the','and','of','to','in','is','that','it','was','for'], x)]) AS DOUBLE)
                                 / CAST(greatest(len(toks), 1) AS DOUBLE) * 4.0, 1.0) * 0.3 AS quality
                FROM t)
              SELECT doc_id, lang, n_tokens, quality FROM q
              WHERE quality >= 0.7 AND n_tokens >= 30
              ORDER BY doc_id""")),

    // Deterministic stratified sampling: per-source keep quotas
    // (25/50/75/100% by source index) decided by a portable hash of
    // the doc id — unlike RNG-seeded sampleBy, the SAME rows are kept
    // on any cluster, any partitioning, any engine (the oracle
    // recomputes membership exactly), which is what makes a sampled
    // training corpus reproducible. Emits per-source totals and kept
    // counts; the kept set itself is hash-derived, so this aggregate
    // pins the whole membership function.
    QueryDef(
      "t_sample_stratified",
      (s, d) => {
        import s.implicits._
        val thr = ((substring($"source", 4, 10).cast("int") % 4) + 1) * lit(250)
        table(s, d, "documents")
          .withColumn("__keep",
            graft.functions.PortableHash.md5Hash60($"doc_id".cast("string")) % 1000 < thr)
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n_total"),
            sum(when($"__keep", 1L).otherwise(0L)).as("n_kept"))
          .orderBy($"source")
      },
      Some("""SELECT source, count(*) AS n_total,
                     CAST(sum(CASE WHEN (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000)
                                        < ((CAST(substring(source, 4) AS INT) % 4 + 1) * 250)
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
              FROM documents GROUP BY source ORDER BY source""")),

    // Domain-mixture rebalancing (the DoReMi / Pile mixing step): make
    // the OUTPUT token mix uniform across sources by hash-downsampling
    // every over-represented source to the smallest source's token
    // budget. Two passes, both tiny on the source axis: (1) per-source
    // token totals T_s (one aggregate), (2) accept rate in ppm =
    // floor(min_s(T_s) * 1e6 div T_s) — EXACT integer arithmetic, so
    // both engines compute the identical rate (a double division here
    // would hash-diverge in the low bits) — joined back broadcast and
    // decided per doc by the portable hash (same reproducibility
    // argument as t_sample_stratified: the SAME docs are kept on any
    // cluster, any partitioning, any engine). BIGINT headroom note:
    // min_T * 1e6 binds at ~9e12 tokens per source; a deployment
    // beyond that widens the rate computation to DECIMAL — the
    // comparison side (uh % 1e6 < rate_ppm) never grows.
    // Output pins totals, rates, and the kept doc/token counts per
    // source — the whole membership function, aggregated.
    QueryDef(
      "t_mix_rebalance",
      (s, d) => {
        import s.implicits._
        // the tokenize projection feeds the totals pass AND the keep
        // join — leased so the corpus tokenizes ONCE, not per consumer
        val t = graft.ops.Checkpoints.lease("mix_t", table(s, d, "documents")
          .select($"doc_id", $"source",
            size(tokens($"text")).cast("long").as("nt")))
        val tot = t.groupBy($"source")
          .agg(count(lit(1)).as("n_total"), sum($"nt").as("ts"))
        val mn = tot.agg(min($"ts").as("mts"))
        val rates = tot.crossJoin(broadcast(mn))
          .withColumn("rate_ppm", expr("mts * 1000000L div ts"))
          .select($"source", $"rate_ppm")
        t.join(broadcast(rates), Seq("source"))
          .withColumn("__keep",
            graft.functions.PortableHash.md5Hash60($"doc_id".cast("string"))
              % 1000000L < $"rate_ppm")
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n_total"),
            sum($"nt").as("tokens_total"),
            first($"rate_ppm").as("rate_ppm"),
            sum(when($"__keep", 1L).otherwise(0L)).as("n_kept"),
            sum(when($"__keep", $"nt").otherwise(0L)).as("tokens_kept"))
          .orderBy($"source")
      },
      Some("""WITH t AS (
                SELECT doc_id, source,
                       CAST(len([x for x in string_split_regex(lower(text), '\s+') if x != '']) AS BIGINT) AS nt
                FROM documents),
              tot AS (
                SELECT source, count(*) AS n_total, sum(nt) AS ts
                FROM t GROUP BY source),
              mn AS (SELECT min(ts) AS mts FROM tot),
              r AS (
                SELECT source, (mts * 1000000) // ts AS rate_ppm
                FROM tot CROSS JOIN mn),
              k AS (
                SELECT t.source, t.nt, r.rate_ppm,
                       (('0x' || substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000)
                         < r.rate_ppm AS keep
                FROM t JOIN r USING (source))
              SELECT source,
                     count(*) AS n_total,
                     CAST(sum(nt) AS BIGINT) AS tokens_total,
                     CAST(min(rate_ppm) AS BIGINT) AS rate_ppm,
                     CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                     CAST(sum(CASE WHEN keep THEN nt ELSE 0 END) AS BIGINT) AS tokens_kept
              FROM k GROUP BY source ORDER BY source""")),

    // EXACT token-budget mixture — the deterministic-budget
    // counterpart of t_mix_rebalance's probabilistic rates: every
    // domain keeps documents in portable-hash order (a fixed random
    // permutation) until the smallest domain's token total is reached,
    // so each domain's kept token count is EXACTLY budget + at most
    // one boundary document's overshoot (the rebalance form only hits
    // the budget in expectation). The crossing document is KEPT
    // (admit-then-close: w_before < budget), so every domain reaches
    // at least the budget; the smallest domain keeps everything. Rides
    // [[Selection.withRunningTotalsPerGroup]] — per-domain running
    // token sums with the grouped two-phase plan (bucket table
    // |domains| × |hash buckets|, no single-partition structure, no
    // per-domain corpus window). The oracle replays the per-domain
    // hash-ordered prefix sums and the boundary rule bit-for-bit.
    QueryDef(
      "t_mix_budget",
      (s, d) => {
        import s.implicits._
        val t = graft.ops.Checkpoints.lease("mixb_t", table(s, d, "documents")
          .select($"doc_id", $"source",
            size(tokens($"text")).cast("long").as("nt"),
            graft.functions.PortableHash.md5Hash60($"doc_id".cast("string"))
              .as("__h")))
        val budget = t.groupBy($"source").agg(sum($"nt").as("ts"))
          .agg(min($"ts").as("budget"))
        // hash values spread uniformly over [0, 2^60): bucketing by
        // the top bits keeps the per-(domain, bucket) slice bounded
        // and monotone along the (hash, doc_id) order
        Selection.withRunningTotalsPerGroup(t, $"source",
            shiftright($"__h", 44), Seq($"__h".asc, $"doc_id".asc), $"nt",
            "w_before", "__tot")
          .crossJoin(broadcast(budget))
          .withColumn("kept", $"w_before" < $"budget")
          .select($"doc_id", $"source", $"nt", $"w_before", $"budget",
            $"kept")
          .orderBy($"doc_id")
      },
      Some(s"""WITH t AS (
                SELECT doc_id, source,
                       CAST(len([x for x in string_split_regex(lower(text), '\\s+') if x != '']) AS BIGINT) AS nt,
                       ${graft.functions.PortableHash.duckdbHash60("CAST(doc_id AS VARCHAR)")} AS h
                FROM documents),
              mn AS (
                SELECT min(ts) AS budget
                FROM (SELECT source, sum(nt) AS ts FROM t GROUP BY source)),
              o AS (
                SELECT doc_id, source, nt,
                       CAST(coalesce(SUM(nt) OVER (PARTITION BY source
                         ORDER BY h, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS w_before
                FROM t)
              SELECT o.doc_id, o.source, o.nt, o.w_before,
                     CAST(mn.budget AS BIGINT) AS budget,
                     o.w_before < mn.budget AS kept
              FROM o CROSS JOIN mn ORDER BY o.doc_id""")),

    QueryDef(
      "t_fingerprint",
      (s, d) => {
        import s.implicits._
        table(s, d, "documents")
          .withColumn("__lt", lower($"text"))
          .select(
            $"doc_id",
            md5($"__lt").as("doc_md5"),
            shingleFingerprintOf($"__lt").as("shingle_fp"))
          .orderBy($"doc_id")
      },
      Some(s"""SELECT doc_id, md5(lower(text)) AS doc_md5,
                      ${graft.functions.ShingleMinRoll.duckdbSql("lower(text)")} AS shingle_fp
               FROM documents ORDER BY doc_id"""))
  )
}
