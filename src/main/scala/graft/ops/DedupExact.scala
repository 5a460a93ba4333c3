package graft.ops

import graft.QueryDef
import graft.model.Tables.table
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The exact / n-gram family of [[Dedup]] — content-hash groups,
  * duplicated-n-gram stats and span excision, containment and
  * prefix-filtered Jaccard pairs, SimHash, plus the shingle /
  * signature helpers and the collapse/expand combinator every other
  * family builds on. Implementation part of the [[Dedup]] object
  * (this trait is not a standalone API surface — use `Dedup`).
  */
trait DedupExactPart { this: Dedup.type =>

  import TextAnalysis.tokens

  /** Word n-gram shingle set over an ALREADY-BOUND token-array column.
    * `toks` must be a real column attribute, not an expression tree:
    * lambda bodies re-evaluate captured outer EXPRESSIONS per element
    * (no CSE across higher-order functions), so passing `tokens(text)`
    * here would re-run the tokenizer once per shingle — the difference
    * between O(tokens) and O(tokens²) per document. Use
    * [[withWordShingles]] / [[withHashedShingles]] for the safe
    * DataFrame-level form. */
  def wordShinglesOf(toks: Column, n: Int = 3): Column =
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - lit(n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(array().cast("array<string>")))

  /** Word n-gram shingle set of a text column (scalar convenience for
    * tiny inputs/specs — see [[wordShinglesOf]] for why the bulk path
    * must bind the token array first). */
  def wordShingles(text: Column, n: Int = 3): Column =
    wordShinglesOf(tokens(text), n)

  /** Adds `out` = distinct word n-gram shingles of `text` via the
    * FUSED native expression (graft.functions.WordShingles): one
    * compiled tokenize+shingle+distinct pass per document, replacing
    * the four-deep interpreted HOF tree that was the dedup family's
    * largest shared cost. Bit-identical to [[wordShinglesOf]] over
    * [[tokens]] (asserted in DedupSpec). */
  def withWordShingles(df: DataFrame, text: Column, out: String, n: Int = 3): DataFrame =
    df.withColumn(out, graft.functions.TextShingles.wordShingles(text, n))

  /** Jaccard similarity of two (distinct-element) array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** 64-bit SimHash of a token multiset — per-bit majority vote of
    * token hashes — represented as 4 x 16-bit chunk values (an
    * array<int>). The chunk representation is both ANSI-overflow-safe
    * and exactly what hamming-LSH banding buckets on. Chunk c covers
    * signature bits [16c, 16c+16), most-significant bit first inside
    * the chunk. */
  def simhashChunks(toks: Column): Column = {
    // votes[i] = sum over tokens of (+1 if bit i of xxhash64(token), else -1)
    val votes = aggregate(
      toks,
      array_repeat(lit(0), 64),
      (acc, t) => zip_with(acc,
        transform(sequence(lit(0), lit(63)),
          i => when(call_function("shiftright", xxhash64(t), i).bitwiseAND(lit(1L)) === lit(1L), lit(1))
            .otherwise(lit(-1))),
        (a, v) => a + v))
    transform(sequence(lit(0), lit(3)), c =>
      aggregate(
        slice(votes, c * lit(16) + lit(1), lit(16)),
        lit(0),
        (acc, v) => acc * lit(2) + when(v > 0, lit(1)).otherwise(lit(0))))
  }

  /** Hamming distance between two chunked signatures. Unrolled over
    * the fixed 4-chunk layout with element_at/bit_count builtins: the
    * HOF form (`aggregate(zip_with(...))`) is CodegenFallback and ran
    * INTERPRETED per candidate pair in the simhash verify projection
    * — the one per-pair expression in that hot path. Same int sum,
    * bit-exact. */
  def hammingChunks(a: Column, b: Column, chunks: Int = 4): Column =
    (0 until chunks)
      .map(i => bit_count(element_at(a, i + 1).bitwiseXOR(element_at(b, i + 1))).cast("int"))
      .reduce(_ + _)

  /** Columnar SimHash: same signature as [[simhashChunks]] (asserted
    * equivalent in DedupSpec) computed from exploded (id, token) rows,
    * via ONE native aggregate ([[graft.functions.SimHashSigAgg]]): the
    * ones-count vector lives in the aggregation buffer, partials merge
    * with a vector add, and the majority-vote chunks come out of
    * eval() directly. The hash is bound to a real column first so the
    * aggregate's child is an attribute, not the md5 pipeline. Int
    * counters are exact to 2^31 tokens per doc (the earlier
    * packed-long form overflowed at 2^14 and needed a guard). Docs
    * with zero tokens produce no row (vs an all-zero signature from
    * the scalar form). */
  def simhashChunksAgg(
      tokRows: DataFrame, id: Column, tok: Column,
      hash: Column => Column = c => xxhash64(c),
      bits: Int = 64): DataFrame =
    tokRows.select(id.as("id"), hash(tok).as("__h"))
      .groupBy(col("id"))
      .agg(graft.functions.SimHashAgg.simhashSig(col("__h"), bits).as("sig"))

  /** [[simhashChunksAgg]] from (doc) rows directly, hashing each
    * DISTINCT token once and count-weighting the vote: the fused
    * WordTokenCounts expression collapses the token multiset to
    * (token, count) entries inside the row (before the explode), so
    * the md5/xxhash pipeline runs per distinct token per doc — ~5-10x
    * fewer hash evaluations on natural text — while the weighted
    * vote keeps signatures bit-identical to the per-occurrence form
    * (DedupSpec asserts it). Same one-aggregation plan shape: explode
    * -> hash projection -> ObjectHashAggregate with map-side partials.
    * Docs with zero tokens produce no row (empty array explodes to
    * nothing), matching [[simhashChunksAgg]] over exploded tokens. */
  def simhashChunksAggCounted(
      docs: DataFrame, id: Column, text: Column,
      hash: Column => Column = c => xxhash64(c),
      bits: Int = 64): DataFrame =
    docs.select(id.as("id"),
        explode(graft.functions.TextShingles.wordTokenCounts(text)).as("tc"))
      .select(col("id"), hash(col("tc.tok")).as("__h"), col("tc.cnt").as("__c"))
      .groupBy(col("id"))
      .agg(graft.functions.SimHashAgg.simhashSigWeighted(
        col("__h"), col("__c"), bits).as("sig"))

  /** Exact dedup: group by a content hash, keep the lowest id.
    * Returns (hash, keeper id, group size). */
  def exactGroups(df: DataFrame, text: Column, id: Column): DataFrame =
    df.groupBy(md5(lower(text)).as("content_hash"))
      .agg(min(id).as("keeper"), count(lit(1)).as("n_docs"))

  /** Cross-document duplicated n-gram spans — the distributed
    * approximation of exact-substring training-data dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * ACL'22, which builds a suffix array; the MapReduce-shaped
    * equivalent is exactly this n-gram multiset pass): a word n-gram
    * occurring in >= 2 documents marks a memorized/boilerplate span.
    * Returns one row per document: its distinct n-gram count, how many
    * of those n-grams also occur in at least one OTHER document, and
    * the duplicated fraction (the "how much of this doc is copied"
    * signal a pipeline thresholds on).
    *
    * Scale shape: the distinct n-gram set is computed IN-ROW by the
    * fused WordShingles expression (no explode-then-dedupe shuffle);
    * postings then shuffle ONCE on a 60-bit portable gram hash (8-byte
    * keys, partial-count map-side combine — never the gram strings),
    * the duplicated-gram side is filtered to nd >= 2 BEFORE the
    * back-join, and the per-doc rollup is a second count aggregate.
    * Nothing is ever pairwise: cost is bounded by total posting count,
    * not doc². A viral gram (site boilerplate shared by millions of
    * docs) makes one hot reducer key in the back-join — the standard
    * AQE skew-join split handles it, and the count aggregate itself is
    * immune (map-side partials). Distinct-per-doc grams mean count(*)
    * per hash IS the document frequency. The same md5-derived hash is
    * replayed by the DuckDB oracle, so hash collisions (~(#grams)²/2^61)
    * cannot cause a compare mismatch — both engines see them. */
  def dupNgramStats(docs: DataFrame, id: Column, text: Column, n: Int = 8): DataFrame = {
    val g = docs.select(id.as("doc_id"),
      graft.functions.TextShingles.wordShingles(text, n).as("grams"))
    val x = g.select(col("doc_id"), explode(col("grams")).as("__gram"))
      .select(col("doc_id"),
        graft.functions.PortableHash.md5Hash60(col("__gram")).as("h"))
    val dup = x.groupBy(col("h")).agg(count(lit(1)).as("nd")).filter(col("nd") >= 2)
    val perDoc = x.join(dup, Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("__nd"))
    g.select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("__nd"), lit(0L)).as("n_dup_grams"),
        (coalesce(col("__nd"), lit(0L)).cast("double") /
          greatest(col("n_grams"), lit(1L)).cast("double")).as("dup_ratio"))
  }

  /** Longest verbatim duplicated run per document — the positional
    * refinement of [[dupNgramStats]] and the signal the
    * exact-substring dedup literature actually thresholds on ("drop
    * documents sharing a >= 50-token verbatim span"): a distinct
    * n-gram COUNT cannot distinguish fifty scattered boilerplate
    * grams from one fifty-gram copied paragraph, while the longest
    * consecutive run of cross-document-duplicated gram POSITIONS is
    * exactly the length of the longest copied span (r consecutive
    * duplicated grams cover r + n - 1 tokens).
    *
    * Scale shape, per stage: every stage derives from ONE tokenizing
    * pass — the fused [[graft.functions.PositionalGramHashes]] array:
    * (1) duplicated-gram set = per-doc DISTINCT hashes
    * (`array_distinct` in-row — so two distinct grams colliding into
    * one 60-bit hash count as one posting per doc, exactly mirroring
    * the oracle's `SELECT DISTINCT doc_id, h`; hashing gram STRINGS
    * first and deduping those would diverge on that astronomically
    * rare collision), one 8-byte-hash shuffle, map-side combine;
    * (2) positional grams = per-row fan-out of the same array — the
    * explode emits 8-byte hashes directly, so the token array never
    * leaves the row it was parsed in (the slice-per-position column
    * form would carry the whole array through the generator,
    * amplifying per-row bytes by the position count); (3) flagged
    * positions = equi-join on the gram hash (pair-bound: output <=
    * positional postings); (4) runs = the classic islands-and-gaps
    * trick, pos - row_number() constant within a consecutive run —
    * ONE window keyed by doc (a doc's positions fit a partition by
    * construction: documents are bounded, corpora are not) and two
    * count aggregates. Nothing global, nothing pairwise. The oracle
    * replays every stage including the hash; n_gram_pos is
    * size(positional array) — by construction max(m - n + 1, 0). */
  def dupNgramSpans(docs: DataFrame, id: Column, text: Column, n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ph = docs.select(id.as("doc_id"),
      graft.functions.TextShingles.positionalGramHashes(text, n).as("__ph"))
    val positional = ph
      .select(col("doc_id"),
        posexplode(col("__ph")).as(Seq("__pos0", "h")))
      .select(col("doc_id"), (col("__pos0") + 1L).as("pos"), col("h"))
    val dup = ph
      .select(col("doc_id"), explode(array_distinct(col("__ph"))).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    val wRn = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = positional.join(dup, Seq("h"))
      .withColumn("island", col("pos") - row_number().over(wRn))
      .groupBy(col("doc_id"), col("island"))
      .agg(count(lit(1)).as("run_len"))
    val perDoc = runs.groupBy(col("doc_id")).agg(
      sum(col("run_len")).as("__ndp"), max(col("run_len")).as("__lr"))
    ph.select(col("doc_id"), size(col("__ph")).cast("long").as("n_gram_pos"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_gram_pos"),
        coalesce(col("__ndp"), lit(0L)).as("n_dup_pos"),
        when(col("__lr").isNull, lit(0L))
          .otherwise(col("__lr") + (n - 1)).as("longest_dup_tokens"))
  }

  /** Exact-substring dedup APPLIED — the transform the duplicated-span
    * literature actually ships (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better": excise every duplicated
    * >= n-token span, keeping one occurrence): a token position is
    * removed when it is covered by a duplicated n-gram occurrence
    * that is not that gram's globally-first (canonical) occurrence.
    * Canonical = min (doc_id, pos) lexicographically — deterministic,
    * partitioning-independent, and identical in the oracle (struct
    * min is field-lexicographic in both engines). Within-document
    * repeats count: a doc that repeats its own 8-gram keeps only the
    * first copy. Output pins the surviving text by md5 of the
    * rejoined kept tokens (the `t_chunk` convention) plus kept /
    * removed counts.
    *
    * Scale shape: one tokenize pass computes both the token array and
    * the fused positional gram hashes, leased once and fanned out to
    * the occurrence explode and the reconstruction join. Occurrence
    * counting + canonical selection is ONE hash-keyed aggregate with
    * map-side combine (min(struct) partials — a window per gram hash
    * would serialize viral grams; the agg does not). Flagged
    * occurrences move by gram-hash equi-join (fan-out = occurrence
    * count, linear), collapse to one `qs` row per doc (bounded:
    * documents are bounded, corpora are not), and the per-row
    * interval-coverage filter runs in-row over (token, qs) — the HOF
    * lambda is interpreted, but it executes once per surviving row,
    * not per fan-out, and never shuffles. */
  /** The shared excision core: (doc_id, toks, __kept) where `__kept`
    * is the surviving (token, position) struct array. `tag` names the
    * tokenize-pass lease so the standalone query and pipeline stages
    * hold independent checkpoints. */
  private def spanKept(
      docs: DataFrame, id: Column, text: Column, n: Int, tag: String): DataFrame = {
    val base = Checkpoints.lease(tag, docs.select(
      id.as("doc_id"),
      graft.functions.TextShingles.wordTokens(text).as("toks"),
      graft.functions.TextShingles.positionalGramHashes(text, n).as("__ph")))
    val occ = base
      .select(col("doc_id"), posexplode(col("__ph")).as(Seq("__p0", "h")))
      .select(col("doc_id"), (col("__p0") + lit(1L)).as("q"), col("h"))
    val dup = occ.groupBy(col("h"))
      .agg(count(lit(1)).as("__no"),
        min(struct(col("doc_id"), col("q"))).as("__canon"))
      .filter(col("__no") >= 2)
      .select(col("h"),
        col("__canon").getField("doc_id").as("c_doc"),
        col("__canon").getField("q").as("c_q"))
    val flagged = occ.join(dup, Seq("h"))
      .filter(!(col("doc_id") === col("c_doc") && col("q") === col("c_q")))
      .groupBy(col("doc_id")).agg(collect_list(col("q")).as("qs"))
    base.join(flagged, Seq("doc_id"), "left")
      .withColumn("qs", coalesce(col("qs"), array().cast("array<bigint>")))
      .withColumn("__kept", filter(
        transform(col("toks"), (t, i0) =>
          struct(t.as("t"), (i0 + 1).cast("long").as("p"))),
        s => !exists(col("qs"), q =>
          q <= s.getField("p") && s.getField("p") <= q + lit((n - 1).toLong))))
      .select(col("doc_id"), col("toks"), col("__kept"))
  }

  def applySpanDedup(docs: DataFrame, id: Column, text: Column, n: Int = 8): DataFrame =
    spanKept(docs, id, text, n, "dd_apply_spans")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("__kept"))).cast("long").as("n_removed"),
        md5(concat_ws(" ",
          transform(col("__kept"), s => s.getField("t")))).as("kept_md5"))

  /** [[applySpanDedup]] as a PIPELINE stage: (doc_id, text, n_excised)
    * where `text` is the surviving tokens rejoined with single spaces
    * (lowercased, whitespace-normalized — the exact stream every
    * downstream tokenizer derives anyway, so feeding it forward is
    * value-identical). */
  def withSpanExcision(
      docs: DataFrame, id: Column, text: Column,
      n: Int = 8, tag: String = "dd_apply_spans"): DataFrame =
    spanKept(docs, id, text, n, tag)
      .select(col("doc_id"),
        concat_ws(" ", transform(col("__kept"), s => s.getField("t"))).as("text"),
        (size(col("toks")) - size(col("__kept"))).cast("long").as("n_excised"))

  /** DuckDB replay of [[spanKept]] rooted at `docsRel` (which must
    * expose (doc_id, text)) at the n = 8 gram width BOTH call sites
    * use (the SQL pins toks[i:i+7] / q+7 literally — a caller passing
    * a different n to the Spark side must regenerate, not reuse,
    * this fragment): CTEs `{p}t`/`{p}p`/`{p}d`/`{p}f` and
    * `{p}x` = (doc_id, n_tokens, n_removed, kept_text) — kept_text is
    * the rejoined surviving tokens, coalesced to '' (DuckDB's
    * array_to_string of an empty list is NULL). Shared by the
    * standalone `dd_apply_spans` oracle and the `pipe_corpus`
    * composition so both replay the SAME excision. */
  private[graft] def spanExcisionCtes(p: String, docsRel: String): String =
    s"""${p}t AS (
          SELECT doc_id,
                 [x for x in string_split_regex(lower(text), '\\s+') if x != ''] AS toks
          FROM $docsRel),
        ${p}p AS (
          SELECT doc_id, u.g['pos'] AS q,
                 ('0x' || substring(md5(u.g['gram']), 1, 15))::BIGINT AS h
          FROM (
            SELECT doc_id,
                   unnest([{'pos': i, 'gram': array_to_string(toks[i:i+7], ' ')}
                           for i in range(1, len(toks) - 6)]) AS g
            FROM ${p}t WHERE len(toks) >= 8) u),
        ${p}d AS (
          SELECT h, min({'d': doc_id, 'q': q}) AS canon
          FROM ${p}p GROUP BY h HAVING count(*) >= 2),
        ${p}f AS (
          SELECT p.doc_id, list(p.q) AS qs
          FROM ${p}p p JOIN ${p}d d USING (h)
          WHERE NOT (p.doc_id = d.canon['d'] AND p.q = d.canon['q'])
          GROUP BY p.doc_id),
        ${p}x AS (
          SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(n_tokens - len(kept) AS BIGINT) AS n_removed,
                 coalesce(array_to_string(kept, ' '), '') AS kept_text
          FROM (
            SELECT t.doc_id, len(t.toks) AS n_tokens,
                   [t.toks[pp] for pp in range(1, len(t.toks) + 1)
                    if len([q for q in coalesce(f.qs, []) if q <= pp and pp <= q + 7]) = 0] AS kept
            FROM ${p}t t LEFT JOIN ${p}f f USING (doc_id)))"""

  /** EXACT containment-similarity pairs — the asymmetric near-dup
    * case Jaccard structurally misses: a short document fully quoted
    * inside a long one has J = |A|/|B| (small for |B| >> |A|) but
    * containment C(A,B) = |G_A ∩ G_B| / |G_A| = 1. Returns every
    * DIRECTIONAL pair (a, b) with C(a,b) >= tn/td over distinct
    * 3-gram hash sets, with the exact intersection and both set
    * sizes — the "find quoted/subsumed documents" pass a dedup
    * pipeline runs beside its symmetric Jaccard pass.
    *
    * Candidate generation is the containment prefix filter (the
    * asymmetric sibling of the Bayardo WWW'07 prefix this file's
    * [[prefixCandidates]] uses): order grams globally by (df ASC,
    * hash ASC); if C(a,b) >= t then b must contain one of a's first
    * `|G_a| - ceil(t*|G_a|) + 1` grams (if it missed ALL of them, the
    * shared set would fit in a's suffix: |A∩B| <= ceil(t*|G_a|) - 1 <
    * t*|G_a|) — so the join is a's PREFIX postings against the FULL
    * index, complete by construction. Because the indexed side posts
    * everything, the PPJoin positional filter degenerates (any shared
    * prefix gram IS a collision), so pruning rests on (1) df-ascending
    * prefixes — a viral gram has maximal df, sorts to every suffix,
    * and never generates candidates; (2) the containment length
    * filter n_b * td >= n_a * tn (|A∩B| <= min(n_a, n_b)). Verify is
    * the codegen'd two-pointer merge over one sorted in-row gram
    * array per doc ([[graft.functions.SortedLongIntersectCount]]) —
    * candidate pairs move as two narrow id equi-joins, never a
    * per-gram row explosion. The uh30 gram hashes replay in the
    * oracle, which checks the NAIVE all-pairs containment over the
    * same hash sets — a stronger check than mirroring the prefix
    * pipeline, since completeness itself is what it exercises. */
  def containmentPairs(
      docs: DataFrame, tn: Int = 9, td: Int = 10,
      minGrams: Int = 5): DataFrame = {
    val withSets = docs
      .withColumn("hs",
        graft.functions.TextShingles.hashedWordShingles(col("text"), 3, "uh30"))
      .select(col("doc_id"), col("hs"), size(col("hs")).as("n"))
      .filter(col("n") >= minGrams)
    val posts = withSets
      .select(col("doc_id"), col("n"), explode(col("hs")).as("x"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("x").asc)
    val ranked = posts
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("x"))))
      .withColumn("rk", row_number().over(wDoc))
    // contained-side prefix length n - ceil(t*n) + 1, exact integers
    val pref = ranked.filter(col("rk") <=
      col("n") - floor((col("n") * tn + lit(td - 1)) / lit(td)) + 1)
    val cand = pref.as("a")
      .join(ranked.as("b"),
        col("a.x") === col("b.x") && col("a.doc_id") =!= col("b.doc_id") &&
          col("b.n") * td >= col("a.n") * tn)
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("__c"))
      .select(col("id_a"), col("id_b"))
    val arrays = withSets.select(col("doc_id"),
      sort_array(col("hs")).as("xs"), col("n"))
    val inter = graft.functions.TextShingles
      .sortedLongIntersectCount(col("xsa"), col("xsb"))
    cand
      .join(arrays.select(col("doc_id").as("id_a"),
        col("xs").as("xsa"), col("n").as("n_a")), Seq("id_a"))
      .join(arrays.select(col("doc_id").as("id_b"),
        col("xs").as("xsb"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("inter", inter.cast("long"))
      .filter(col("inter") * td >= col("n_a") * tn)
      .select(col("id_a"), col("id_b"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        col("inter"),
        (col("inter").cast("double") / col("n_a").cast("double")).as("containment"))
  }

  /** Prefix-filtered candidate pairs for EXACT Jaccard >= tn/td over
    * hashed shingle sets (Bayardo et al., WWW'07): each doc indexes
    * only the first |x| - ceil(t*|x|) + 1 grams of its set in the
    * global (df ASC, hash ASC) order — complete for J >= t (any pair
    * reaching t must collide inside both prefixes), while stop-grams
    * sort to the suffix and never generate candidates. Input must
    * carry (doc_id, text) — plus an integer `band` column when
    * `banded` (length-band blocking: side a replicates each prefix
    * posting under band keys {band-1, band, band+1}, so the non-equi
    * adjacency predicate |band_a - band_b| <= 1 becomes part of the
    * equi-join key). Returns (posts = (doc_id [, band], n, x) distinct
    * gram-hash postings for the count-based verify join, cand =
    * distinct (id_a, id_b) candidate pairs).
    *
    * The distinct hashed gram set is computed IN-ROW by the fused
    * HashedWordShingles expression (tokenize, shingle, hash, dedupe in
    * one compiled pass) — the former explode + collect_set + re-explode
    * dedupe shuffled every posting through an ObjectHashAggregate
    * before any pairing work started. Every consumer of `posts` shares
    * that one pass, and the df-window exchange below is the lineage
    * point ReuseExchange serves all of them from (PlanSpec pins it). */
  def prefixCandidates(
      docs: DataFrame, tn: Int = 1, td: Int = 2,
      hashKind: String = "uh30",
      banded: Boolean = false): (DataFrame, DataFrame) = {
    val bandCols = if (banded) Seq(col("band")) else Seq.empty[Column]
    val posts = docs
      .withColumn("hs",
        graft.functions.TextShingles.hashedWordShingles(col("text"), 3, hashKind))
      .select((col("doc_id") +: bandCols) ++
        Seq(size(col("hs")).as("n"), explode(col("hs")).as("x")): _*)
    // df as a count window over partition(x), not a groupBy+self-join:
    // one exchange feeds the window directly, two fewer stages (a
    // groupBy+join form was measured 20% slower at sf0.1 even with the
    // df table broadcast — the extra pass over posts costs more than
    // the window's sort)
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("x").asc)
    // prefix length n - ceil(t*n) + 1 in exact integer math:
    // ceil(tn*n/td) = (tn*n + td - 1) div td  (n, tn, td > 0)
    val pref = posts
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("x"))))
      .withColumn("rk", row_number().over(wDoc))
      .filter(col("rk") <=
        col("n") - floor((col("n") * tn + lit(td - 1)) / lit(td)) + 1)
      .select((col("doc_id") +: bandCols) ++
        Seq(col("n"), col("x"), col("rk")): _*)
    // Two further EXACT prunes inside/after the join, both from the
    // PPJoin family (Xiao et al., WWW'08):
    //  - length filter: J <= min/max, so J >= tn/td needs
    //    td*min >= tn*max;
    //  - positional filter: let g* be the max-ordered prefix collision
    //    of a pair, at ranks (rka, rkb). Any OTHER shared gram sorting
    //    before g* would lie inside both prefixes (ranks are monotone
    //    in the global (df, x) order) and so would itself be a
    //    collision — hence every non-collision shared gram sorts after
    //    g*, giving inter <= c + min(n_a - rka, n_b - rkb). J >= tn/td
    //    needs (td+tn)*inter >= tn*(n_a + n_b), so pairs failing that
    //    bound at the inter upper estimate can never verify. This is
    //    what keeps the verify join (candidates x grams) pair-bound,
    //    not collision-bound.
    // The max-rank row is the same row for both sides (rank order is
    // the shared global gram order), so two max() aggregates agree.
    val prefA =
      if (banded)
        pref.withColumn("bkey",
          explode(array(col("band") - 1, col("band"), col("band") + 1)))
      else pref
    val bandAdj =
      if (banded) col("a.bkey") === col("b.band") else lit(true)
    val cand = prefA.as("a")
      .join(pref.as("b"),
        col("a.x") === col("b.x") && bandAdj && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * td >= col("b.n") * tn && col("b.n") * td >= col("a.n") * tn)
      .groupBy(
        col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("c"),
        max(col("a.rk")).as("rka"), max(col("b.rk")).as("rkb"))
      .filter(lit(td + tn) * (col("c") +
        least(col("na") - col("rka"), col("nb") - col("rkb"))) >=
        lit(tn) * (col("na") + col("nb")))
      .select(col("id_a"), col("id_b"))
    (posts, cand)
  }

  /** Exact-content collapse + pair-expand combinator — the machinery
    * shared by every near-dup PAIR query (formerly hand-inlined per
    * query). Groups `df` by `groupCols`, runs the pairwise machinery
    * (`repPairs`) on one representative per group (the minimal
    * `idCol`), then expands verified rep pairs back to member pairs
    * and adds within-group member pairs valued/gated by `withinVals`.
    *
    * Correctness contract (each caller's pairwise machinery must
    * satisfy it; the per-query comments state why):
    *   - group members are indistinguishable to `repPairs` — identical
    *     `groupCols` implies identical signatures/bands/similarity, so
    *     a rep pair reproduces every cross-group pair's value exactly;
    *   - `withinVals(reps)` returns one row (`__min`, value columns)
    *     per group whose members pair with each other at that value —
    *     groups absent from it (ineligible: no tokens/shingles, or a
    *     self-similarity below threshold) produce no within pairs.
    *
    * `repPairs(reps)` must return (`id_a`, `id_b`, value columns) with
    * id_a < id_b drawn from rep ids; the expansion re-orders member
    * ids via least/greatest. Output is ordered (id_a, id_b).
    *
    * Scale: the pairwise stage costs O(distinct group keys), not
    * O(rows) — on a duplicate-saturated 100 TB corpus this is the
    * difference between bounded candidate joins and a quadratic blowup
    * in the true-duplicate cliques (ScaleSpec exercises saturation).
    */
  def collapseExpandPairs(
      df: DataFrame, idCol: String, groupCols: Seq[Column])(
      repPairs: DataFrame => DataFrame)(
      withinVals: DataFrame => DataFrame): DataFrame = {
    // leased: the grouped frame fans out to the rep pair stage (which
    // references reps several times itself), both member-expansion
    // join sides, and the within-group values — each reference
    // otherwise re-instantiates the scan + group-window subtree
    val grp = Checkpoints.lease("collapse_grp", df.withColumn("__min",
      min(col(idCol)).over(Window.partitionBy(groupCols: _*))))
    val reps = grp.filter(col(idCol) === col("__min"))
    val upairs = repPairs(reps)
    val valueCols = upairs.columns.filterNot(c => c == "id_a" || c == "id_b").toSeq
    val members = grp.select(col(idCol), col("__min"))
    val cross = upairs
      .join(members.select(col(idCol).as("ma"), col("__min").as("id_a")), Seq("id_a"))
      .join(members.select(col(idCol).as("mb"), col("__min").as("id_b")), Seq("id_b"))
      .select(least(col("ma"), col("mb")).as("id_a") +:
        greatest(col("ma"), col("mb")).as("id_b") +: valueCols.map(col): _*)
    val within = members.as("x")
      .join(members.as("y"),
        col("x.__min") === col("y.__min") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col("x.__min").as("__min"),
        col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .join(withinVals(reps), Seq("__min"))
      .select(col("id_a") +: col("id_b") +: valueCols.map(col): _*)
    cross.unionByName(within).orderBy(col("id_a"), col("id_b"))
  }

  /** dd_exact .. dd_ngram_jaccard — the exact / n-gram run of the
    * registry (order is part of the driver contract). */
  private[ops] lazy val exactQueries: Seq[QueryDef] = Seq(

    // Exact dedup groups over the content hash; every group here has
    // n_docs = 1 in clean data, so the query also proves no false
    // positives — and at 100 TB it is a single count-style shuffle.
    QueryDef(
      "dd_exact",
      (s, d) => {
        import s.implicits._
        exactGroups(table(s, d, "documents"), $"text", $"doc_id")
          .orderBy($"content_hash")
      },
      Some("""SELECT md5(lower(text)) AS content_hash,
                     min(doc_id) AS keeper, count(*) AS n_docs
              FROM documents GROUP BY 1 ORDER BY content_hash""")),

    // Cross-document duplicated 8-gram spans (exact-substring dedup,
    // n-gram form — see dupNgramStats): per doc, how much of it occurs
    // verbatim elsewhere in the corpus. The oracle replays the same
    // 60-bit portable gram hash, so the whole posting pipeline — not
    // just the output shape — is hash-compared.
    QueryDef(
      "dd_dup_ngrams",
      (s, d) => {
        import s.implicits._
        dupNgramStats(table(s, d, "documents"), $"doc_id", $"text", n = 8)
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
                SELECT doc_id,
                       [x for x in string_split_regex(lower(text), '\s+') if x != ''] AS toks
                FROM documents),
              g AS (
                SELECT doc_id,
                       CASE WHEN len(toks) >= 8
                            THEN list_distinct([array_to_string(toks[i:i+7], ' ')
                                                for i in range(1, len(toks) - 6)])
                            ELSE [] END AS grams
                FROM t),
              x AS (
                SELECT doc_id, ('0x' || substring(md5(gram), 1, 15))::BIGINT AS h
                FROM (SELECT doc_id, unnest(grams) AS gram FROM g)),
              c AS (SELECT h, count(*) AS nd FROM x GROUP BY h HAVING count(*) >= 2),
              p AS (
                SELECT x.doc_id, count(*) AS n_dup
                FROM x JOIN c USING (h) GROUP BY x.doc_id)
              SELECT g.doc_id, CAST(len(g.grams) AS BIGINT) AS n_grams,
                     CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup_grams,
                     CAST(coalesce(p.n_dup, 0) AS DOUBLE)
                       / greatest(len(g.grams), 1) AS dup_ratio
              FROM g LEFT JOIN p USING (doc_id)
              ORDER BY g.doc_id""")),

    // Longest verbatim duplicated span per document (positional
    // refinement of dd_dup_ngrams — see dupNgramSpans): r consecutive
    // duplicated 8-gram positions = an (r+7)-token copied span. The
    // islands-and-gaps window replays exactly in the oracle.
    QueryDef(
      "dd_dup_spans",
      (s, d) => {
        import s.implicits._
        dupNgramSpans(table(s, d, "documents"), $"doc_id", $"text", n = 8)
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
                SELECT doc_id,
                       [x for x in string_split_regex(lower(text), '\s+') if x != ''] AS toks
                FROM documents),
              p AS (
                SELECT doc_id, u.g['pos'] AS pos,
                       ('0x' || substring(md5(u.g['gram']), 1, 15))::BIGINT AS h
                FROM (
                  SELECT doc_id,
                         unnest([{'pos': i, 'gram': array_to_string(toks[i:i+7], ' ')}
                                 for i in range(1, len(toks) - 6)]) AS g
                  FROM t WHERE len(toks) >= 8) u),
              x AS (SELECT DISTINCT doc_id, h FROM p),
              c AS (SELECT h FROM x GROUP BY h HAVING count(*) >= 2),
              d AS (
                SELECT p.doc_id, p.pos,
                       p.pos - row_number() OVER (PARTITION BY p.doc_id ORDER BY p.pos) AS island
                FROM p JOIN c USING (h)),
              runs AS (
                SELECT doc_id, count(*) AS run_len
                FROM d GROUP BY doc_id, island),
              agg AS (
                SELECT doc_id, sum(run_len) AS n_dup_pos, max(run_len) AS longest_run
                FROM runs GROUP BY doc_id)
              SELECT t.doc_id,
                     CAST(greatest(len(t.toks) - 7, 0) AS BIGINT) AS n_gram_pos,
                     CAST(coalesce(a.n_dup_pos, 0) AS BIGINT) AS n_dup_pos,
                     CAST(CASE WHEN a.longest_run IS NULL THEN 0
                               ELSE a.longest_run + 7 END AS BIGINT) AS longest_dup_tokens
              FROM t LEFT JOIN agg a USING (doc_id)
              ORDER BY t.doc_id""")),

    // Exact-substring dedup APPLIED (see applySpanDedup): excise every
    // token covered by a non-canonical duplicated-8-gram occurrence,
    // keep the globally-first copy. The oracle replays occurrence
    // hashing, canonical struct-min selection, and the per-token
    // interval-coverage filter, then md5-pins the surviving text.
    QueryDef(
      "dd_apply_spans",
      (s, d) => {
        import s.implicits._
        applySpanDedup(table(s, d, "documents"), $"doc_id", $"text", n = 8)
          .orderBy($"doc_id")
      },
      Some(s"""WITH ${spanExcisionCtes("", "documents")}
              SELECT doc_id, n_tokens, n_removed,
                     md5(kept_text) AS kept_md5
              FROM x ORDER BY doc_id""")),

    // Directional containment pairs at C >= 0.9 (see containmentPairs
    // — the asymmetric case Jaccard misses). The oracle is the NAIVE
    // all-pairs containment over the same portable uh30 gram sets:
    // the engine's prefix-filtered plan must reproduce it exactly,
    // so candidate COMPLETENESS itself is what the compare checks.
    QueryDef(
      "dd_containment",
      (s, d) => {
        import s.implicits._
        containmentPairs(table(s, d, "documents"), tn = 9, td = 10)
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH t AS (
                SELECT doc_id, [x for x in string_split_regex(lower(text), '\s+') if x != ''] AS toks
                FROM documents),
              g AS (
                SELECT doc_id,
                       CASE WHEN len(toks) >= 3
                            THEN list_distinct([array_to_string(toks[i:i+2], ' ')
                                                for i in range(1, len(toks) - 1)])
                            ELSE [] END AS grams
                FROM t),
              h AS (
                SELECT doc_id,
                       list_distinct([(('0x' || substring(md5(x), 1, 15))::BIGINT % 1073741824)
                                      for x in grams]) AS hs
                FROM g),
              n AS (SELECT doc_id, hs, len(hs) AS n FROM h WHERE len(hs) >= 5),
              pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
                       CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS inter
                FROM n a JOIN n b ON a.doc_id <> b.doc_id)
              SELECT id_a, id_b, n_a, n_b, inter,
                     CAST(inter AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment
              FROM pairs WHERE inter * 10 >= n_a * 9
              ORDER BY id_a, id_b""")),

    // Banded brute-force n-gram Jaccard: candidate pairs restricted to
    // adjacent length bands (near-dups have near-equal lengths) — the
    // oracle-checkable ground truth the probabilistic variants are
    // validated against. Spark-first blocking: each doc explodes to
    // band keys {b, b+1}, so adjacency becomes a plain equi-join
    // (shuffled hash join) instead of a non-equi nested-loop join.
    // Pairwise cost controls: grams are 64-bit hashes (not strings),
    // and a size-ratio prefilter kills pairs that cannot reach the
    // threshold (J >= t implies |A|/|B| in [t, 1/t]) before any set op.
    QueryDef(
      "dd_ngram_jaccard",
      (s, d) => {
        import s.implicits._
        // Prefix-filtered set-similarity join at t = 0.2 (Bayardo
        // WWW'07 + PPJoin length/positional filters — see
        // prefixCandidates): candidate volume is bounded by prefix
        // collisions, NOT Σ df(gram)² — a hot gram indexes only in
        // the df-ASC suffix and never joins, so the plan survives a
        // corpus where one band shares a stop-gram. The band-adjacency
        // block (near-dups have near-equal lengths; semantics of this
        // query) rides the candidate equi-join key via side-a key
        // replication {band-1, band, band+1}. Grams are 64-bit
        // xxhash64 identities (collision odds ~n²/2⁻⁶⁴ per doc —
        // negligible, and the count-based verify is exact over them).
        // Pair-output collapse+expand (collapseExpandPairs), grouped
        // on (content, n_chars) because the length band keys on
        // n_chars: twins share postings AND bands, so rep pairs
        // reproduce every cross-group sim and within-group member
        // pairs are sim = 1.0 (gated on the rep having grams —
        // gramless docs never post).
        collapseExpandPairs(table(s, d, "documents"), "doc_id",
            Seq(md5(lower($"text")), $"n_chars")) { reps =>
          val banded = reps.select($"doc_id", $"text",
            floor($"n_chars" / lit(50)).cast("int").as("band"))
          val (_, cand) = prefixCandidates(
            banded, tn = 1, td = 5, hashKind = "xx64", banded = true)
          // Verify per PAIR on sorted in-row gram arrays (PPJoin-style
          // verification): at t = 0.2 prefixes hold ~80% of postings,
          // so the candidate set is collision-rich (sf0.1: 190k pairs
          // for 25 survivors) and the former postings-join verify
          // expanded each pair by its FULL posting set — 13M join rows
          // shuffled to count 25 intersections. Joining the candidate
          // PAIRS (two narrow equi-joins) against one array row per
          // doc and counting with the codegen'd two-pointer merge
          // moves 2x|cand| rows instead — Σ|grams| bytes ride the
          // join value, never a per-gram row explosion.
          val arrays = banded.select($"doc_id",
            sort_array(graft.functions.TextShingles
              .hashedWordShingles($"text", 3, "xx64")).as("xs"))
          val inter = graft.functions.TextShingles
            .sortedLongIntersectCount($"xsa", $"xsb")
          cand
            .join(arrays.select($"doc_id".as("id_a"), $"xs".as("xsa")), Seq("id_a"))
            .join(arrays.select($"doc_id".as("id_b"), $"xs".as("xsb")), Seq("id_b"))
            .withColumn("inter", inter)
            .select($"id_a", $"id_b", ($"inter".cast("double") /
              (size($"xsa") + size($"xsb") - $"inter")).as("sim"))
            .filter($"sim" >= 0.2)
        } { reps =>
          reps.filter(size(graft.functions.TextShingles.wordShingles($"text", 3)) > 0)
            .select($"doc_id".as("__min"), lit(1.0).as("sim"))
        }
      },
      Some("""WITH t AS (
                SELECT doc_id, floor(n_chars / 50) AS band,
                       list_distinct(CASE WHEN len(toks) >= 3
                         THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
                         ELSE [] END) AS grams
                FROM (SELECT doc_id, n_chars,
                             [x for x in string_split_regex(lower(text), '\s+') if x != ''] AS toks
                      FROM documents))
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                       / len(list_distinct(a.grams || b.grams)) AS sim
              FROM t a JOIN t b ON abs(a.band - b.band) <= 1 AND a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                      / len(list_distinct(a.grams || b.grams)) >= 0.2
              ORDER BY id_a, id_b""")),
  )

  /** dd_simhash (sits between dd_decontaminate and dd_apply in the
    * registry; [[Dedup.queries]] splices it there). */
  private[ops] lazy val simhashQueries: Seq[QueryDef] = Seq(

    // SimHash signatures + hamming-banded near-dup pairs (<= 3 bits
    // apart; with four equal chunks the pigeonhole guarantee of a
    // shared chunk holds exactly for hamming < 4, so the chunk
    // equi-join has perfect recall at this threshold — a looser
    // threshold would need more/smaller chunks). Uses the portable
    // 60-bit md5-prefix token hash (4 chunks x 15 bits) so DuckDB
    // replays signatures, banding and hamming verify exactly.
    QueryDef(
      "dd_simhash",
      (s, d) => {
        import s.implicits._
        // collapseExpandPairs contract holds because identical texts
        // share the token multiset, hence the signature, hence every
        // chunk bucket; rep pairs reproduce every cross-group pair's
        // hamming, within-group member pairs are hamming 0 (gated on
        // the rep having >= 1 token — tokenless docs emit no signature
        // and never pair).
        collapseExpandPairs(table(s, d, "documents"), "doc_id",
            Seq(md5(lower($"text")))) { reps =>
          val sigs = simhashChunksAggCounted(
              reps, $"doc_id", $"text",
              hash = c => graft.functions.PortableHash.md5Hash60(c),
              bits = 60)
            .withColumnRenamed("id", "doc_id")
          val chunked = sigs
            .withColumn("chunk_id", explode(sequence(lit(0), lit(3))))
            .withColumn("chunk", element_at($"sig", $"chunk_id" + lit(1)))
          val a = chunked.select($"chunk_id", $"chunk", $"doc_id".as("id_a"), $"sig".as("sig_a"))
          val b = chunked.select($"chunk_id", $"chunk", $"doc_id".as("id_b"), $"sig".as("sig_b"))
          a.join(b, Seq("chunk_id", "chunk"))
            .filter($"id_a" < $"id_b")
            .select($"id_a", $"id_b", hammingChunks($"sig_a", $"sig_b").as("hamming"))
            .filter($"hamming" <= 3)
            .distinct()
        } { reps =>
          reps.filter(size(tokens($"text")) > 0)
            .select($"doc_id".as("__min"), lit(0).as("hamming"))
        }
      },
      Some {
        val chunkExprs = (0 until 4).map { c =>
          "(" + (0 until 15).map { j =>
            val bit = 15 * c + j
            s"(CASE WHEN 2 * len([x for x in hs if (x >> $bit) & 1 = 1]) > n THEN ${1 << (14 - j)} ELSE 0 END)"
          }.mkString(" + ") + ")"
        }.mkString(",\n                       ")
        s"""WITH gm AS (
              SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(lower(text))) AS mn
              FROM documents),
            t AS (
              SELECT doc_id,
                     [x for x in string_split_regex(lower(text), '\\s+') if x != ''] AS toks
              FROM (SELECT doc_id, text FROM (
                      SELECT doc_id, text,
                             min(doc_id) OVER (PARTITION BY md5(lower(text))) AS mn
                      FROM documents) WHERE doc_id = mn)),
            h AS (
              SELECT doc_id,
                     [('0x' || substring(md5(t), 1, 15))::BIGINT for t in toks] AS hs,
                     len(toks) AS n
              FROM t WHERE len(toks) > 0),
            sg AS (
              SELECT doc_id,
                     [$chunkExprs] AS sig
              FROM h),
            ch AS (
              SELECT doc_id, sig, unnest(sig) AS chunk, unnest([0, 1, 2, 3]) AS chunk_id
              FROM sg),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                              a.sig AS sig_a, b.sig AS sig_b
              FROM ch a JOIN ch b
                ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk
               AND a.doc_id < b.doc_id),
            upairs AS (
              SELECT id_a, id_b,
                     CAST(list_sum([bit_count(xor(x[1]::BIGINT, x[2]::BIGINT))
                                    for x in list_zip(sig_a, sig_b)]) AS INT) AS hamming
              FROM cand
              WHERE CAST(list_sum([bit_count(xor(x[1]::BIGINT, x[2]::BIGINT))
                                   for x in list_zip(sig_a, sig_b)]) AS INT) <= 3),
            cross_pairs AS (
              SELECT least(ma.doc_id, mb.doc_id) AS id_a,
                     greatest(ma.doc_id, mb.doc_id) AS id_b, u.hamming
              FROM upairs u
              JOIN gm ma ON ma.mn = u.id_a
              JOIN gm mb ON mb.mn = u.id_b),
            within_pairs AS (
              SELECT x.doc_id AS id_a, y.doc_id AS id_b, CAST(0 AS INT) AS hamming
              FROM gm x JOIN gm y ON x.mn = y.mn AND x.doc_id < y.doc_id
              JOIN h ON h.doc_id = x.mn)
            SELECT id_a, id_b, hamming FROM cross_pairs
            UNION ALL
            SELECT id_a, id_b, hamming FROM within_pairs
            ORDER BY id_a, id_b"""
      }),
  )
}
