package graft.ops

import graft.QueryDef
import graft.model.Tables.table
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The MinHash-LSH family of [[Dedup]] — signatures, banding,
  * symmetric near-dup pairs, decontamination, and the incremental /
  * stored / takedown admission closure over the frozen corpus index.
  * Implementation part of the [[Dedup]] object. */
trait DedupLshPart { this: Dedup.type =>

  /** Incremental minhash-LSH dedup — the dedup family's `add()` path,
    * the batch twin of the ONLINE keep-first index
    * ([[graft.streaming.NearDup]] / `w_dedup_first`) and the dedup
    * mirror of `s_ann_ivf_add`: a continuously-ingesting 100 TB
    * corpus does NOT re-pair itself per arriving batch. The corpus
    * keeps its minhash signatures + band postings as a FROZEN index
    * (leased here; a stored table at a deployment), and an arriving
    * batch is admitted by (1) banding the BATCH only, (2) joining
    * batch bands against corpus bands — the corpus always wins, id
    * order irrelevant — and (3) joining batch bands against
    * themselves under keep-first id order. Candidate volume is
    * batch-sized on one side of every join; corpus×corpus pairing
    * never happens (that cost was paid once, by `dd_apply_lsh`, when
    * the corpus was built).
    *
    * Semantics mirror the streaming index with arrival order =
    * (corpus, then batch by id): a batch doc is dominated iff some
    * corpus doc, or some earlier batch doc, verifies at
    * jaccard >= `threshold`. Gramless docs (under 3 tokens) emit no
    * signature and always survive — the same eligibility rule every
    * minhash operator here applies. Returns the surviving batch rows
    * (original schema). */
  def lshIncrementSurvivors(
      base: DataFrame, batch: DataFrame, threshold: Double = 0.5,
      h: Int = 32, b: Int = 16): DataFrame = {
    // the frozen corpus index (signatures + xs sets): band postings
    // and the verify stage both read it — leased, never rebuilt per
    // consumer.
    val sigO = Checkpoints.lease("lshinc_base",
      minhashSignatures(base, col("doc_id"), col("text"), h))
    lshIncrementFromIndex(sigO,
      sigO.select(col("id"), explode(array(minhashBandKeys(h, b): _*)).as("band")),
      batch, threshold, h, b)
  }

  /** [[lshIncrementSurvivors]]'s admission core against a PRE-BUILT
    * frozen corpus index: `sigO` is the signature frame
    * ([[minhashSignatures]]'s (id, xs, __sig) — leased in-session, or
    * reloaded from [[IndexStore]] parquet), `bandsO` its exploded
    * (id, band) postings. The batch side leases for its own two
    * consumers; the corpus side is read as given — for a reloaded
    * index that is a plain parquet FileScan, no lease and no lineage
    * back to the corpus text. */
  def lshIncrementFromIndex(
      sigO: DataFrame, bandsO: DataFrame, batch: DataFrame,
      threshold: Double = 0.5, h: Int = 32, b: Int = 16): DataFrame = {
    val sigN = Checkpoints.lease("lshinc_batch",
      minhashSignatures(batch, col("doc_id"), col("text"), h))
    val bandsN = sigN.select(col("id"),
      explode(array(minhashBandKeys(h, b): _*)).as("band"))
    val candCorpus = bandsN.as("a")
      .join(bandsO.as("o"), col("a.band") === col("o.band"))
      .select(col("a.id").as("id_n"), col("o.id").as("id_o")).distinct()
    val candBatch = bandsN.as("a")
      .join(bandsN.as("p"), col("a.band") === col("p.band") && col("p.id") < col("a.id"))
      .select(col("a.id").as("id_n"), col("p.id").as("id_o")).distinct()
    def verified(cand: DataFrame, sigOther: DataFrame) = cand
      .join(sigN.select(col("id").as("id_n"), col("xs").as("xs_n")), Seq("id_n"))
      .join(sigOther.select(col("id").as("id_o"), col("xs").as("xs_o")), Seq("id_o"))
      .filter(jaccard(col("xs_n"), col("xs_o")) >= threshold)
      .select(col("id_n"))
    val dominated = verified(candCorpus, sigO)
      .unionByName(verified(candBatch, sigN))
      .distinct().toDF("doc_id")
    batch.join(dominated, Seq("doc_id"), "left_anti")
  }

  private val lshStoreSeq = new java.util.concurrent.atomic.AtomicLong()

  /** The durable round-trip for the dedup corpus index — the LSH twin
    * of `s_ann_ivf_stored`'s cycle: build the corpus signature frame
    * ONCE (the text is scanned exactly once — the band postings are
    * derived from the STORED signatures, not recomputed), SAVE both
    * frames as parquet artifacts, RELOAD them, and admit the batch
    * against the reloaded index. Values are bit-identical to
    * [[lshIncrementSurvivors]] (parquet round-trips the
    * long/long-array schema exactly; IndexStoreSpec pins
    * admission-decision equality in a fresh session), so the same
    * oracle covers both. The reloaded corpus lineage is a plain
    * parquet FileScan — a deployment's day-2 admission job needs zero
    * knowledge of how the index was built. */
  def lshStoredSurvivors(
      base: DataFrame, batch: DataFrame, threshold: Double = 0.5,
      h: Int = 32, b: Int = 16): DataFrame = {
    val s = batch.sparkSession
    val root = IndexStore.scratchRoot(s, "lshstore", lshStoreSeq.incrementAndGet())
    IndexStore.save(root,
      "lsh_sigs" -> minhashSignatures(base, col("doc_id"), col("text"), h))
    val sigStored = IndexStore.load(s, root, "lsh_sigs")
    IndexStore.save(root, "lsh_bands" -> sigStored.select(col("id"),
      explode(array(minhashBandKeys(h, b): _*)).as("band")))
    lshIncrementFromIndex(
      IndexStore.load(s, root, "lsh_sigs"),
      IndexStore.load(s, root, "lsh_bands"),
      batch, threshold, h, b)
  }

  /** TAKEDOWN + admit: the stored corpus index is compacted by a
    * document tombstone set (one `IndexStore.compact` anti-join
    * rewrite of the signature frame; the band postings REBUILD from
    * the compacted primary, so no stale posting can resurrect a
    * forgotten document), then the batch is admitted against the
    * compacted index. Values equal admitting against the corpus minus
    * the tombstoned documents — `dd_lsh_takedown` pins that under the
    * increment oracle with the corpus relation filtered. */
  def lshTakedownSurvivors(
      base: DataFrame, batch: DataFrame, tombstones: DataFrame,
      threshold: Double = 0.5, h: Int = 32, b: Int = 16): DataFrame = {
    val s = batch.sparkSession
    val root = IndexStore.scratchRoot(s, "lshtakedown", lshStoreSeq.incrementAndGet())
    IndexStore.save(root,
      "lsh_sigs" -> minhashSignatures(base, col("doc_id"), col("text"), h))
    IndexStore.compact(s, root, "lsh_sigs", tombstones, idCol = "id")
    val sigStored = IndexStore.load(s, root, "lsh_sigs")
    IndexStore.save(root, "lsh_bands" -> sigStored.select(col("id"),
      explode(array(minhashBandKeys(h, b): _*)).as("band")))
    lshIncrementFromIndex(
      IndexStore.load(s, root, "lsh_sigs"),
      IndexStore.load(s, root, "lsh_bands"),
      batch, threshold, h, b)
  }

  /** MinHash+LSH near-dup pairs, columnar form: shingles exploded to
    * (id, gram-hash) postings; the h-wide signature is h `min`
    * aggregates over permuted hashes (one hash-aggregate pass, no
    * array churn); bands of r signature slots hash to bucket keys; the
    * bucket equi-join yields candidates; exact Jaccard over the
    * distinct 30-bit gram-hash sets verifies. Output (id_a, id_b,
    * sim), id_a < id_b, one row per pair.
    *
    * The verify stage joins the gram-hash SETS carried on the
    * signature rows (collect_list alongside the min aggregates, one
    * extra array column through the one aggregation that already
    * exists) — rejoining freshly-derived shingle arrays would
    * re-tokenize the whole corpus two more times at 100 TB, and a
    * per-gram postings join would shuffle |candidates| x |grams| rows.
    * Jaccard over distinct hash sets equals gram Jaccard up to 30-bit
    * in-document collisions (~n²/2³¹ per doc — negligible), and BOTH
    * engines compute the hash-set form, so the oracle parity is exact
    * even when a collision occurs.
    *
    * The hash family is [[graft.functions.PortableHash]]'s universal
    * hashing over a 30-bit md5-prefix base (one md5 per posting, h
    * integer permutations) so the ENTIRE pipeline — signatures,
    * banding, candidates, verify — replays in the DuckDB oracle (see
    * the dd_minhash_lsh oracle SQL); a deployment preferring xxhash64
    * swaps the two hash call sites. */
  /** The in-row signature stage shared by the symmetric and asymmetric
    * minhash operators: (id, xs = deduped 30-bit gram-hash set,
    * __sig = h-slot signature), gramless docs dropped. */
  private[graft] def minhashSignatures(
      docs: DataFrame, id: Column, text: Column, h: Int,
      keep: Seq[Column] = Nil): DataFrame =
    docs
      .select(id.as("id") +:
        graft.functions.TextShingles.hashedWordShingles(text, 3, "uh30").as("xs") +:
        keep: _*)
      .filter(size(col("xs")) > 0)
      .withColumn("__sig", graft.functions.MinhashSlots.minhashSlots(col("xs"), h))

  /** Band bucket keys over a `__sig` column: b keys of r slots each. */
  private[graft] def minhashBandKeys(h: Int, b: Int): Seq[Column] = {
    val r = h / b
    (0 until b).map { i =>
      md5(concat_ws(",", lit(i.toString) +:
        (0 until r).map(j => element_at(col("__sig"), r * i + j + 1)): _*))
    }
  }

  def minhashNearDups(
      docs: DataFrame, id: Column, text: Column,
      threshold: Double, h: Int = 32, b: Int = 16): DataFrame = {
    // The whole signature stage is IN-ROW: HashedWordShingles emits
    // the deduped 30-bit gram-hash set per doc (one compiled pass) and
    // MinhashSlots folds the h universal-hash minima over it — where
    // the former pipeline exploded postings and shuffled them into a
    // groupBy of h min-aggregates + collect_set, the signature now
    // needs NO exchange at all. Hash-set dedupe before the mins keeps
    // a 30-bit in-document collision from double-counting in the
    // verify stage, exactly like the collect_set form. Gramless docs
    // are filtered here (they produced no aggregate row before, and
    // can never become candidates either way).
    // leased: the signature frame feeds the band explode AND both
    // verify join sides — without it the in-row shingle/minhash kernel
    // (the expensive per-doc pass) evaluates three times per run
    val sigs = Checkpoints.lease("minhash_sigs",
      minhashSignatures(docs, id, text, h))
    val bands = sigs.select(col("id"),
      explode(array(minhashBandKeys(h, b): _*)).as("band"))
    val cand = bands.as("a")
      .join(bands.as("b"), col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(sigs.select(col("id").as("id_a"), col("xs").as("xs_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("xs").as("xs_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("xs_a"), col("xs_b")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Decontamination — asymmetric near-dup scrub: remove from `docs`
    * every document whose minhash-verified similarity to ANY document
    * of `blocklist` reaches `threshold`. The pretraining-data step
    * that keeps benchmark/eval text out of a training corpus; unlike
    * [[minhashNearDups]] nothing in `docs` is compared to itself, and
    * the blocklist is read-only.
    *
    * Scale shape: both sides run the IN-ROW signature stage (zero
    * exchanges); candidates are an equi-join of the two band sets with
    * the blocklist side BROADCAST — benchmarks are thousands of
    * documents while the corpus is the 100 TB side, so the corpus
    * streams through map-side joins and only its contaminated ids ever
    * shuffle (for the distinct + anti-join). Verification is exact
    * hash-set jaccard on candidate pairs only, against the same
    * portable hash family, so the whole pipeline replays in DuckDB.
    *
    * The broadcast is GUARDED, not assumed: the blocklist's dominant
    * broadcast payload is its distinct gram-hash sets (`xs` —
    * proportional to total blocklist TEXT, not document count), and a
    * caller feeding a corpus-sized "blocklist" would otherwise die on
    * Spark's 8 GB broadcast ceiling / driver heap at exactly the scale
    * this operator advertises. One blocklist-side aggregate (cheap by
    * the small-side contract; the corpus side is untouched) measures
    * the payload; past `broadcastMaxGrams` (default 32M grams ≈ 256 MB
    * of longs — comfortably inside executor and driver budgets) the
    * hints are dropped and the join strategy is left to Catalyst +
    * AQE, which re-plans from RUNTIME sizes: correct at any blocklist
    * scale, merely slower than the map-side fast path.
    * Returns the surviving rows of `docs` (original schema). */
  def decontaminate(
      docs: DataFrame, blocklist: DataFrame, idCol: String, text: Column,
      threshold: Double, h: Int = 32, b: Int = 16,
      broadcastMaxGrams: Long = 32L << 20): DataFrame = {
    val ds = minhashSignatures(docs, col(idCol), text, h)
    val bs = minhashSignatures(blocklist, col(idCol), text, h)
    val blockGrams = bs.agg(coalesce(sum(size(col("xs"))), lit(0L)))
      .head().getLong(0)
    val hint: DataFrame => DataFrame =
      if (blockGrams <= broadcastMaxGrams) broadcast else identity
    val dBands = ds.select(col("id"),
      explode(array(minhashBandKeys(h, b): _*)).as("band"))
    val bBands = bs.select(col("id").as("bid"),
      explode(array(minhashBandKeys(h, b): _*)).as("band"))
    val cand = dBands.join(hint(bBands), Seq("band"))
      .select(col("id"), col("bid")).distinct()
    val contaminated = cand
      .join(ds.select(col("id"), col("xs")), Seq("id"))
      .join(hint(bs.select(col("id").as("bid"), col("xs").as("xs_b"))), Seq("bid"))
      .filter(jaccard(col("xs"), col("xs_b")) >= threshold)
      .select(col("id").as(idCol)).distinct()
    docs.join(contaminated, Seq(idCol), "left_anti")
  }

  /** One side of the minhash pipeline as prefixed CTEs
    * (`<p>t`/`<p>ne`/`<p>xb`/`<p>sig`/`<p>bands`) over `docsRel` — the
    * building block both the symmetric ([[minhashOracleCtesFrom]]) and
    * asymmetric (dd_decontaminate) oracles assemble from. */
  private[graft] def minhashSideCtes(p: String, docsRel: String): String = {
    import graft.functions.PortableHash.{duckdbUhApply, duckdbUhBase}
    val slots = (0 until 32).map(i =>
      s"list_min([${duckdbUhApply(i, "x")} for x in xs])")
      .mkString(",\n                         ")
    val bandKeys = (0 until 16).map(i =>
      s"md5('$i' || ',' || CAST(m[${2 * i + 1}] AS VARCHAR) || ',' || CAST(m[${2 * i + 2}] AS VARCHAR))")
      .mkString(",\n                         ")
    s"""${p}t AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(toks) >= 3
                   THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
                   ELSE [] END) AS grams
          FROM (SELECT doc_id,
                       [x for x in string_split_regex(lower(text), '\\s+') if x != ''] AS toks
                FROM $docsRel)),
        ${p}ne AS (SELECT doc_id, grams FROM ${p}t WHERE len(grams) > 0),
        ${p}xb AS (SELECT doc_id,
                 list_distinct([${duckdbUhBase("g")} for g in grams]) AS xs
               FROM ${p}ne),
        ${p}sig AS (SELECT doc_id,
                   [$slots] AS m
                FROM ${p}xb),
        ${p}bands AS (SELECT doc_id,
                   unnest([$bandKeys]) AS band
                  FROM ${p}sig)"""
  }

  /** The dd_decontaminate oracle: the 20/80 md5 id split, both sides'
    * minhash pipelines, banded candidates, exact-jaccard contamination
    * at t = 0.5, training anti-join. SHARED with w_decontaminate (the
    * broadcast-index online form): identical semantics by
    * construction, so the driver's hash-compare holds the two plans to
    * bit-equality. */
  private[graft] lazy val decontaminateOracleSql: String =
    decontaminateOracleSqlFor("TRUE")

  /** The decontamination replay parameterized by a BLOCKLIST-side
    * predicate — the takedown form (`w_decontaminate_takedown`)
    * replays scrubbing against the benchmark minus the tombstoned
    * ids, which is exactly what compacting the stored blocklist
    * artifact must equal (the training side is untouched). */
  private[graft] def decontaminateOracleSqlFor(bmPred: String): String =
    decontaminateOracleSqlSplit(20, 20, bmPred)

  /** The replay with the md5-bucket SPLIT itself parameterized:
    * training = bucket >= `trMin`, blocklist = bucket < `bmMax`
    * (+ `bmPred`) — the add form (`w_decontaminate_add`) carves a
    * second benchmark slice out of the bucket space, so the stored
    * blocklist plus the appended slice must equal scrubbing against
    * the whole `bucket < bmMax` range. */
  private[graft] def decontaminateOracleSqlSplit(
      trMin: Int, bmMax: Int, bmPred: String = "TRUE"): String = {
    val split = """(SELECT *,
                    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 100 AS bucket
                    FROM documents)"""
    s"""WITH tr AS (SELECT doc_id, text, source, n_chars FROM $split WHERE bucket >= $trMin),
        bm AS (SELECT doc_id, text FROM $split WHERE bucket < $bmMax AND ($bmPred)),
        ${minhashSideCtes("a_", "tr")},
        ${minhashSideCtes("b_", "bm")},
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM a_bands a JOIN b_bands b ON a.band = b.band),
        contaminated AS (
          SELECT DISTINCT c.id_a AS doc_id
          FROM cand c
          JOIN a_xb xa ON xa.doc_id = c.id_a
          JOIN b_xb xb2 ON xb2.doc_id = c.id_b
          WHERE CAST(len(list_intersect(xa.xs, xb2.xs)) AS DOUBLE)
                / (len(xa.xs) + len(xb2.xs) - len(list_intersect(xa.xs, xb2.xs))) >= 0.5)
        SELECT doc_id, source, n_chars FROM tr
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        ORDER BY doc_id"""
  }

  /** Shared oracle CTE chain replaying [[minhashNearDups]] in DuckDB
    * up to the verified (id_a, id_b, sim) pair set over `docsRel`;
    * consumers append their own threshold filter / anti-join.
    * dd_apply_lsh feeds exact-content group representatives instead of
    * the full corpus. */
  private[graft] def minhashOracleCtesFrom(docsRel: String): String =
    s"""WITH ${minhashSideCtes("", docsRel)},
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.doc_id < b.doc_id),
        verified AS (
          SELECT c.id_a, c.id_b,
                 CAST(len(list_intersect(xa.xs, xb2.xs)) AS DOUBLE)
                   / (len(xa.xs) + len(xb2.xs) - len(list_intersect(xa.xs, xb2.xs))) AS sim
          FROM cand c
          JOIN xb xa ON xa.doc_id = c.id_a
          JOIN xb xb2 ON xb2.doc_id = c.id_b)"""

  /** The dd_minhash_lsh pair set — (id_a, id_b, sim) at t = 0.5 —
    * factored out so dd_cross_source can aggregate over the SAME
    * pairs. collapseExpandPairs' contract holds because identical
    * texts share signatures, bands, and exact hash-set Jaccard, so
    * rep pairs reproduce every cross-group pair's sim, and
    * within-group member pairs have sim = 1.0 exactly (n/n) — gated
    * by rep eligibility (nonempty shingles). */
  private[graft] def minhashLshPairs(docs: DataFrame): DataFrame =
    collapseExpandPairs(docs, "doc_id", Seq(md5(lower(col("text"))))) { reps =>
      minhashNearDups(
        reps.select(col("doc_id"), col("text")), col("doc_id"), col("text"), 0.5)
    } { reps =>
      reps.filter(size(graft.functions.TextShingles.wordShingles(col("text"), 3)) > 0)
        .select(col("doc_id").as("__min"), lit(1.0).as("sim"))
    }

  /** [[minhashLshPairs]] replayed in DuckDB — shared verbatim between
    * dd_minhash_lsh and dd_cross_source (which wraps it as a
    * subquery), so both queries pin the same pair set. */
  private[graft] lazy val minhashLshPairsOracleSql: String = {
    val reps = """(SELECT doc_id, text FROM (
                    SELECT doc_id, text,
                           min(doc_id) OVER (PARTITION BY md5(lower(text))) AS mn
                    FROM documents) WHERE doc_id = mn)"""
    s"""${minhashOracleCtesFrom(reps)},
        gm AS (
          SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(lower(text))) AS mn
          FROM documents),
        upairs AS (SELECT id_a, id_b, sim FROM verified WHERE sim >= 0.5),
        cross_pairs AS (
          SELECT least(ma.doc_id, mb.doc_id) AS id_a,
                 greatest(ma.doc_id, mb.doc_id) AS id_b, u.sim
          FROM upairs u
          JOIN gm ma ON ma.mn = u.id_a
          JOIN gm mb ON mb.mn = u.id_b),
        within_pairs AS (
          SELECT x.doc_id AS id_a, y.doc_id AS id_b, 1.0 AS sim
          FROM gm x JOIN gm y ON x.mn = y.mn AND x.doc_id < y.doc_id
          JOIN ne ON ne.doc_id = x.mn)
        SELECT id_a, id_b, sim FROM cross_pairs
        UNION ALL
        SELECT id_a, id_b, sim FROM within_pairs
        ORDER BY id_a, id_b"""
  }

  /** The shared day-2 fixture of `dd_lsh_increment` / `dd_lsh_stored`:
    * the first 30 docs re-ingested three ways — verbatim (+1,000,000)
    * and two identical 40-char prefixes (+2,000,000 / +3,000,000) —
    * admitted by `admit(base, batch)`. */
  private def lshIncrementQuery(s: SparkSession, d: String)(
      admit: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    import s.implicits._
    val base = table(s, d, "documents").select($"doc_id", $"text")
    val b0 = base.filter($"doc_id" < 30)
    val batch = b0.select(($"doc_id" + 1000000L).as("doc_id"), $"text")
      .unionByName(b0.select(($"doc_id" + 2000000L).as("doc_id"),
        substring($"text", 1, 40).as("text")))
      .unionByName(b0.select(($"doc_id" + 3000000L).as("doc_id"),
        substring($"text", 1, 40).as("text")))
    admit(base, batch)
      .select($"doc_id", md5($"text").as("content_md5"))
      .orderBy($"doc_id")
  }

  private lazy val lshIncrementOracle: String = lshIncrementOracleFor("documents")

  /** The increment replay parameterized by the CORPUS relation — the
    * takedown form replays admission against `documents` minus the
    * forgotten ids, which is exactly what compaction must equal. */
  private def lshIncrementOracleFor(corpusRel: String): String = {
        val jac = (a: String, o: String) =>
          s"""CAST(len(list_intersect($a.xs, $o.xs)) AS DOUBLE)
                / (len($a.xs) + len($o.xs) - len(list_intersect($a.xs, $o.xs)))"""
        s"""WITH nb AS (
              SELECT doc_id + 1000000 AS doc_id, text
              FROM documents WHERE doc_id < 30
              UNION ALL
              SELECT doc_id + 2000000 AS doc_id, substring(text, 1, 40) AS text
              FROM documents WHERE doc_id < 30
              UNION ALL
              SELECT doc_id + 3000000 AS doc_id, substring(text, 1, 40) AS text
              FROM documents WHERE doc_id < 30),
            ${minhashSideCtes("o_", corpusRel)},
            ${minhashSideCtes("n_", "nb")},
            candc AS (
              SELECT DISTINCT a.doc_id AS id_n, o.doc_id AS id_o
              FROM n_bands a JOIN o_bands o ON a.band = o.band),
            candb AS (
              SELECT DISTINCT a.doc_id AS id_n, p.doc_id AS id_o
              FROM n_bands a JOIN n_bands p
                ON a.band = p.band AND p.doc_id < a.doc_id),
            domc AS (
              SELECT DISTINCT c.id_n FROM candc c
              JOIN n_xb xa ON xa.doc_id = c.id_n
              JOIN o_xb xo ON xo.doc_id = c.id_o
              WHERE ${jac("xa", "xo")} >= 0.5),
            domb AS (
              SELECT DISTINCT c.id_n FROM candb c
              JOIN n_xb xa ON xa.doc_id = c.id_n
              JOIN n_xb xo ON xo.doc_id = c.id_o
              WHERE ${jac("xa", "xo")} >= 0.5),
            dom AS (SELECT id_n FROM domc UNION SELECT id_n FROM domb)
            SELECT doc_id, md5(text) AS content_md5 FROM nb
            WHERE doc_id NOT IN (SELECT id_n FROM dom)
            ORDER BY doc_id"""
  }

  /** dd_minhash_lsh .. dd_lsh_takedown — the LSH run of the
    * registry. */
  private[ops] lazy val lshQueries: Seq[QueryDef] = Seq(

    // MinHash+LSH near-dup pipeline (shingle -> 32-hash signature ->
    // 16 bands of 2 -> bucket join -> exact-Jaccard verify). The
    // portable md5-prefix hash family lets DuckDB replay the ENTIRE
    // pipeline — signatures, banding, candidate join, verify — so the
    // probabilistic operator is hash-checked end to end, not rows-only.
    QueryDef(
      "dd_minhash_lsh",
      (s, d) => minhashLshPairs(table(s, d, "documents")),
      Some(minhashLshPairsOracleSql)),

    // Cross-source duplication matrix: the dd_minhash_lsh pair set
    // labeled by each side's source and counted per (unordered)
    // source pair — the provenance view a corpus audit runs to see
    // which sources copy from which (and how much self-duplication
    // each carries). Pairs are pair-bound (never all-pairs); the two
    // label joins key the SMALL pair side against the corpus-sized
    // (doc_id, source) projection, and the final aggregate has at
    // most |sources|^2 groups.
    QueryDef(
      "dd_cross_source",
      (s, d) => {
        import s.implicits._
        val src = table(s, d, "documents").select($"doc_id", $"source")
        minhashLshPairs(table(s, d, "documents"))
          .join(src.select($"doc_id".as("id_a"), $"source".as("src_a")), Seq("id_a"))
          .join(src.select($"doc_id".as("id_b"), $"source".as("src_b")), Seq("id_b"))
          .groupBy(
            least($"src_a", $"src_b").as("source_a"),
            greatest($"src_a", $"src_b").as("source_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy($"source_a", $"source_b")
      },
      Some(s"""SELECT least(da.source, db.source) AS source_a,
                      greatest(da.source, db.source) AS source_b,
                      count(*) AS n_pairs
               FROM ($minhashLshPairsOracleSql) p
               JOIN documents da ON da.doc_id = p.id_a
               JOIN documents db ON db.doc_id = p.id_b
               GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Applied dedup AT SCALE: the corpus minus docs dominated by a
    // lower-id minhash near-dup partner — the production form of
    // dd_apply (whose inverted-index ground truth has no banding and
    // therefore an unbanded Σ df² intermediate). This one's candidate
    // generation is LSH-bounded end to end, and the whole pipeline
    // still replays in the oracle.
    QueryDef(
      "dd_apply_lsh",
      (s, d) => {
        import s.implicits._
        applyLshSurvivors(table(s, d, "documents"))
          .select($"doc_id", $"source", $"n_chars")
          .orderBy($"doc_id")
      },
      Some {
        val reps = """(SELECT doc_id, text FROM (
                        SELECT doc_id, text,
                               min(doc_id) OVER (PARTITION BY md5(lower(text))) AS mn
                        FROM documents) WHERE doc_id = mn)"""
        s"""${minhashOracleCtesFrom(reps)},
            gm AS (
              SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(lower(text))) AS mn
              FROM documents),
            twin AS (
              SELECT g.doc_id FROM gm g JOIN ne ON ne.doc_id = g.mn
              WHERE g.doc_id != g.mn),
            dominated AS (
              SELECT DISTINCT id_b AS doc_id FROM verified WHERE sim >= 0.5
              UNION SELECT doc_id FROM twin)
            SELECT doc_id, source, n_chars FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM dominated)
            ORDER BY doc_id"""
      }),

    // Incremental dedup (see lshIncrementSurvivors): day-2 ingest
    // against the frozen day-1 index. The batch re-ingests the first
    // 30 docs three ways — verbatim (+1,000,000: exact corpus twins,
    // dominated by the corpus at sim 1.0), and TWO identical 40-char
    // prefixes (+2,000,000 / +3,000,000: mostly novel vs the full
    // corpus texts — a short prefix shares few 3-shingles with its
    // long original — but sim 1.0 against each other, so keep-first
    // retains the +2M copy and drops the +3M one). Every admission
    // decision replays in the oracle from the shared side fragments.
    QueryDef(
      "dd_lsh_increment",
      (s, d) => lshIncrementQuery(s, d)(lshIncrementSurvivors(_, _)),
      Some(lshIncrementOracle)),

    // Durable dedup-index round-trip: the same day-2 admission, but
    // the frozen corpus index (signatures + band postings) is WRITTEN
    // to parquet and RELOADED before the batch is admitted — the
    // cross-session deployment cycle under the same oracle (the
    // round-trip is value-exact, so the replay is identical to
    // dd_lsh_increment's). IndexStoreSpec pins admission-decision
    // equality against the leased path in a fresh session.
    QueryDef(
      "dd_lsh_stored",
      (s, d) => lshIncrementQuery(s, d)(lshStoredSurvivors(_, _)),
      Some(lshIncrementOracle)),

    // Dedup-index TAKEDOWN under the oracle: the stored corpus index
    // is COMPACTED by a document tombstone set (ids < 10 — "forget
    // these documents") before the batch is admitted. Forgotten
    // originals provably stop suppressing their verbatim twins: the
    // +1M copies of docs 0-9 now survive the corpus check (their
    // within-batch fate unchanged), and the replay is the increment
    // oracle against `documents` minus the forgotten ids — which is
    // exactly the compaction contract IndexStoreSpec pins bit-equal.
    QueryDef(
      "dd_lsh_takedown",
      (s, d) => {
        import s.implicits._
        lshIncrementQuery(s, d)(lshTakedownSurvivors(_, _,
          s.range(0, 10).select($"id")))
      },
      Some(lshIncrementOracleFor("(SELECT * FROM documents WHERE doc_id >= 10)")))
  )

  /** dd_decontaminate (spliced after the embed-increment run). */
  private[ops] lazy val decontQueries: Seq[QueryDef] = Seq(

    // Decontamination: scrub the training split of everything that
    // near-matches the benchmark split (the held-out 20% by the same
    // deterministic md5 split q_hash_split uses — pure id arithmetic,
    // so the split itself replays in the oracle). Asymmetric minhash:
    // candidates from the banded equi-join of the two sides' band sets
    // with the BENCHMARK side broadcast, verify = exact hash-set
    // jaccard, survivors = training anti-join contaminated ids.
    QueryDef(
      "dd_decontaminate",
      (s, d) => {
        import s.implicits._
        val bucket = conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10)
          .cast("int") % 100
        val docs = table(s, d, "documents").withColumn("__bucket", bucket)
        val training = docs.filter($"__bucket" >= 20).drop("__bucket")
        val benchmark = docs.filter($"__bucket" < 20).drop("__bucket")
        decontaminate(training, benchmark, "doc_id", $"text", 0.5)
          .select($"doc_id", $"source", $"n_chars")
          .orderBy($"doc_id")
      },
      Some(decontaminateOracleSql)),
  )
}
