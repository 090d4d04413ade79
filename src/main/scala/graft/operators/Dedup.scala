package graft.operators

import graft.core.Caches.TrackedPersist

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines, over a
  * `documents(doc_id, text, ...)` table. Scale design notes:
  *
  *  - Exact dedup: one hash-shuffle on the content fingerprint; the
  *    fingerprint (16-byte md5) — not the document text — is the
  *    shuffle key, so shuffle volume is O(rows·16B), not O(corpus).
  *  - MinHash/LSH: the classic shingle → minhash signature → band →
  *    bucket-join pipeline. Only documents sharing a band bucket are
  *    pair-compared, so candidate generation is a groupBy on band
  *    values (skew-guarded by capping giant buckets) instead of an
  *    O(n²) cross join. At 100 TB this is the only join shape that
  *    survives: everything shuffles by short hash keys.
  *  - SimHash: per-document 60-bit signature; near-dup candidates
  *    share one of four 15-bit sub-bands (Hamming ≤ 3 guarantee via
  *    pigeonhole), verified by exact Hamming distance (`bit_count`).
  *  - Embedding near-dup: cosine over LSH sign-buckets, see
  *    Similarity.
  *
  * All hashes are md5-derived (portable, oracle-verifiable) — see
  * TextFunctions.hexHash60.
  */
object Dedup {

  /** Shingle column via the native codegen kernel when registered
    * (Spark HOFs are interpreted — CodegenFallback — so the native
    * expression is the per-row fast path), else the portable HOF.
    * Same strings either way. */
  def shinglesAuto(df: DataFrame, textCol: String, n: Int): Column =
    if (df.sparkSession.catalog.functionExists("graft_shingles"))
      call_function("graft_shingles", tokens(lower(col(textCol))), lit(n))
    else shingles(col(textCol), n)

  /** [[shinglesAuto]] over an ALREADY-materialized token array (the
    * shared-token-table form, r22): the native kernel receives the
    * token array either way, so given `toks = tokens(lower(text))`
    * the strings are byte-identical on both paths. */
  private def shinglesOfToksAuto(df: DataFrame, toks: Column, n: Int): Column =
    if (df.sparkSession.catalog.functionExists("graft_shingles"))
      call_function("graft_shingles", toks, lit(n))
    else graft.functions.TextFunctions.shinglesOfTokens(toks, n)

  /** Shared `(idCol, _t = tokens(lower(text)))` TOKEN table (r22) —
    * one level below the r21 [[shingleBase]]: the exact-dedup
    * fingerprint, the near-dup shingles, and the substring windows are
    * ALL pure functions of this array, so a composition that runs
    * several dedup families over the same corpus (the ingest gates)
    * persists this once and feeds every stage a `...FromToks` form,
    * instead of re-tokenizing the corpus once per family per side.
    * At 100 TB each avoided re-tokenize is a full corpus pass. */
  def tokenBase(df: DataFrame, idCol: String, textCol: String): DataFrame =
    spread(df).select(col(idCol), tokens(lower(col(textCol))).as("_t"))

  private def minhashAuto(df: DataFrame, textCol: String, shingleN: Int,
      numHashes: Int): Column =
    if (df.sparkSession.catalog.functionExists("graft_minhash"))
      call_function("graft_minhash", shinglesAuto(df, textCol, shingleN), lit(numHashes))
    else minhashSignature(col(textCol), shingleN, numHashes)

  /** Spread per-row-heavy compute across the cluster: small single-file
    * benchmark inputs arrive as one scan split, which would serialize
    * the hash kernels on one core. Scale-adaptive (r21, guide §2.4):
    * inputs already at-or-above the session parallelism — every real
    * 100 TB table — skip the round-robin exchange entirely instead of
    * paying a full-corpus shuffle that only REDUCED their parallelism
    * to the core count (see [[graft.core.Tables.spreadIfNarrow]]). */
  private[operators] def spread(df: DataFrame): DataFrame =
    graft.core.Tables.spreadIfNarrow(df)

  /** ONE bounded action deciding a broadcast-vs-shuffle gate:
    * `limit(budget+1).count()` stops early above the budget instead of
    * paying a full count. Callers persist `df` first so the probe and
    * the real consumer share the computation. */
  private[operators] def fitsBudget(df: DataFrame, budget: Long): Boolean = {
    require(budget > 0 && budget < Int.MaxValue - 1L,
      s"budget must be in (0, Int.MaxValue-1), got $budget")
    df.limit(budget.toInt + 1).count() <= budget
  }

  /** Exact dedup: keep the lowest-`idCol` row per normalized-content
    * fingerprint. One shuffle, deterministic survivor. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val clash = df.columns.filter(Set("_fp", "_rn")).distinct
    require(clash.isEmpty,
      s"exactDedup: input columns ${clash.mkString(", ")} collide with internal markers")
    val w = Window.partitionBy(col("_fp")).orderBy(col(idCol).asc)
    df.withColumn("_fp", fingerprintMd5(col(textCol)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_fp")
  }

  /** TTL (freshness-aware) exact dedup (X189) — dedup with an expiry:
    * re-publication of the same content AFTER `ttl` is a legitimate
    * fresh observation (news refreshes, docs re-crawled after
    * substantive-change windows), while repeats WITHIN the window are
    * dups. Semantics are gap-based sessionization on the content
    * fingerprint (the standard session rule, exactly expressible and
    * oracle-replayable): a new session starts when the gap to the
    * fp's PREVIOUS observation exceeds ttl; the survivor is each
    * (fp, session)'s first row by (ts, id). Plain [[exactDedup]] is
    * the ttl → ∞ limit (spec-pinned).
    *
    * Fail-loud riding the session counter: a NULL timestamp has no
    * position in any freshness window and raises (fill or filter
    * upstream) — silently sorting it first would quietly anchor the
    * session chain at epoch.
    *
    * Scale shape: ONE fp-keyed window sort (16-byte md5 keys — the
    * exactDedup shuffle with a (ts, id) sort instead of id); the
    * session id is a running sum over the same window, no second
    * shuffle. */
  def ttlExactDedup(df: DataFrame, textCol: String, idCol: String,
      tsCol: String, ttlSeconds: Long): DataFrame = {
    require(ttlSeconds >= 1,
      s"ttlExactDedup: ttlSeconds must be >= 1, got $ttlSeconds")
    val clash = df.columns.filter(Set("_fp", "_t", "_gap"))
    require(clash.isEmpty,
      s"ttlExactDedup: input columns ${clash.mkString(", ")} collide with internal markers")
    val w = Window.partitionBy(col("_fp"))
      .orderBy(col("_t").asc, col(idCol).asc)
    // the survivor of a session IS the row that opened it (the fp's
    // first observation, or any row whose gap to the previous
    // observation exceeds ttl) — one window, no second shuffle
    df.withColumn("_fp", fingerprintMd5(col(textCol)))
      .withColumn("_t",
        when(col(tsCol).isNull, raise_error(lit(
          "ttlExactDedup: NULL timestamp has no position in a " +
            "freshness window — fill or filter upstream")).cast("long"))
          .otherwise(unix_micros(col(tsCol))))
      .withColumn("_gap", lag(col("_t"), 1).over(w).isNull ||
        col("_t") - lag(col("_t"), 1).over(w) > ttlSeconds * 1000000L)
      .filter(col("_gap"))
      .drop("_fp", "_t", "_gap")
  }

  /** The TTL chain's store-append record: each fingerprint's LATEST
    * observation time in this batch — OBSERVATIONS, not survivors,
    * advance a gap-sessionization chain (a within-window repeat drops
    * but still resets the freshness clock), which is why the store
    * tracks max(ts) per fp rather than survivor rows. Append-only
    * layout: the reader folds max(last_ts) per fp across partitions
    * (max is the fold of the monotone chain, so append + fold ≡ the
    * running state). Same NULL-timestamp fail-loud as
    * [[ttlExactDedup]]. */
  def ttlStoreRecords(df: DataFrame, textCol: String,
      tsCol: String): DataFrame =
    df.select(fingerprintMd5(col(textCol)).as("fp"),
        when(col(tsCol).isNull, raise_error(lit(
          "ttlStoreRecords: NULL timestamp has no position in a " +
            "freshness window — fill or filter upstream")).cast("long"))
          .otherwise(unix_micros(col(tsCol))).as("_t"))
      .groupBy(col("fp")).agg(max(col("_t")).as("last_ts"))

  /** INCREMENTAL TTL dedup (X203) — the cross-snapshot form of
    * [[ttlExactDedup]], seeding each fingerprint's in-batch session
    * chain with the STORE's last observation: a batch row survives
    * iff its gap to the fp's previous observation (the in-batch lag,
    * or the stored `last_ts` for the fp's first in-batch row) exceeds
    * ttl. With an empty store this IS [[ttlExactDedup]] (spec-pinned),
    * and batch-then-increment equals the one-shot batch over the
    * concatenation whenever batches arrive in event-time order.
    *
    * That ordering is the contract, ENFORCED fail-loud riding the row
    * filter: a batch row older than its fingerprint's stored last
    * observation is out-of-order arrival the monotone chain cannot
    * rewrite (the stored max would have to be undone) — raise, don't
    * silently mis-session. Ties (equal micros) are in-window repeats,
    * not disorder.
    *
    * Scale shape: one fp-keyed pinned shuffle-hash join against the
    * (fp, last_ts) store — 24-byte rows, history never rescanned —
    * plus [[ttlExactDedup]]'s single fp-keyed window. */
  def incrementalTtlDedup(newDocs: DataFrame, store: DataFrame,
      textCol: String, idCol: String, tsCol: String,
      ttlSeconds: Long): DataFrame = {
    require(ttlSeconds >= 1,
      s"incrementalTtlDedup: ttlSeconds must be >= 1, got $ttlSeconds")
    require(Set("fp", "last_ts").subsetOf(store.columns.toSet),
      s"incrementalTtlDedup: store must carry (fp, last_ts) — " +
        s"ttlStoreRecords' schema — got ${store.columns.mkString(", ")}")
    val clash = newDocs.columns.filter(Set("_fp", "_t", "_st", "_prev"))
    require(clash.isEmpty,
      s"incrementalTtlDedup: input columns ${clash.mkString(", ")} " +
        "collide with internal markers")
    val w = Window.partitionBy(col("_fp"))
      .orderBy(col("_t").asc, col(idCol).asc)
    newDocs.withColumn("_fp", fingerprintMd5(col(textCol)))
      .withColumn("_t",
        when(col(tsCol).isNull, raise_error(lit(
          "incrementalTtlDedup: NULL timestamp has no position in a " +
            "freshness window — fill or filter upstream")).cast("long"))
          .otherwise(unix_micros(col(tsCol))))
      // fold max(last_ts) per fp INSIDE the operator: an append-layout
      // store hands multiple rows per fp, and an unfolded join would
      // fan rows out and silently corrupt the session chain (max is
      // the exact fold of the monotone chain, so folding twice is
      // harmless for callers that already folded)
      .join(store.groupBy(col("fp")).agg(max(col("last_ts")).as("_st"))
        .select(col("fp").as("_fp"), col("_st"))
        .hint("shuffle_hash"), Seq("_fp"), "left")
      .filter(when(col("_st").isNotNull && col("_t") < col("_st"),
        raise_error(lit(
          "incrementalTtlDedup: batch row is older than its " +
            "fingerprint's stored last observation — out-of-order " +
            "arrival cannot extend a monotone freshness chain"))
          .cast("boolean"))
        .otherwise(lit(true)))
      .withColumn("_prev", coalesce(lag(col("_t"), 1).over(w), col("_st")))
      .filter(col("_prev").isNull ||
        col("_t") - col("_prev") > ttlSeconds * 1000000L)
      .drop("_fp", "_t", "_st", "_prev")
  }

  /** Incremental (cross-snapshot) exact dedup — the INGESTION-time
    * shape of a 100 TB pipeline: a new batch dedups against the
    * already-ingested corpus represented ONLY by its content
    * fingerprints (16 bytes/doc, the `fp` column this operator itself
    * emits), so history is never rescanned. A Bloom filter over the
    * prior fingerprints (driver-merged, bits ≪ keys — the
    * [[graft.operators.ScaleOps.bloomPrunedJoin]] machinery)
    * broadcasts into a map-side prefilter: the "already seen?"
    * anti-join shuffles only the Bloom-maybe slice of the batch (true
    * dupes + the fpp fraction of fresh rows) instead of the whole
    * batch, and Bloom's no-false-negatives guarantee makes the result
    * IDENTICAL to the plain anti-join. Within-batch dupes then resolve
    * by the [[exactDedup]] lowest-id-survives rule. Returns surviving
    * new rows plus their `fp` — exactly what the caller appends to the
    * fingerprint store for the next increment.
    *
    * Bloom sizing: by default (`expectedPriorKeys = 0`) the expected
    * key count is DERIVED from the store itself — one bounded `count()`
    * on the already-persisted fingerprint projection (persisted
    * precisely because it has multiple consumers), so a 10⁹-row store
    * gets a 10⁹-key Bloom instead of silently saturating a static
    * guess (fpp → 1 would route the whole batch through the anti-join:
    * still correct, but the prefilter the operator exists for
    * evaporates). Pass a positive value to override — e.g. when the
    * caller maintains the store row count out-of-band and wants to
    * skip the count job. */
  def incrementalExactDedup(newDocs: DataFrame, priorFps: DataFrame,
      textCol: String, idCol: String, fpCol: String = "fp",
      expectedPriorKeys: Long = 0L, fpp: Double = 0.01): DataFrame = {
    val clash = newDocs.columns.filter(Set("_fp", "_rn", "_pfp", fpCol)).distinct
    require(clash.isEmpty,
      s"incrementalExactDedup: input columns ${clash.mkString(", ")} collide with internal markers")
    incrementalExactDedupCore(
      newDocs.withColumn("_fp", fingerprintMd5(col(textCol))),
      priorFps, idCol, fpCol, expectedPriorKeys, fpp)
  }

  /** [[incrementalExactDedup]] over a prepared [[tokenBase]] batch
    * (r22): the fingerprint is computed from the shared token array —
    * byte-identical to the text form — so a composition that already
    * tokenized the batch pays no second corpus pass. Survivors keep
    * their `_t` column for the downstream `...FromToks` stages. */
  def incrementalExactDedupFromToks(batchToks: DataFrame, priorFps: DataFrame,
      idCol: String, fpCol: String = "fp",
      expectedPriorKeys: Long = 0L, fpp: Double = 0.01): DataFrame = {
    require(batchToks.columns.contains("_t"),
      s"incrementalExactDedupFromToks: batch must carry the tokenBase _t column, " +
        s"got ${batchToks.columns.mkString(", ")}")
    val clash = batchToks.columns.filter(Set("_fp", "_rn", "_pfp", fpCol)).distinct
    require(clash.isEmpty,
      s"incrementalExactDedupFromToks: input columns ${clash.mkString(", ")} collide with internal markers")
    incrementalExactDedupCore(
      batchToks.withColumn("_fp",
        graft.functions.TextFunctions.fingerprintOfTokens(col("_t"))),
      priorFps, idCol, fpCol, expectedPriorKeys, fpp)
  }

  private def incrementalExactDedupCore(withFp: DataFrame, priorFps: DataFrame,
      idCol: String, fpCol: String,
      expectedPriorKeys: Long, fpp: Double): DataFrame = {
    require(expectedPriorKeys >= 0L,
      s"expectedPriorKeys must be >= 0 (0 = derive from the store), got $expectedPriorKeys")
    // the fingerprint store is consumed THREE times (empty probe,
    // bloom build, anti-join right side) — persist the projection so
    // the caller's store pipeline runs once (the persist-before-probe
    // convention; released via Caches.release). The BATCH side is
    // deliberately NOT persisted: its two consumers (maybe/fresh) are
    // map-side filters, and two scans cost less than materializing
    // full document text.
    val pf = graft.core.Caches.persistTracked(priorFps.select(col(fpCol)))
    val w = Window.partitionBy(col("_fp")).orderBy(col(idCol).asc)
    def dedupInBatch(df: DataFrame): DataFrame = df
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
      .withColumnRenamed("_fp", fpCol)
    // first increment: an empty fingerprint store means everything is
    // fresh — and Spark's stat.bloomFilter NPEs on an empty frame
    // (null aggregation buffer), so this is a correctness guard, not
    // just a fast path. r21: when the key count is derived from the
    // store anyway (the common call), ONE count() doubles as the
    // emptiness probe — the old isEmpty + bloomKeysFor-count shape
    // paid two store passes before the bloom build's third; a caller
    // that supplies expectedPriorKeys keeps the cheaper isEmpty.
    val derivedKeys =
      if (expectedPriorKeys > 0L) { if (pf.isEmpty) -1L else expectedPriorKeys }
      else pf.count()
    if (derivedKeys <= 0L) return dedupInBatch(withFp)
    val bloom = pf.stat.bloomFilter(fpCol, derivedKeys, fpp)
    // null-text rows fingerprint to a null _fp: bloomSplit routes them
    // FRESH (a null fp can never equal a stored one — exactly what the
    // plain anti-join would conclude), and the in-batch window then
    // keeps one lowest-id survivor of the null group, matching
    // [[exactDedup]]'s semantics
    val (maybe, fresh) = ScaleOps.bloomSplit(withFp, bloom, "_fp")
    // only the maybe-slice pays the anti-join shuffle; prior side
    // shuffles fingerprints only, pinned shuffle-hash (both sides are
    // id/fp streams — no sort needed, no broadcast assumption on a
    // history-sized store)
    val confirmedNew = maybe.join(
      pf.select(col(fpCol).as("_pfp")).hint("shuffle_hash"),
      col("_fp") === col("_pfp"), "left_anti")
    dedupInBatch(fresh.unionByName(confirmedNew))
  }

  /** Bloom expected-key count for [[incrementalExactDedup]]: the
    * caller's positive override verbatim, else the persisted store's
    * own row count (floored at 1 — `stat.bloomFilter` rejects 0, and
    * the empty store never reaches here). Package-visible so the spec
    * can pin the derivation without rebuilding the operator's Bloom. */
  private[graft] def bloomKeysFor(persistedFps: DataFrame,
      requested: Long): Long =
    if (requested > 0L) requested else math.max(persistedFps.count(), 1L)

  /** MinHash signature: for each of `numHashes` seeds, the minimum
    * md5(seed:shingle) hex string over the document's shingles.
    * Min-over-strings on hex is order-isomorphic to min over the
    * underlying 128-bit integers, and portable across engines.
    * Returns array<string> of length numHashes (null-free; docs with
    * no shingles get "z"-sentinels that only collide with each other).
    */
  def minhashSignature(text: Column, shingleN: Int, numHashes: Int): Column = {
    val sh = shingles(text, shingleN)
    val sig = (0 until numHashes).map { seed =>
      coalesce(
        array_min(transform(sh,
          s => md5(concat(lit(seed.toString), lit(":"), s).cast("binary")))),
        lit("zz_empty"))
    }
    array(sig: _*)
  }

  /** LSH candidate pairs: split the signature into `bands` bands of
    * `rowsPerBand`, bucket on (bandIdx, concat(band)), emit distinct
    * (id1 < id2) pairs sharing any bucket. The band explode costs
    * rows×bands; the self-join shuffles only (bandKey, id) pairs. */
  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 3): DataFrame = {
    val numHashes = bands * rowsPerBand
    val withSig = spread(df).select(col(idCol).as("id"),
      minhashAuto(df, textCol, shingleN, numHashes).as("_sig"))
    val banded = withSig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => array_join(slice(col("_sig"), b * rowsPerBand + 1, lit(rowsPerBand)), "|"))))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
    val a = banded.select(col("band"), col("bucket"), col("id").as("id1"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("id2"))
    // shuffle-hash: the banded index is corpus-sized — never a
    // driver-side broadcast build, at any scale
    a.hint("shuffle_hash").join(b, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** MinHash signature over an ALREADY-materialized shingle-array
    * column — the shared-array sibling of [[minhashAuto]] (min over a
    * set equals min over its multiset, so distinct arrays are fine). */
  private def minhashOfShingles(df: DataFrame, sh: Column, numHashes: Int): Column =
    if (df.sparkSession.catalog.functionExists("graft_minhash"))
      call_function("graft_minhash", sh, lit(numHashes))
    else {
      val sig = (0 until numHashes).map { seed =>
        coalesce(
          array_min(transform(sh,
            s => md5(concat(lit(seed.toString), lit(":"), s).cast("binary")))),
          lit("zz_empty"))
      }
      array(sig: _*)
    }

  /** MinHash near-dup pairs, verified: LSH candidates filtered by
    * exact n-gram Jaccard ≥ threshold.
    *
    * ONE materialization of (id, distinct-shingle array) feeds the
    * signature/banding AND the verification (tokenize+shingle once,
    * three structurally different consumers); candidates are verified
    * by broadcasting the pair list against that table and intersecting
    * the two arrays per-row, instead of two corpus-keyed shuffle
    * joins. The candidate list is USUALLY bounded (it is the near-dup
    * candidate set), but a duplicate-heavy corpus can put m
    * near-identical docs in one LSH bucket and yield O(m²) pairs — so
    * the broadcast is GATED on `pairBroadcastBudget` candidate rows
    * (one bounded limit-probe over the persisted pair list, never a
    * full count) and falls back to an equivalent shuffle-hash join
    * above it. Shuffles whose volume grows with the corpus: the
    * banded self-join on short bucket keys — plus, only above the
    * gate, the verification join on id.
    *
    * `spreadInput = false` skips the round-robin pre-shuffle — pass it
    * when the input is a cached mid-pipeline stage that is already
    * well-partitioned (the curation pipeline), keep the default for
    * raw single-file scans. */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3,
      bands: Int = 4, rowsPerBand: Int = 3,
      spreadInput: Boolean = true,
      pairBroadcastBudget: Long = 1000000L): DataFrame =
    minhashNearDupPairsFromBase(
      graft.core.Caches.persistTracked(
        shingleBase(df, idCol, textCol, shingleN, spreadInput)),
      threshold, bands, rowsPerBand, pairBroadcastBudget)

  /** Shared `(id, _sh = distinct-shingle array)` base table — the one
    * tokenize+shingle pass every pair miner starts from (r21): a
    * harness comparing several banding layouts (or banded candidates
    * vs the exact inverted index) over the SAME corpus persists this
    * once and feeds each miner the `...FromBase` form, instead of
    * re-tokenizing and re-shingling the corpus per configuration. */
  def shingleBase(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, spreadInput: Boolean = true): DataFrame =
    (if (spreadInput) spread(df) else df)
      .select(col(idCol).as("id"),
        array_distinct(shinglesAuto(df, textCol, shingleN)).as("_sh"))

  /** [[minhashNearDupPairs]] over a prepared [[shingleBase]] (callers
    * persist the base — it is consumed by the signature/banding scan
    * AND the verification join). Identical output. */
  def minhashNearDupPairsFromBase(base: DataFrame, threshold: Double,
      bands: Int = 4, rowsPerBand: Int = 3,
      pairBroadcastBudget: Long = 1000000L): DataFrame = {
    val numHashes = bands * rowsPerBand
    val banded = base
      .select(col("id"), minhashOfShingles(base, col("_sh"), numHashes).as("_sig"))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => array_join(slice(col("_sig"), b * rowsPerBand + 1, lit(rowsPerBand)), "|"))))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
    val a = banded.select(col("band"), col("bucket"), col("id").as("id1"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("id2"))
    // shuffle-hash: the banded index is corpus-sized — never a
    // driver-side broadcast build, at any scale
    val cand = a.hint("shuffle_hash").join(b, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
      .persistTracked()
    val candLong = cand.select(col("id1"), col("id2"),
      explode(array(col("id1"), col("id2"))).as("id"))
    val verified =
      if (fitsBudget(cand, pairBroadcastBudget))
        base.join(broadcast(candLong), Seq("id"))
      else base.hint("shuffle_hash").join(candLong, Seq("id"))
    verified
      .groupBy(col("id1"), col("id2"))
      .agg(collect_list(col("_sh")).as("_ab"))
      .withColumn("jaccard",
        jaccardArr(element_at(col("_ab"), 1), element_at(col("_ab"), 2)))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Per-doc NEAR-dup store record — the append-only index
    * [[incrementalNearDup]] dedups against: `(id, shingles, sig)`,
    * i.e. the distinct shingle set (for exact-Jaccard verification)
    * and the MinHash signature (band keys are cheap slices of it, so
    * they are derived per increment instead of stored). Run once over
    * the initial corpus to bootstrap the store; after that the store
    * grows ONLY by appending each increment's survivors — history is
    * never re-tokenized or re-hashed. */
  def nearDupStoreRecords(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 3): DataFrame = {
    val numHashes = bands * rowsPerBand
    spread(docs)
      .withColumn("shingles", distinctShingles(docs, textCol, shingleN))
      .select(col(idCol).as("id"), col("shingles"),
        minhashOfShingles(docs, col("shingles"), numHashes).as("sig"))
  }

  /** [[nearDupStoreRecords]] over a prepared [[tokenBase]] (r22) —
    * identical records; the tokenize pass is the caller's shared
    * token table, so no spread and no re-tokenize here. */
  def nearDupStoreRecordsFromToks(toks: DataFrame, idCol: String,
      shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 3): DataFrame = {
    val numHashes = bands * rowsPerBand
    toks
      .withColumn("shingles", coalesce(
        array_distinct(shinglesOfToksAuto(toks, col("_t"), shingleN)),
        typedLit(Seq.empty[String])))
      .select(col(idCol).as("id"), col("shingles"),
        minhashOfShingles(toks, col("shingles"), numHashes).as("sig"))
  }

  /** Distinct shingle set with NULL text coalesced to the EMPTY set —
    * null text carries the same (non-)evidence as empty text, and the
    * coalesce keeps the native minhash kernel (null-in → null-out) and
    * the HOF fallback (null-in → zz_empty sentinel) on one behavior. */
  private def distinctShingles(df: DataFrame, textCol: String,
      shingleN: Int): Column =
    coalesce(array_distinct(shinglesAuto(df, textCol, shingleN)),
      typedLit(Seq.empty[String]))

  /** Incremental (cross-snapshot) NEAR-dup dedup — the second half of
    * the ingestion-time pair with [[incrementalExactDedup]]: a new
    * batch dedups against the already-ingested corpus represented only
    * by its [[nearDupStoreRecords]] index, never by rescanning its
    * text. The X2 banded machinery runs batch-vs-store instead of
    * self-join: band keys are sliced from the STORED signatures (no
    * re-hash of history) and joined against the batch's band rows, so
    * candidate generation shuffles short (band, bucket, id) keys with
    * volume O(batch·bands + store·bands) — never all-pairs. Candidates
    * are verified by EXACT n-gram Jaccard against the stored shingle
    * sets, fetched for candidate ids only (the store scan prunes to
    * (id, shingles) and joins through the candidate list — gated
    * broadcast with a shuffle-hash fallback, the
    * [[minhashNearDupPairs]] convention). Within-batch near-dups
    * resolve by a deterministic PAIRWISE lowest-id rule: a batch doc
    * is dropped iff it verifies ≥ `threshold` against any store doc or
    * any SMALLER-id batch doc (pairwise, not transitive-closure — in a
    * chain a≈b≈c with a̸≈c, BOTH b and c drop, each against its
    * smaller-id neighbour, even though b itself is dropped; a
    * survivor-aware rule would need the iterative closure that is
    * [[connectedComponents]]' job, which has no place inside an
    * ingestion-time op).
    *
    * Zero-shingle docs (empty/whitespace/NULL text) never enter the
    * band index on either side: with `threshold > 0` (required) an
    * empty set verifies against nothing, and the shared all-empties
    * sentinel bucket is exactly the quadratic skew bucket a 100 TB run
    * cannot afford. They all survive, mirroring the verify outcome.
    *
    * Returns the surviving batch rows plus their store-append record —
    * `shingles`, `sig`, and the derived `band_keys` — so the caller's
    * next increment is `store.unionByName(survivors.select(id,
    * shingles, sig))` ([[incrementalExactDedup]]'s contract, near-dup
    * flavored). The store is text-sized (it carries shingle sets — the
    * price of EXACT verification), but append-only and column-pruned:
    * banding reads only (id, sig); verification reads (id, shingles)
    * for candidate ids only. */
  def incrementalNearDup(newDocs: DataFrame, store: DataFrame,
      textCol: String, idCol: String, threshold: Double,
      shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 3,
      spreadInput: Boolean = true,
      pairBroadcastBudget: Long = 1000000L): DataFrame = {
    val clash = newDocs.columns.filter(Set("_sh", "_sig", "_bid", "_sid",
      "_id1", "_id2", "_ab", "_j", "band", "bucket",
      "shingles", "sig", "band_keys")).distinct
    require(clash.isEmpty,
      s"incrementalNearDup: input columns ${clash.mkString(", ")} collide with internal markers")
    incrementalNearDupCore(
      (if (spreadInput) spread(newDocs) else newDocs)
        .withColumn("_sh", distinctShingles(newDocs, textCol, shingleN)),
      store, idCol, threshold, bands, rowsPerBand, pairBroadcastBudget)
  }

  /** [[incrementalNearDup]] over a prepared [[tokenBase]] batch (r22):
    * identical survivor ids and store-append records; the shared token
    * table replaces the tokenize+shingle pass. Output columns are
    * (idCol, shingles, sig, band_keys) — the token column is dropped
    * before the persist so the cache carries hashes, not text. */
  def incrementalNearDupFromToks(batchToks: DataFrame, store: DataFrame,
      idCol: String, threshold: Double,
      shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 3,
      pairBroadcastBudget: Long = 1000000L): DataFrame = {
    require(batchToks.columns.contains("_t"),
      s"incrementalNearDupFromToks: batch must carry the tokenBase _t column, " +
        s"got ${batchToks.columns.mkString(", ")}")
    incrementalNearDupCore(
      batchToks
        .withColumn("_sh", coalesce(
          array_distinct(shinglesOfToksAuto(batchToks, col("_t"), shingleN)),
          typedLit(Seq.empty[String])))
        .drop("_t"),
      store, idCol, threshold, bands, rowsPerBand, pairBroadcastBudget)
  }

  private def incrementalNearDupCore(withSh: DataFrame, store: DataFrame,
      idCol: String, threshold: Double, bands: Int, rowsPerBand: Int,
      pairBroadcastBudget: Long): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val needed = Set("id", "shingles", "sig")
    require(needed.subsetOf(store.columns.toSet),
      s"incrementalNearDup: store must have columns id/shingles/sig " +
        s"(nearDupStoreRecords' schema), got ${store.columns.mkString(", ")}")
    val numHashes = bands * rowsPerBand

    // batch records: consumed by banding, both verify joins, and the
    // survivor anti-join — persist once (registry-released)
    val batch = withSh
      .withColumn("_sig", minhashOfShingles(withSh, col("_sh"), numHashes))
      .persistTracked()

    // fail fast on a store built with different bands/rowsPerBand: a
    // shorter stored sig would slice to "" buckets (an all-store skew
    // bucket) while real pairs stop colliding — silently missed dupes.
    // One bounded probe row; empty store skips the check.
    store.select(size(col("sig")).as("_n")).limit(1).collect()
      .foreach { r =>
        require(r.getInt(0) == numHashes,
          s"incrementalNearDup: store signatures have ${r.getInt(0)} hashes " +
            s"but bands*rowsPerBand = $numHashes — the store was built with " +
            "different banding parameters")
      }

    def bandKeysOf(sig: Column): Column =
      transform(sequence(lit(0), lit(bands - 1)),
        b => array_join(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), "|"))
    // zero-shingle docs are excluded by the sig SENTINEL (both minhash
    // paths emit "zz_empty" signatures for an empty shingle set; a real
    // hash is 32 hex chars), NOT by size(shingles) — the store-side
    // banding scan must touch only (id, sig), never the text-sized
    // shingle column
    def bandRows(df: DataFrame, id: Column, sig: Column,
        idName: String): DataFrame =
      df.filter(element_at(sig, 1) =!= "zz_empty")
        .select(id.as(idName), posexplode(bandKeysOf(sig)))
        .select(col(idName), col("pos").as("band"), col("col").as("bucket"))

    val bBands = bandRows(batch, col(idCol), col("_sig"), "_bid")
    // store banding: a pruned (id, sig) scan — stored signatures slice
    // into band keys with no tokenization or hashing of history
    val sBands = bandRows(store, col("id"), col("sig"), "_sid")

    // batch-vs-store candidates: build side = the (smaller) batch,
    // probe side = the store — pinned shuffle-hash, never a broadcast
    // assumption on a corpus-sized index
    val candStore = bBands.hint("shuffle_hash")
      .join(sBands, Seq("band", "bucket"))
      .select("_bid", "_sid").distinct()
      .persistTracked()
    // within-batch candidates: the X2 self-join shape on the batch only
    val cb1 = bBands.select(col("band"), col("bucket"), col("_bid").as("_id1"))
    val cb2 = bBands.select(col("band"), col("bucket"), col("_bid").as("_id2"))
    val candBatch = cb1.hint("shuffle_hash").join(cb2, Seq("band", "bucket"))
      .filter(col("_id1") < col("_id2"))
      .select("_id1", "_id2").distinct()
      .persistTracked()

    val storeFits = fitsBudget(candStore, pairBroadcastBudget)
    val batchFits = fitsBudget(candBatch, pairBroadcastBudget)

    val batchSh = batch.select(col(idCol).as("_bid"), col("_sh"))
    val storeSh = store.select(col("id").as("_sid"), col("shingles").as("_ssh"))
    // store-side shingle fetch rides THROUGH the candidate list, so
    // only candidate ids' shingle sets leave the store scan
    val candWithStore =
      if (storeFits) storeSh.join(broadcast(candStore), Seq("_sid"))
      else storeSh.hint("shuffle_hash").join(candStore, Seq("_sid"))
    val dupVsStore = candWithStore
      .join(batchSh.hint("shuffle_hash"), Seq("_bid"))
      .filter(jaccardArr(col("_sh"), col("_ssh")) >= threshold)
      .select(col("_bid"))

    val candBatchLong = candBatch.select(col("_id1"), col("_id2"),
      explode(array(col("_id1"), col("_id2"))).as("_bid"))
    val vb =
      if (batchFits) batchSh.join(broadcast(candBatchLong), Seq("_bid"))
      else batchSh.hint("shuffle_hash").join(candBatchLong, Seq("_bid"))
    // Jaccard is symmetric, so collect_list's nondeterministic order
    // is immaterial (the minhashNearDupPairs verify idiom)
    val dupInBatch = vb.groupBy(col("_id1"), col("_id2"))
      .agg(collect_list(col("_sh")).as("_ab"))
      .withColumn("_j",
        jaccardArr(element_at(col("_ab"), 1), element_at(col("_ab"), 2)))
      .filter(col("_j") >= threshold)
      .select(col("_id2").as("_bid"))

    val dups = dupVsStore.unionByName(dupInBatch).distinct()
    val dupJoin =
      if (storeFits && batchFits) broadcast(dups)
      else dups.hint("shuffle_hash")
    batch.join(dupJoin, batch(idCol) === dupJoin("_bid"), "left_anti")
      .withColumnRenamed("_sh", "shingles")
      .withColumnRenamed("_sig", "sig")
      .withColumn("band_keys", bandKeysOf(col("sig")))
  }

  /** Exact Jaccard over two pre-distinct arrays. */
  private def jaccardArr(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni > 0, inter / uni).otherwise(0.0)
  }

  /** All-pairs n-gram Jaccard ≥ threshold via an inverted shingle
    * index (join on shared shingle, count hits per pair, derive
    * |union| = |A|+|B|−hits). No cross join: only pairs sharing ≥1
    * shingle are materialized — the standard "candidate by common
    * token" plan that scales with corpus overlap, not corpus².
    * Hot shingles are capped (shingles occurring in > maxDocFreq docs
    * are dropped, a standard stopword-shingle guard at scale;
    * with the default the behavior is exact). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3,
      maxDocFreq: Long = Long.MaxValue): DataFrame =
    ngramJaccardPairsFromBase(shingleBase(df, idCol, textCol, shingleN),
      threshold, maxDocFreq)

  /** [[ngramJaccardPairs]] over a prepared [[shingleBase]] — shares the
    * tokenize+shingle pass with the banded miners (r21). Identical
    * output. */
  def ngramJaccardPairsFromBase(base: DataFrame, threshold: Double,
      maxDocFreq: Long = Long.MaxValue): DataFrame = {
    val sh = base.withColumn("_size", size(col("_sh")))
    val inv = sh.select(col("id"), col("_size"), explode(col("_sh")).as("shingle"))
    val invF =
      if (maxDocFreq == Long.MaxValue) inv
      else {
        val hot = inv.groupBy("shingle").count().filter(col("count") > maxDocFreq)
        inv.join(broadcast(hot.select("shingle")), Seq("shingle"), "left_anti")
      }
    val a = invF.select(col("shingle"), col("id").as("id1"), col("_size").as("_s1"))
    val b = invF.select(col("shingle"), col("id").as("id2"), col("_size").as("_s2"))
    a.hint("shuffle_hash").join(b, Seq("shingle"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"), col("_s1"), col("_s2"))
      .agg(count(lit(1)).as("_inter"))
      .withColumn("jaccard",
        col("_inter").cast("double") /
          (col("_s1") + col("_s2") - col("_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Prefix-filtered exact Jaccard join (AllPairs/PPJoin candidate
    * generation): identical output to [[ngramJaccardPairs]], but the
    * inverted index holds only each document's PREFIX — its
    * |S| − ⌈t·|S|⌉ + 1 rarest shingles under a global document-
    * frequency order. The prefix-filter theorem makes this lossless:
    * J(A,B) ≥ t forces the two prefixes to share a shingle, so no
    * qualifying pair can be missed; everything else never becomes a
    * candidate. At 100 TB this is the difference between indexing
    * every posting and indexing ~(1−t) of them — and stopword-shaped
    * hot shingles are almost never in anyone's prefix, attacking the
    * skew that [[ngramJaccardPairs]] needs `maxDocFreq` for.
    *
    * Verification never re-joins the posting index: each candidate
    * pair gets both documents' materialized md5-key arrays attached by
    * ONE broadcast of the candidate list against the persisted set
    * table, and |A∩B| is a per-row `array_intersect` inside codegen.
    * The candidate list is the prefix join's own output — usually
    * bounded, but adversarially quadratic on a duplicate-heavy corpus,
    * so the broadcast is GATED on `pairBroadcastBudget` rows (bounded
    * limit-probe over the persisted list) with an equivalent
    * shuffle-hash fallback. The corpus is scanned once, shuffled once
    * (the per-document prefix regroup); the only other shuffle whose
    * volume grows with data is the prefix self-join on short md5 keys.
    *
    * Use a threshold exactly representable in binary (0.5, 0.75…) so
    * ⌈t·|S|⌉ computes identically on any engine. */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3,
      pairBroadcastBudget: Long = 1000000L): DataFrame = {
    // one materialization of (id, md5-key array, size) feeds all three
    // structurally different consumers: df counting, prefix regroup,
    // and candidate verification — tokenize/shingle/hash runs once
    val sets = shingleSetTable(df, idCol, textCol, shingleN)
      .select(col("id"), transform(col("_sh"), g => md5(g)).as("_sh"),
        col("_size"))
      .persistTracked()
    val inv = sets.select(col("id"), col("_size"), explode(col("_sh")).as("_gk"))
    val prefix = prefixPostings(inv, threshold)
    val a = prefix.select(col("_gk"), col("id").as("id1"), col("_size").as("_za"))
    val b = prefix.select(col("_gk"), col("id").as("id2"), col("_size").as("_zb"))
    // length filter (PPJoin): J ≥ t bounds the partner's set size to
    // [t·|A|, |A|/t] — prunes dissimilar-size pairs before they ever
    // become candidates. The two sides are the same plan — AQE
    // ReuseExchange materializes the prefix exchange once.
    val cand = a.hint("shuffle_hash").join(b, Seq("_gk"))
      .filter(col("id1") < col("id2") &&
        col("_zb") >= ceil(col("_za") * threshold) &&
        col("_zb") * threshold <= col("_za"))
      .select(col("id1"), col("id2")).distinct()
      .persistTracked()
    // exact |A∩B|: unpivot each (distinct — duplicates would double
    // rows per group below) candidate to one row per member id,
    // broadcast that against the set table (no corpus shuffle) when it
    // fits the gate, and regroup by pair — each group holds exactly
    // the pair's two key arrays, intersected per-row
    val candLong = cand.select(col("id1"), col("id2"),
      explode(array(col("id1"), col("id2"))).as("id"))
    val attached =
      if (fitsBudget(cand, pairBroadcastBudget))
        sets.join(broadcast(candLong), Seq("id"))
      else sets.hint("shuffle_hash").join(candLong, Seq("id"))
    attached
      .groupBy(col("id1"), col("id2"))
      .agg(
        max(when(col("id") === col("id1"), col("_size"))).as("_s1"),
        max(when(col("id") === col("id2"), col("_size"))).as("_s2"),
        collect_list(col("_sh")).as("_ab"))
      .withColumn("_inter",
        size(array_intersect(element_at(col("_ab"), 1), element_at(col("_ab"), 2))))
      .withColumn("jaccard",
        col("_inter").cast("double") /
          (col("_s1") + col("_s2") - col("_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** EXACT SUBSTRING dedup (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499): every
    * duplicated L-token span keeps only its GLOBAL FIRST occurrence
    * (minimum (doc, position)); every other occurrence's tokens are
    * removed and documents are reassembled from the surviving tokens.
    * The canonical suffix-array formulation is sequential; this is the
    * distributed fixed-window equivalent: hash every L-gram (rolling
    * window over the token stream), find hashes with ≥ 2 occurrences,
    * mark all non-first windows, drop covered token positions.
    *
    * Occurrence order is encoded as one BIGINT `id·posBase + pos` so
    * "first" is a plain MIN aggregate — portable to any engine without
    * struct-ordering semantics. The encoding is injective only while
    * `pos < posBase` (docs shorter than ~posBase tokens) and
    * `0 ≤ id < Long.MaxValue/posBase` — both are ENFORCED with
    * per-row `raise_error` guards (the repo's fail-loudly convention:
    * a 100k-token document must kill the job, not silently corrupt
    * "global first occurrence" attribution). Raise `posBase` for
    * longer documents.
    *
    * Scale shape: shuffles carry (id, pos, 16-byte md5) gram postings
    * and covered positions — never text; the dup-gram table is
    * corpus-overlap-sized and joins shuffle-hash (pinned — broadcast
    * from small-SF stats would die at 100 TB); reassembly is one
    * groupBy(doc) with per-doc bounded sort_array, the lineDedup
    * shape. Returns (id, n_tokens, n_kept, kept_md5). */
  def exactSubstringDedup(df: DataFrame, idCol: String, textCol: String,
      L: Int, posBase: Long = 100000L): DataFrame = {
    val (toks, covered) = substringCoverage(df, idCol, textCol, L, posBase)
    substringReassemble(toks, covered, L)
  }

  /** Shared front half of the exact-substring family: guarded token
    * table + the set of token positions covered by a non-first
    * duplicated L-window. Returns (toks, covered) with `toks`
    * persisted (tracked — it feeds grams, reassembly, and the final
    * stats join). */
  private def substringCoverage(df: DataFrame, idCol: String,
      textCol: String, L: Int, posBase: Long): (DataFrame, DataFrame) = {
    val toks = substringToks(df, idCol, textCol, L, posBase).persistTracked()
    val grams = substringGramsOf(toks, L, posBase)
    val dup = grams.groupBy("_gh")
      .agg(count(lit(1)).as("_c"), min(col("_occ")).as("_first"))
      .filter(col("_c") >= 2)
      .select("_gh", "_first")
    val covered = grams.hint("shuffle_hash").join(dup, Seq("_gh"))
      .filter(col("_occ") =!= col("_first"))
      .select(col("id"), explode(sequence(col("pos"), col("pos") + (L - 1))).as("_tp"))
      .distinct()
    (toks, covered)
  }

  /** Shared back half: drop covered positions, reassemble per-doc
    * survivors, emit (id, n_tokens, n_kept, kept_md5). */
  private def substringReassemble(toks: DataFrame, covered: DataFrame,
      L: Int): DataFrame = {
    val tokPos = toks.select(col("id"), posexplode(col("_t")))
      .select(col("id"), col("pos").as("_tp"), col("col").as("_tok"))
    // hint on the RIGHT side: a left-side shuffle_hash on a LEFT ANTI
    // join is unsupported (no build-left for anti) and Spark drops it
    // with a warning — the pin must ride the build-able side to
    // actually keep AQE from broadcasting the corpus-sized cover set
    val kept = tokPos
      .join(covered.hint("shuffle_hash"), Seq("id", "_tp"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ",
          transform(sort_array(collect_list(struct(col("_tp"), col("_tok")))),
            e => e("_tok")))).as("kept_md5"))
    // empty docs (all tokens covered, or tokenless) still emit a row
    // shuffle-hash pinned: kept is corpus-sized — AQE would broadcast
    // it from small-SF stats and that shape dies at 100 TB
    toks.select(col("id"), size(col("_t")).as("n_tokens"))
      .hint("shuffle_hash").join(kept, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
  }

  /** VARIABLE-LENGTH exact substring dedup — the span-level view of
    * [[exactSubstringDedup]], matching Lee et al. 2021's actual
    * output shape (maximal duplicated spans, not fixed windows): the
    * union of covered positions from non-first duplicated L-windows is
    * merged into maximal islands, so each reported span is a maximal
    * duplicated region of VARIABLE length ≥ L (overlapping duplicated
    * windows chain into one long span — a 500-token boilerplate block
    * reports as one span of ~500, not 488 window hits). Per doc:
    * span inventory (count, longest, md5 of the canonical
    * "start:len,…" list) plus the same survivor reassembly as the
    * fixed pass. The span-length distribution is the signal you tune
    * L with; max_span_len flags template-heavy documents.
    *
    * Scale shape: everything up to `covered` is the fixed pass
    * (hash-only shuffles); island-merging is ONE window function
    * partitioned by doc (the classic islands `pos − row_number()`
    * grouping — per-doc bounded, shuffles (id, pos) pairs only) and
    * is the SQL-portable formulation every engine computes
    * identically. Returns (id, n_tokens, n_kept, n_spans,
    * max_span_len, spans_md5, kept_md5). */
  def exactSubstringDedupVar(df: DataFrame, idCol: String, textCol: String,
      L: Int, posBase: Long = 100000L): DataFrame = {
    val (toks, covered) = substringCoverage(df, idCol, textCol, L, posBase)
    val cov = covered.persistTracked() // feeds islands AND reassembly
    val w = Window.partitionBy(col("id")).orderBy(col("_tp"))
    val spans = cov
      .withColumn("_grp", col("_tp") - row_number().over(w))
      .groupBy(col("id"), col("_grp"))
      .agg(min(col("_tp")).as("_s"), count(lit(1)).as("_l"))
    val spanAgg = spans.groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        max(col("_l")).as("max_span_len"),
        md5(concat_ws(",", transform(
          sort_array(collect_list(struct(col("_s"), col("_l")))),
          e => concat(e("_s").cast("string"), lit(":"), e("_l").cast("string")))))
          .as("spans_md5"))
    // shuffle-hash pinned on the corpus-sized sides (same rationale as
    // the fixed pass: AQE's small-SF stats must not pick broadcast)
    substringReassemble(toks, cov, L)
      .hint("shuffle_hash").join(spanAgg, Seq("id"), "left")
      .select(col("id"), col("n_tokens"), col("n_kept"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("max_span_len"), lit(0L)).as("max_span_len"),
        coalesce(col("spans_md5"), md5(lit(""))).as("spans_md5"),
        col("kept_md5"))
  }

  /** (id, pos, _gh, _occ) L-window postings over a guarded token
    * table: one md5 per window (\u0001-joined so token boundaries
    * stay unambiguous); occurrence order encoded as id·posBase + pos
    * — "first" is a plain MIN, portable to any engine. */
  private def substringGramsOf(toks: DataFrame, L: Int, posBase: Long): DataFrame = {
    val posIdx = when(size(col("_t")) >= L,
      sequence(lit(0), size(col("_t")) - L))
      .otherwise(array().cast("array<int>"))
    toks.select(col("id"), posexplode(transform(posIdx,
        i => md5(concat_ws("\u0001", slice(col("_t"), i + 1, lit(L)))))))
      .select(col("id"), col("pos"), col("col").as("_gh"))
      .withColumn("_occ", col("id") * posBase + col("pos"))
  }

  /** Guarded (id, _t) token table for the INCREMENTAL substring ops —
    * the same per-row injectivity guards as [[substringCoverage]]'s
    * front half (null/out-of-range ids and >= posBase-token documents
    * fail loud instead of silently colliding _occ values). NOT
    * persisted — callers persist per their consumer count. */
  private def substringToks(df: DataFrame, idCol: String, textCol: String,
      L: Int, posBase: Long): DataFrame =
    substringToksGuarded(spread(df), idCol, tokens(lower(col(textCol))),
      L, posBase)

  /** The guard half of [[substringToks]], parameterized over the token
    * expression so the shared-token-table form ([[tokenBase]]) applies
    * the SAME per-row injectivity guards without re-tokenizing. */
  private def substringToksGuarded(src: DataFrame, idCol: String,
      rawToks: Column, L: Int, posBase: Long): DataFrame = {
    require(L >= 2, s"window must be >= 2 tokens, got $L")
    require(posBase >= 2, s"posBase must be >= 2, got $posBase")
    val maxId = Long.MaxValue / posBase
    val idLong = col(idCol).try_cast("long")
    val guardedId = when(idLong.isNull || idLong < 0 || idLong >= maxId,
      raise_error(concat(
        lit(s"exactSubstringDedup: $idCol must cast to BIGINT in [0, $maxId) " +
          s"for posBase=$posBase, got "),
        coalesce(col(idCol).cast("string"), lit("NULL")))))
      .otherwise(idLong)
    val guardedToks = when(size(rawToks) > posBase,
      raise_error(concat(
        lit(s"exactSubstringDedup: document exceeds posBase=$posBase tokens " +
          "(occurrence encoding would collide) — raise posBase; id="),
        idLong.cast("string"), lit(", n_tokens="), size(rawToks).cast("string"))))
      .otherwise(rawToks)
    src.select(guardedId.as("id"), guardedToks.as("_t"))
  }

  /** Per-document window-hash STORE records for the incremental
    * substring pass (X132) — the append-only index
    * [[incrementalSubstringDedup]] dedups against: the DISTINCT md5
    * hashes of every L-token window of each doc's ORIGINAL token
    * stream (16 bytes/window, never text). Original — not
    * post-removal — windows: a span removed from one doc as a later
    * occurrence stays in the store via its first occurrence's record,
    * so a future recurrence is covered no matter which snapshot it
    * enters through. Bootstrap with one run over the initial corpus;
    * append each increment's batch records after its pass. */
  def substringStoreRecords(df: DataFrame, idCol: String, textCol: String,
      L: Int, posBase: Long = 100000L): DataFrame =
    substringGramsOf(substringToks(df, idCol, textCol, L, posBase), L, posBase)
      .select(col("_gh").as("gh")).distinct()

  /** [[substringStoreRecords]] over a prepared [[tokenBase]] (r22) —
    * identical index, same injectivity guards, no re-tokenize. */
  def substringStoreRecordsFromToks(toks: DataFrame, idCol: String,
      L: Int, posBase: Long = 100000L): DataFrame =
    substringGramsOf(
      substringToksGuarded(toks, idCol, col("_t"), L, posBase), L, posBase)
      .select(col("_gh").as("gh")).distinct()

  /** Per-document window-hash POSTINGS (X140) — the RETRACTION-capable
    * form of [[substringStoreRecords]]: (id, gh) rows WITH doc
    * attribution, so a right-to-be-forgotten delete can remove exactly
    * one document's contribution. The global distinct-gh index X132
    * consumes is the [[substringIndex]] view; under retraction a hash
    * survives iff ANOTHER stored doc still carries it — removal is
    * exact, never over-forgetting (a shared boilerplate window stays
    * covered) and never under-forgetting (content solely owned by the
    * deleted docs becomes admissible again). Spec-pinned:
    * retract(postings(S), R) ▷ index ≡ postings(S ∖ R) ▷ index.
    * Storage cost vs the plain index: one row per (doc, distinct
    * window) instead of one per distinct window — the price of
    * deletability; compact to [[substringStoreRecords]] only for
    * corpora that will never retract. */
  def substringStorePostings(df: DataFrame, idCol: String, textCol: String,
      L: Int, posBase: Long = 100000L): DataFrame =
    substringGramsOf(substringToks(df, idCol, textCol, L, posBase), L, posBase)
      .select(col("id"), col("_gh").as("gh")).distinct()

  /** The X132-consumable distinct-hash index view of a postings
    * store. */
  def substringIndex(postings: DataFrame): DataFrame = {
    require(postings.columns.contains("gh"),
      s"substringIndex: postings need a gh column, got ${postings.columns.mkString(", ")}")
    postings.select(col("gh")).distinct()
  }

  /** Remove `ids`' contributions from a postings store — the
    * right-to-be-forgotten pass over the substring index. The delete
    * batch is bounded by construction, so it broadcasts under the
    * budget gate (one bounded limit-probe) with a shuffle-hash-pinned
    * anti-join fallback; the store streams through once either way. */
  def retractSubstringPostings(postings: DataFrame, ids: DataFrame,
      idBroadcastBudget: Long = 1000000L): DataFrame = {
    require(Set("id", "gh").subsetOf(postings.columns.toSet),
      s"retractSubstringPostings: postings need id/gh, got ${postings.columns.mkString(", ")}")
    require(ids.columns.contains("id"),
      s"retractSubstringPostings: ids need an id column, got ${ids.columns.mkString(", ")}")
    val idOnly = ids.select(col("id")).persistTracked()
    val idsJ =
      if (fitsBudget(idOnly, idBroadcastBudget)) broadcast(idOnly)
      else idOnly.hint("shuffle_hash")
    postings.join(idsJ, Seq("id"), "left_anti")
  }

  /** Incremental (cross-snapshot) EXACT-SUBSTRING dedup (X132) — the
    * fourth dedup family's ingestion-time form, completing the
    * X112 (exact) / X113 (MinHash) / X116 (semantic) trilogy into a
    * quartet: a new batch dedups its duplicated L-token windows
    * against the already-ingested corpus represented ONLY by its
    * [[substringStoreRecords]] window-hash index — history is never
    * re-tokenized or re-scanned. A batch window whose hash is IN the
    * store is covered at EVERY batch occurrence (history holds an
    * earlier occurrence by construction); windows NOT in the store
    * fall back to [[exactSubstringDedup]]'s within-batch global-first
    * rule. With store ids preceding batch ids this equals the
    * full-corpus pass restricted to the batch — spec-pinned:
    * incremental(records(S), B) ≡ exactSubstringDedup(S ∪ B) ↾ B.
    *
    * Scale shape: ONE store-sized join — the batch's (id, pos, md5)
    * postings left-join the hash index on the 16-byte key, pinned
    * shuffle-hash (the store is corpus-scale and must never ride an
    * AQE broadcast guess); the within-batch dup agg and cover join
    * run on the store-MISS slice only; shuffles carry postings and
    * positions, never text; reassembly is the shared back half.
    * Returns (id, n_tokens, n_kept, kept_md5) for every batch doc —
    * the caller appends `substringStoreRecords(batch)` to the index
    * for the next increment. */
  def incrementalSubstringDedup(newBatch: DataFrame, storeGrams: DataFrame,
      idCol: String, textCol: String, L: Int,
      posBase: Long = 100000L): DataFrame =
    incrementalSubstringCore(
      substringToks(newBatch, idCol, textCol, L, posBase),
      storeGrams, L, posBase)

  /** [[incrementalSubstringDedup]] over a prepared [[tokenBase]] batch
    * (r22) — identical output, same guards, no re-tokenize. */
  def incrementalSubstringDedupFromToks(batchToks: DataFrame,
      storeGrams: DataFrame, idCol: String, L: Int,
      posBase: Long = 100000L): DataFrame =
    incrementalSubstringCore(
      substringToksGuarded(batchToks, idCol, col("_t"), L, posBase),
      storeGrams, L, posBase)

  private def incrementalSubstringCore(guardedToks: DataFrame,
      storeGrams: DataFrame, L: Int, posBase: Long): DataFrame = {
    require(storeGrams.columns.contains("gh"),
      s"incrementalSubstringDedup: store must have column gh " +
        s"(substringStoreRecords' schema), got ${storeGrams.columns.mkString(", ")}")
    val toks = guardedToks.persistTracked()
    // marked feeds three structurally different consumers (store-hit
    // slice, fresh-dup agg, fresh cover join) — persist the postings
    // (id/pos/hash only, no text rides the cache)
    val marked = substringGramsOf(toks, L, posBase)
      .join(storeGrams.select(col("gh").as("_gh"), lit(1).as("_in"))
        .hint("shuffle_hash"), Seq("_gh"), "left")
      .persistTracked()
    val coveredStore = marked.filter(col("_in") === 1)
      .select(col("id"), col("pos"))
    val freshG = marked.filter(col("_in").isNull)
    val dup = freshG.groupBy("_gh")
      .agg(count(lit(1)).as("_c"), min(col("_occ")).as("_first"))
      .filter(col("_c") >= 2)
      .select("_gh", "_first")
    val coveredBatch = freshG.hint("shuffle_hash").join(dup, Seq("_gh"))
      .filter(col("_occ") =!= col("_first"))
      .select(col("id"), col("pos"))
    val covered = coveredStore.unionByName(coveredBatch)
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (L - 1))).as("_tp"))
      .distinct()
    substringReassemble(toks, covered, L)
  }

  /** Distinct-shingle set table (id, _sh, _size) — the shared input of
    * the prefix index and verification joins. Package-private so specs
    * can pin index-size properties against the same construction. */
  private[graft] def shingleSetTable(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int): DataFrame =
    spread(df).select(col(idCol).as("id"),
      array_distinct(shinglesAuto(df, textCol, shingleN)).as("_sh"))
      .withColumn("_size", size(col("_sh")))

  /** Posting table (id, _size, _gk): one row per distinct shingle per
    * document, shingles as fixed-width md5 keys, never text (repo
    * convention — halves the shuffle payload and keeps key comparisons
    * cheap). */
  private[graft] def postingsTable(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int): DataFrame =
    shingleSetTable(df, idCol, textCol, shingleN)
      .select(col("id"), col("_size"), explode(col("_sh")).as("_g"))
      .select(col("id"), col("_size"), md5(col("_g")).as("_gk"))

  /** PPJoin prefix postings over a posting table: each document's
    * |S| − ⌈t·|S|⌉ + 1 rarest shingles under the global (document
    * frequency, md5 key) order — the df-rank tie-break uses the md5
    * key, so the prefix stays a pure function of the corpus. The rank
    * is computed with a per-document sort_array over collected
    * (df, key) structs — ONE hash-partitioned aggregation whose
    * partials combine map-side, instead of an Exchange+global-Sort
    * row_number window; the sorted group is a single document's
    * shingle set, bounded by document length, never by corpus size.
    *
    * The document-frequency table is attached by BROADCAST after
    * dropping df = 1 keys (absent keys coalesce to 1): under any
    * Zipfian corpus the repeated-shingle vocabulary is a small
    * fraction of all distinct shingles, so the broadcast stays
    * driver-bounded while the corpus-sized posting side never
    * shuffles for the join. That assumption is ENFORCED, not hoped:
    * the broadcast is gated on `dfBroadcastBudget` repeated-key rows
    * (bounded limit-probe over the persisted df table — boilerplate/
    * template shingles grow with document count, so a corpus CAN
    * outgrow the budget) and falls back to the semantically identical
    * shuffle-hash join above it. */
  private[graft] def prefixPostings(inv: DataFrame, threshold: Double,
      dfBroadcastBudget: Long = 4000000L): DataFrame = {
    val dfreq = inv.groupBy("_gk").agg(count(lit(1)).as("_df"))
      .filter(col("_df") > 1)
      .persistTracked()
    val prefixLen = (col("_size") - ceil(col("_size") * threshold) + 1)
      .cast("int")
    val withDf =
      if (fitsBudget(dfreq, dfBroadcastBudget))
        inv.join(broadcast(dfreq), Seq("_gk"), "left")
      else inv.hint("shuffle_hash").join(dfreq, Seq("_gk"), "left")
    withDf
      .groupBy(col("id"), col("_size"))
      .agg(slice(sort_array(collect_list(
        struct(coalesce(col("_df"), lit(1L)).as("_df"), col("_gk")))),
        lit(1), greatest(prefixLen, lit(0))).as("_pref"))
      .select(col("id"), col("_size"),
        explode(col("_pref")).as("_p"))
      .select(col("id"), col("_size"), col("_p._gk").as("_gk"))
  }

  /** 60-bit SimHash over the token stream: bit b of the signature is
    * set iff Σ_tokens (2·bit_b(hash(token)) − 1) > 0. One pass to hash
    * tokens, then 60 integer reductions over the (small) hash array —
    * all inside whole-stage codegen. */
  def simhash60(text: Column): Column = {
    val hs = transform(tokens(lower(text)), t => hexHash60Tok(t))
    val bitCols = transform(sequence(lit(0), lit(59)), b => {
      val votes = aggregate(hs, lit(0),
        (acc, h) => acc +
          when(call_function("shiftright", h, b).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(votes > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))
    })
    aggregate(bitCols, lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  private def hexHash60Tok(t: Column): Column =
    conv(substring(md5(concat(lit("sh:"), t).cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** simhash60 via the native codegen expression when the session has
    * GraftExtensions registered (single md5 pass per token vs 60
    * array re-scans in the HOF form); falls back to the portable HOF
    * otherwise. Same bits either way. */
  def simhash60Auto(df: DataFrame, textCol: String): Column =
    if (df.sparkSession.catalog.functionExists("graft_simhash60"))
      call_function("graft_simhash60", tokens(lower(col(textCol))))
    else simhash60(col(textCol))

  /** SimHash near-dup pairs with Hamming ≤ maxDist, candidates via
    * 4-way band pigeonhole (any pair within Hamming 3 shares at least
    * one intact 15-bit quarter). Verified with exact
    * `bit_count(xor)`. */
  /** `maxDist` must be ≤ 3: the 4-band pigeonhole is lossless only
    * there, and the pre-refactor behavior above 3 SILENTLY missed
    * pairs (banding recall < 1 with no signal) — the delegated guard
    * now fails loud instead, per the repo convention. Widen the
    * banding via [[fingerprintNearDupPairs]] directly for larger
    * radii. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    val sigs = spread(df).select(col(idCol).as("id"),
      simhash60Auto(df, textCol).as("sig"))
    fingerprintNearDupPairs(sigs, "id", "sig", bits = 60, bands = 4,
      maxDist = maxDist)
  }

  /** Banded Hamming near-dup pairs over ANY integer fingerprint column
    * (X144) — the SimHash arrangement factored out so every
    * fingerprint the engine emits (the 60-bit text simhash above, the
    * X123/X124 12-bit image/audio block-mean hashes) shares ONE
    * lossless banding pipeline: the hash splits into `bands`
    * contiguous bit-slices; a pair is a candidate iff SOME band agrees
    * exactly — pigeonhole-lossless for hamming ≤ maxDist whenever
    * bands > maxDist (enforced) — and candidates verify by exact
    * `bit_count(xor)`.
    *
    * HOT-BUCKET GUARD (the 100 TB shape): identical sigs are COLLAPSED
    * before banding. Perceptual hashes are low-entropy by design —
    * millions of blank/monochrome/boilerplate media objects share one
    * sig exactly, and banding raw doc rows would put all of them (×
    * bands) into the same buckets: a quadratic candidate explosion in
    * one shuffle partition. Instead the banded self-join runs over
    * DISTINCT sigs only, so a band bucket holds at most
    * min(#distinct sigs, 2^(bits − bits/bands)) rows no matter how
    * skewed the corpus — multiplicity cannot inflate a bucket.
    * Verified sig-level pairs then re-expand to member pairs by two
    * sig-keyed joins (cross-sig pairs) plus one sig-keyed self-join
    * (within-sig pairs, Hamming 0 by definition) — LOSSLESS: the
    * output pair set is bit-identical to the uncollapsed form
    * (spec-pinned on a heavy-multiplicity corpus), and any remaining
    * skew is proportional to the caller-requested OUTPUT, never to
    * spurious candidates. Shuffles carry (band, bucket, sig) /
    * (sig, id) only. Gate coverage: q_simhash_pairs runs through this
    * core; the perceptual-hash application is spec-pinned on crafted
    * fingerprints (12-bit hashes over a synthetic corpus collide too
    * densely for a statistically meaningful corpus gate row —
    * documented, not hidden). */
  def fingerprintNearDupPairs(hashes: DataFrame, idCol: String,
      hashCol: String, bits: Int, bands: Int, maxDist: Int): DataFrame = {
    require(bits >= 1 && bits <= 63, s"bits must be in [1, 63], got $bits")
    require(bands >= 1 && bits % bands == 0,
      s"bands ($bands) must divide bits ($bits)")
    require(maxDist >= 0 && maxDist < bands,
      s"pigeonhole losslessness needs bands > maxDist, got bands=$bands maxDist=$maxDist")
    val w = bits / bands
    val mask = (1L << w) - 1
    // docs feed the distinct-sig collapse plus three expansion scans —
    // persist once (registry-released), PRE-PARTITIONED on sig: the
    // cached partitioning satisfies every downstream sig-keyed
    // consumer (distinct's partial agg, the within-sig self-join's
    // both sides, the member-expansion probe sides), so the collapse
    // costs ONE up-front exchange instead of one per consumer
    val docs = hashes.select(col(idCol).as("id"), col(hashCol).as("sig"))
      .repartition(col("sig"))
      .persistTracked()
    val sigs = docs.select(col("sig")).distinct()
    val banded = sigs
      .select(col("sig"),
        posexplode(array((0 until bands).map(q =>
          shiftrightunsigned(col("sig"), q * w).bitwiseAND(lit(mask))): _*)))
      .select(col("sig"), col("pos").as("band"), col("col").as("bucket"))
    val a = banded.select(col("band"), col("bucket"), col("sig").as("_sigA"))
    val b = banded.select(col("band"), col("bucket"), col("sig").as("_sigB"))
    // sig-level candidates: bucket population is entropy-bounded (see
    // doc above); canonical _sigA < _sigB halves the pair space and
    // distinct() collapses multi-band rediscoveries of one sig pair
    val repPairs = a.hint("shuffle_hash").join(b, Seq("band", "bucket"))
      .filter(col("_sigA") < col("_sigB"))
      .select(col("_sigA"), col("_sigB"),
        call_function("bit_count", col("_sigA").bitwiseXOR(col("_sigB")))
          .cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
    // re-expand: cross-sig member pairs (every member of A × every
    // member of B is at the same verified distance)...
    val mA = docs.select(col("sig").as("_sigA"), col("id").as("_idA"))
    val mB = docs.select(col("sig").as("_sigB"), col("id").as("_idB"))
    val cross = repPairs.hint("shuffle_hash").join(mA, Seq("_sigA"))
      .hint("shuffle_hash").join(mB, Seq("_sigB"))
      .select(least(col("_idA"), col("_idB")).as("id1"),
        greatest(col("_idA"), col("_idB")).as("id2"), col("hamming"))
    // ...plus within-sig pairs — identical fingerprints, Hamming 0,
    // no banding or verification needed
    val d1 = docs.select(col("sig"), col("id").as("id1"))
    val d2 = docs.select(col("sig"), col("id").as("id2"))
    val within = d1.hint("shuffle_hash").join(d2, Seq("sig"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), lit(0).cast("int").as("hamming"))
    cross.unionByName(within)
  }

  /** Incremental (cross-snapshot) FINGERPRINT near-dup (X167) — the
    * [[incrementalNearDup]] store contract for the MULTIMODAL
    * fingerprint family: a new batch of integer fingerprints (the
    * X154 56-bit image grid phash, the X124 audio block hash, or any
    * [[fingerprintNearDupPairs]]-compatible hash) dedups against the
    * already-ingested corpus represented ONLY by its `(id, sig)` hash
    * store — history is never re-decoded (the store is 8 bytes +
    * id per media object; payloads stay in cold storage).
    *
    * Banding runs batch-vs-store instead of self-join: band keys are
    * bit-slices of the STORED hashes, derived per increment (the X113
    * rule — cheap slices are recomputed, expensive evidence is
    * stored; here the hash IS the full verification evidence, so the
    * store carries nothing else). Candidate shuffles carry
    * (band, bucket, sig) — short keys + one BIGINT, never all-pairs
    * and never a payload byte. Verification is EXACT
    * `bit_count(xor) ≤ maxDist` inline on the candidate rows — no
    * second fetch join (the win over the text form, whose store must
    * carry shingle sets).
    *
    * HOT-BUCKET GUARD (shared with [[fingerprintNearDupPairs]] — see
    * there): BOTH sides band DISTINCT sigs only. Blank/monochrome
    * media collapse to one banded row per distinct fingerprint, so a
    * band bucket is bounded by min(#distinct sigs, 2^(bits −
    * bits/bands)) regardless of corpus skew, and candidate volume is
    * O(distinct_batch·bands + distinct_store·bands). The collapse is
    * LOSSLESS for the survivor semantics below: members of one sig
    * group are mutual exact dups (Hamming 0), so only the group's
    * lowest id can ever survive, and it survives iff its sig survives
    * at group level — spec-pinned collapsed ≡ uncollapsed on a
    * heavy-multiplicity batch.
    *
    * Within-batch near-dups resolve by the same deterministic
    * PAIRWISE lowest-id rule as [[incrementalNearDup]]: a batch doc
    * drops iff it verifies against any store doc or any SMALLER-id
    * batch doc (pairwise, not transitive closure). At sig level that
    * is exactly: group G's min id drops iff some store sig is within
    * maxDist of sig_G, or some batch group H within maxDist has
    * min(H) < min(G); every non-min member drops against its own
    * group min (distance 0). Empty store ≡ the batch-only pass
    * (spec-pinned): survivors are exactly the batch minus
    * [[fingerprintNearDupPairs]]' id2 side.
    *
    * Returns surviving `(id, sig)` rows — the store-append record:
    * the caller's next increment is `store.unionByName(survivors)`. */
  def incrementalFingerprintNearDup(newHashes: DataFrame, store: DataFrame,
      idCol: String, hashCol: String, bits: Int, bands: Int,
      maxDist: Int): DataFrame = {
    require(bits >= 1 && bits <= 63, s"bits must be in [1, 63], got $bits")
    require(bands >= 1 && bits % bands == 0,
      s"bands ($bands) must divide bits ($bits)")
    require(maxDist >= 0 && maxDist < bands,
      s"pigeonhole losslessness needs bands > maxDist, got bands=$bands maxDist=$maxDist")
    require(Set("id", "sig").subsetOf(store.columns.toSet),
      s"incrementalFingerprintNearDup: store must have columns id/sig, " +
        s"got ${store.columns.mkString(", ")}")
    val w = bits / bands
    val mask = (1L << w) - 1
    def bandRows(df: DataFrame, keep: Seq[String]): DataFrame =
      df.select(keep.map(col) :+
          posexplode(array((0 until bands).map(q =>
            shiftrightunsigned(col("sig"), q * w).bitwiseAND(lit(mask))): _*)): _*)
        .select(keep.map(col) :+ col("pos").as("band") :+
          col("col").as("bucket"): _*)
    // collapse the batch to one (sig, min id) row per distinct sig —
    // feeds banding twice + the survivor anti-join; persist once
    // (registry-released)
    val bGroups = newHashes
      .select(col(idCol).cast("long").as("id"), col(hashCol).as("sig"))
      .groupBy(col("sig")).agg(min(col("id")).as("_minId"))
      .persistTracked()
    val bBands = bandRows(
      bGroups.select(col("sig"), col("_minId")), Seq("sig", "_minId"))
    val sBands = bandRows(store.select(col("sig")).distinct(), Seq("sig"))
      .select(col("sig").as("_ssig"), col("band"), col("bucket"))
    def ham(a: Column, b: Column): Column =
      call_function("bit_count", a.bitwiseXOR(b)).cast("int")
    // batch-vs-store at sig level: build side = the (smaller) batch,
    // probe side = the store — pinned shuffle-hash, never a broadcast
    // assumption on a corpus-sized index. The sig rides the band rows,
    // so verify is inline — candidates never re-join either input.
    val dropVsStore = bBands.hint("shuffle_hash")
      .join(sBands, Seq("band", "bucket"))
      .filter(ham(col("sig"), col("_ssig")) <= maxDist)
      .select(col("sig").as("_dsig"))
    // within-batch at group level: G's min drops iff some group H
    // within maxDist has a strictly smaller min (the pairwise
    // lowest-id rule, collapsed)
    val g1 = bBands.select(col("band"), col("bucket"),
      col("sig").as("_s1"), col("_minId").as("_m1"))
    val g2 = bBands.select(col("band"), col("bucket"),
      col("sig").as("_s2"), col("_minId").as("_m2"))
    val dropInBatch = g1.hint("shuffle_hash").join(g2, Seq("band", "bucket"))
      .filter(col("_m1") < col("_m2"))
      .filter(ham(col("_s1"), col("_s2")) <= maxDist)
      .select(col("_s2").as("_dsig"))
    val dropped = dropVsStore.unionByName(dropInBatch).distinct()
    bGroups.join(dropped.hint("shuffle_hash"),
        bGroups("sig") === dropped("_dsig"), "left_anti")
      .select(col("_minId").as("id"), col("sig"))
  }

  /** FINGERPRINT store retraction (X171) — the forget half of the
    * X167/X169 multimodal ingest lifecycle (the X140-substring /
    * X149-label / X161-manifest convention, hash-store flavored):
    * remove retracted media ids from the `(id, sig)` store so future
    * batches stop deduping against them — a re-arrival of retracted
    * content is READMITTED, which is exactly what a takedown /
    * opt-out requires (spec-pinned). One id-keyed equi-join (pinned
    * shuffle-hash — no broadcast assumption on either side); the
    * store is never re-decoded, the history partitions are
    * REPLACED by the caller persisting the returned frame (the X155
    * compaction path, which this output feeds directly).
    *
    * Fail-loud: retracting an id the store never held is an upstream
    * bookkeeping bug (the retract list drifted from the ingest
    * record) — the guard rides the row FILTER (the [[
    * graft.operators.ScaleOps.retractManifest]] convention), so it
    * fires for every joined row no matter which output columns a
    * consumer later prunes: a `.select("id")` or a bare `.count()`
    * still trips the orphan check, and no phantom NULL-id row can
    * ever reach the output. */
  def retractFingerprints(store: DataFrame, ids: DataFrame,
      idCol: String = "id"): DataFrame = {
    require(Set("id", "sig").subsetOf(store.columns.toSet),
      s"retractFingerprints: store must have columns id/sig, got " +
        store.columns.mkString(", "))
    require(ids.columns.contains(idCol),
      s"retractFingerprints: retract list has no '$idCol' column " +
        s"(got ${ids.columns.mkString(", ")})")
    val r = ids.select(col(idCol).cast("long").as("_rid")).distinct()
    val s = store.select(col("id").as("_sid"), col("sig").as("_ssig"))
    val joined = s.join(r.hint("shuffle_hash"),
      col("_sid") === col("_rid"), "full_outer")
    // survivors = store rows the retract list never matched; orphan
    // retract ids (no store row) raise INSIDE the filter so the guard
    // is unprunable regardless of downstream column selection
    val keep = when(col("_sid").isNull,
      raise_error(concat(
        lit("retractFingerprints: id "), col("_rid").cast("string"),
        lit(" is not in the store — retracting never-stored content " +
          "means the retract list drifted from the ingest record")))
        .cast("boolean"))
      .otherwise(col("_rid").isNull)
    joined
      .filter(keep)
      .select(col("_sid").as("id"), col("_ssig").as("sig"))
  }

  /** Connected components over an undirected pair list — the cluster-
    * resolution step that turns near-dup PAIRS (MinHash/SimHash output)
    * into dedup CLUSTERS, so a pipeline can keep one canonical document
    * per cluster instead of dropping both ends of every pair.
    *
    * Algorithm: iterative min-label propagation to fixpoint — every
    * vertex starts labeled with its own id and repeatedly takes the
    * minimum label in its closed neighborhood. Converges in
    * O(component diameter) rounds; near-dup cluster graphs are
    * union-of-cliques-ish (diameter 2-3), so 3-4 rounds in practice.
    * Each round is one equi-join shuffle + one partial-agg min shuffle,
    * both keyed by vertex id — no all-pairs step anywhere.
    *
    * Scale notes: labels only ever decrease, so Σlabels is a strictly
    * decreasing convergence witness — one cheap agg action per round
    * instead of a change-count join. Every `rounds between lineage
    * truncations` iterations the label frame is locally checkpointed:
    * plan depth (and therefore task-serialization cost) stays bounded
    * no matter how many rounds a pathological chain graph needs.
    *
    * Returns (id, cluster_id) with cluster_id = min vertex id in the
    * component.
    *
    * Like `Ranks`' gated driver-local series: a pair list at or below
    * `localThreshold` RAW input rows (counted BEFORE the symmetric
    * union/distinct — the gate is one bounded limit-collect, so it
    * must not pay those exchanges; a duplicate-heavy pair list above
    * the threshold therefore takes the distributed path even when its
    * distinct edge set is tiny, which only costs speed, never
    * correctness) is collected and union-found on the driver in one
    * job instead of ~2 jobs per propagation round; the distributed
    * path is the default above the gate and DedupSpec pins
    * local ≡ distributed. */
  def connectedComponents(pairs: DataFrame, id1: String, id2: String,
      maxIters: Int = 50, localThreshold: Long = 100000): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // ONE bounded action decides the gate: collect at most threshold+1
    // RAW pairs (limit stops early at scale — no full count pass
    // first). Union-find is direction- and duplicate-agnostic, so the
    // local path needs neither the symmetric union nor the distinct —
    // those exchanges are built only if the distributed path runs.
    val gateRows = pairs
      .select(col(id1).cast("long"), col(id2).cast("long"))
      .limit(math.min(localThreshold, Int.MaxValue - 1L).toInt + 1)
      .collect()
    if (gateRows.length <= localThreshold) {
      val local = componentsLocal(gateRows.map(r => (r.getLong(0), r.getLong(1))))
      val spark = pairs.sparkSession
      import spark.implicits._
      return local.toSeq.toDF("id", "cluster_id")
    }
    val edges = pairs.select(col(id1).cast("long").as("a"), col(id2).cast("long").as("b"))
      .union(pairs.select(col(id2).cast("long").as("a"), col(id1).cast("long").as("b")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // per-round persists stay UNtracked (category-1 eager release —
    // the loop frees each superseded frame itself); only the final
    // surviving frame registers below
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("cluster_id")), lit(0L))).head().getLong(0)
    var prevSum = labelSum(labels)
    var it = 0
    var done = prevSum == 0L // empty pair list: nothing to propagate
    while (!done && it < maxIters) {
      val nbr = edges
        .join(labels.select(col("id").as("b"), col("cluster_id").as("_nl")), Seq("b"))
        .select(col("a").as("id"), col("_nl").as("cluster_id"))
      var next = labels.select("id", "cluster_id").union(nbr)
        .groupBy("id").agg(min("cluster_id").as("cluster_id"))
      // truncate lineage every few rounds: the iterated plan otherwise
      // grows linearly and task serialization dominates on long chains
      next =
        if (it % 5 == 4) next.localCheckpoint(eager = false)
        else next
      next = next.persist(StorageLevel.MEMORY_AND_DISK)
      val s = labelSum(next) // materializes `next`
      labels.unpersist()
      labels = next
      done = s == prevSum
      prevSum = s
      it += 1
    }
    edges.unpersist()
    // the ESCAPING frame: materialized above, referenced by the caller's
    // plan — register (already persisted) for Caches.release
    graft.core.Caches.track(labels)
  }

  /** Driver-side union-find with path halving; components relabeled to
    * their minimum member id — exactly the distributed fixpoint. */
  private def componentsLocal(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) {
        val p = parent(r)
        parent(r) = parent.getOrElse(p, p) // path halving
        r = parent(r)
      }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val minOf = scala.collection.mutable.Map[Long, Long]()
    parent.keys.foreach { v =>
      val r = find(v)
      minOf(r) = math.min(minOf.getOrElse(r, v), v)
    }
    parent.keys.toArray.sorted.map(v => (v, minOf(find(v))))
  }

  /** SOFT dedup — down-WEIGHT near-duplicate clusters instead of
    * dropping them (the SoftDeDup observation, He et al. 2024,
    * arXiv:2407.06654: hard removal throws away the signal that a
    * document was worth duplicating; reweighting keeps every document
    * while restoring the effective token distribution). Each document
    * gets its MinHash-CC cluster and the sampling weight
    * weight_bp = ⌊10⁴ / cluster_size⌋ — a cluster of N near-copies
    * contributes ONE expected doc-equivalent, a singleton keeps weight
    * 10000 exactly. Two downstream uses, both emitted: `weight_bp` is
    * the per-example loss/sampling weight a trainer consumes directly;
    * `keep` is the materialized deterministic sample at that rate
    * (salted-md5 bucket < weight_bp — the [[ScaleOps.stratifiedSample]]
    * convention, salt "soft:" so membership is independent of the
    * split/mix/shard salts). Unlike [[canonicalByScore]] there is no
    * canonical pick: survivors are a uniform pseudo-random slice of
    * each cluster, so no single crawl variant dominates.
    *
    * Scale shape: the pair mining is [[minhashNearDupPairs]]' banded
    * index (never all-pairs), labels come from [[connectedComponents]]
    * (affected-component bounded), and the new work is ONE
    * cluster-keyed partial-agg count over the LABELS table (pair-
    * involved docs only — the clustered slice, not the corpus) plus
    * two id/cluster-keyed joins back onto the corpus spine; the weight
    * and keep columns are pure map-side integer arithmetic. Unclustered
    * docs never enter any shuffle beyond the spine's left join. */
  def softDedup(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3,
      bands: Int = 4, rowsPerBand: Int = 3): DataFrame =
    softDedupTail(docs.select(col(idCol)), idCol,
      minhashNearDupPairs(docs, idCol, textCol, threshold,
        shingleN, bands, rowsPerBand))

  /** [[softDedup]] over a prepared [[tokenBase]] (r22) — identical
    * table; the pair mining consumes the shared token table's shingles
    * instead of re-tokenizing the corpus. */
  def softDedupFromToks(toks: DataFrame, idCol: String, threshold: Double,
      shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 3): DataFrame = {
    require(toks.columns.contains("_t"),
      s"softDedupFromToks: input must carry the tokenBase _t column, " +
        s"got ${toks.columns.mkString(", ")}")
    softDedupTail(toks.select(col(idCol)), idCol,
      minhashNearDupPairsFromBase(
        graft.core.Caches.persistTracked(
          toks.select(col(idCol).as("id"),
            array_distinct(shinglesOfToksAuto(toks, col("_t"), shingleN))
              .as("_sh"))),
        threshold, bands, rowsPerBand))
  }

  /** [[softDedup]] over an ALREADY-mined verified pair list (r22) —
    * identical table: callers that also need the raw pairs (the
    * retraction/increment gates) mine them once and feed both
    * consumers, instead of running the full banded pipeline twice. */
  def softDedupFromPairs(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame =
    softDedupTail(docs.select(col(idCol)), idCol, pairs)

  private def softDedupTail(spine: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val labels = connectedComponents(pairs, "id1", "id2")
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("long").as("_csize"))
    // Rename the label side before joining: connectedComponents emits
    // literally (id, cluster_id), so a caller whose idCol is "id" (or
    // "cluster_id") would otherwise hit an ambiguous-column
    // AnalysisException on the join condition.
    val lbl = labels.join(sizes, Seq("cluster_id"))
      .select(col("id").as("_lid"), col("cluster_id").as("_lcid"),
        col("_csize"))
    val bucket = conv(substring(
      md5(concat(lit("soft:"), col(idCol).cast("string"))), 1, 4), 16, 10)
      .cast("long") % 10000
    spine.join(lbl, col(idCol) === col("_lid"), "left")
      .select(col(idCol),
        coalesce(col("_lcid"), col(idCol).cast("long")).as("cluster_id"),
        coalesce(col("_csize"), lit(1L)).as("cluster_size"))
      .withColumn("weight_bp", expr("10000L div cluster_size"))
      .withColumn("keep", bucket < col("weight_bp"))
  }

  /** Incremental (cross-snapshot) cluster maintenance (X133) — the
    * canonicalization pass that closes the ingestion story: the
    * increments (X112/X113/X116/X132) resolve duplicates by a
    * documented NON-transitive pairwise lowest-id rule; this operator
    * folds a batch's verified duplicate pairs into the STORED cluster
    * labels (a previous [[connectedComponents]] output, cluster_id =
    * min member id) without re-running CC over history.
    *
    * Warm start via graph CONTRACTION: each new-pair endpoint maps to
    * its stored label (or itself when unlabeled — a brand-new id), the
    * batch's pairs become edges over that contracted node set, and CC
    * runs on THAT graph only — its size is bounded by the batch, never
    * the corpus, and since every stored label is already the minimum
    * of its component, the contracted minimum IS the global minimum.
    * Labels touched by no new pair are provably unchanged, so the
    * result equals full CC over (stored pairs ∪ new pairs) exactly
    * (spec-pinned, including cross-cluster merges and a new id
    * becoming the new minimum).
    *
    * Scale shape: ZERO corpus-sized shuffles — the endpoint-label
    * lookup streams the store once map-side against the broadcast
    * endpoint set (budget-gated, shuffle-hash fallback), and the final
    * relabel streams it once more against the broadcast old→new
    * mapping (bounded by the contracted graph, same gate). The id
    * space is shared across snapshots and batch-new ids must not
    * collide with stored ids — the X112-family store contract.
    *
    * Returns the complete updated label table (every stored id + every
    * id in `newPairs`) — what the caller persists for the next
    * increment. */
  def incrementalConnectedComponents(storedLabels: DataFrame,
      newPairs: DataFrame, id1: String = "id1", id2: String = "id2",
      mapBroadcastBudget: Long = 1000000L): DataFrame =
    contractLabels(storedLabels, newPairs, id1, id2, mapBroadcastBudget,
      endsKnownToFit = false)

  /** [[incrementalConnectedComponents]]; `endsKnownToFit` is a budget
    * verdict the caller already paid for a superset of the batch's
    * endpoint set, which skips this operator's own probe. */
  private def contractLabels(storedLabels: DataFrame, newPairs: DataFrame,
      id1: String, id2: String, mapBroadcastBudget: Long,
      endsKnownToFit: Boolean): DataFrame = {
    val needed = Set("id", "cluster_id")
    require(needed.subsetOf(storedLabels.columns.toSet),
      s"incrementalConnectedComponents: storedLabels must have columns " +
        s"id/cluster_id (connectedComponents' schema), got ${storedLabels.columns.mkString(", ")}")
    val stored = storedLabels.select(col("id").cast("long").as("id"),
      col("cluster_id").cast("long").as("cluster_id"))
    val pairs = newPairs
      .select(col(id1).cast("long").as("_a"), col(id2).cast("long").as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull && col("_a") =!= col("_b"))
      .persistTracked() // feeds the endpoint set and both contracted-edge maps
    // endpoint → stored-label lookup: the batch-bounded endpoint set
    // broadcasts INTO the store scan (inner join, map-side — the store
    // is never shuffled), then the label attach happens small-vs-small
    val ends = pairs.select(explode(array(col("_a"), col("_b"))).as("id")).distinct()
    val endsFits = endsKnownToFit || fitsBudget(ends, mapBroadcastBudget)
    val endsJoin = if (endsFits) broadcast(ends) else ends.hint("shuffle_hash")
    val endLabels = ends.join(stored.join(endsJoin, Seq("id")), Seq("id"), "left")
      .select(col("id"), col("cluster_id").as("_lbl"))
      .persistTracked() // three consumers: two edge maps + new-id slice
    val la = endLabels.select(col("id").as("_a"), col("_lbl").as("_la"))
    val lb = endLabels.select(col("id").as("_b"), col("_lbl").as("_lb"))
    val contracted = pairs.join(la, Seq("_a")).join(lb, Seq("_b"))
      .select(coalesce(col("_la"), col("_a")).as("ra"),
        coalesce(col("_lb"), col("_b")).as("rb"))
      .filter(col("ra") =!= col("rb"))
    // CC over the contracted graph only — batch-bounded; nodes are
    // stored labels and brand-new ids
    val cc = graft.core.Caches.persistTracked(
      connectedComponents(contracted, "ra", "rb"))
    val mapping = cc.select(col("id").as("_old"), col("cluster_id").as("_new"))
    // |mapping| = |contracted nodes| ≤ |ends| (each node is an
    // endpoint's label or the endpoint itself) — when ends fit the
    // budget, mapping provably does too, so the probe action is
    // derived, not re-run (r21, guide §1.2: each probe is a driver job)
    val mapJoin =
      if (endsFits || fitsBudget(mapping, mapBroadcastBudget)) broadcast(mapping)
      else mapping.hint("shuffle_hash")
    val remapped = stored.join(mapJoin, col("cluster_id") === col("_old"), "left")
      .select(col("id"), coalesce(col("_new"), col("cluster_id")).as("cluster_id"))
    // brand-new ids (no stored label): their contracted-CC label is
    // final — every one appears in >= 1 contracted edge (a pair with a
    // stored id contracts to (new, label); ids are snapshot-disjoint)
    val fresh = endLabels.filter(col("_lbl").isNull).select(col("id"))
      .join(cc, Seq("id"))
      .select(col("id"), col("cluster_id"))
    remapped.unionByName(fresh)
  }

  /** Incremental SOFT-dedup weight maintenance (X216) — the ingestion
    * form of [[softDedup]], keeping the family discipline (every dedup
    * variant gets its increment): the (id, cluster_id, cluster_size,
    * weight_bp, keep) table is what a down-weighting trainer READS, and
    * unlike the canonical-pick store a cluster merge invalidates EVERY
    * member's row (the weight is 1/size — all siblings re-weight, not
    * just a pick). A batch of new docs + verified near-dup pairs folds
    * in with work bounded by the AFFECTED components:
    *
    *  - an old cluster can change only if one of its members is a new
    *    pair's endpoint (contraction edges connect endpoint labels, so
    *    an endpoint-free cluster cannot merge) — `affectedOld` is the
    *    endpoint→stored-cluster lookup, batch-bounded;
    *  - the contracted CC over (endpoint labels ∪ batch ids) yields
    *    the old→new mapping and the batch labels — bounded graphs,
    *    [[incrementalConnectedComponents]]' warm-start argument;
    *  - new sizes count over (affected stored members ∪ batch rows)
    *    ONLY — every member of a changed cluster is in that set;
    *  - untouched rows pass through VERBATIM (their cluster gained no
    *    member, so size, weight, and keep are provably unchanged).
    *
    * Result provably equals [[softDedup]]'s tail over the union corpus
    * under (stored pairs ∪ new pairs) — the oracle IS the full
    * recompute. Scale shape: ONE store scan (map-side against the
    * broadcast batch/affected sets, budget-gated shuffle-hash
    * fallback), bounded CC, bounded re-weight; the re-arrival guard
    * (a batch id already in the store — the X112-family id contract)
    * rides the cluster_id column so no projection prunes it. Batch
    * ids must cover every new-pair endpoint that is not stored.
    *
    * `mapBroadcastBudget` is a row-count HEURISTIC for picking the
    * join strategy, not a hard memory cap: sets provably within 2× of
    * a probed set reuse its verdict (the r21 derive-bounded
    * discipline), so a frame of up to 2× the budget can broadcast —
    * size executors for 2× budget rows of longs (~32 MB at the
    * default) or lower the budget. */
  def incrementalSoftDedup(storedWeights: DataFrame, newPairs: DataFrame,
      batchIds: DataFrame, idCol: String = "id",
      mapBroadcastBudget: Long = 1000000L): DataFrame = {
    val needed = Set("id", "cluster_id", "cluster_size", "weight_bp", "keep")
    require(needed.subsetOf(storedWeights.columns.toSet),
      "incrementalSoftDedup: storedWeights must carry softDedup's schema " +
        s"(id, cluster_id, cluster_size, weight_bp, keep), got ${storedWeights.columns.mkString(", ")}")
    val batch = batchIds.select(col(idCol).cast("long").as("id")).distinct()
      .persistTracked() // spine, dup guard, endpoint slice, singleton slice
    def gatedIf(df: DataFrame, fits: Boolean): DataFrame =
      if (fits) broadcast(df) else df.hint("shuffle_hash")
    def gated(df: DataFrame): DataFrame =
      gatedIf(df, fitsBudget(df, mapBroadcastBudget))
    // probe ONCE per independent set; derived sets provably bounded by
    // a probed one reuse its verdict instead of paying another driver
    // job (r21, guide §1.2 — each probe is an action, and with AQE an
    // action is several scheduled jobs)
    val batchFits = fitsBudget(batch, mapBroadcastBudget)
    // ONE store scan: dup-arrival guard + endpoint/affected routing.
    // The raise rides cluster_id so Catalyst cannot prune it.
    val st = storedWeights.select(col("id").cast("long").as("id"),
      col("cluster_id").cast("long").as("cluster_id"),
      col("cluster_size").cast("long").as("cluster_size"),
      col("weight_bp").cast("long").as("weight_bp"), col("keep"))
      .join(gatedIf(batch.withColumn("_dup", lit(1)), batchFits),
        Seq("id"), "left")
      .withColumn("cluster_id",
        when(col("_dup") === 1, raise_error(concat(
          lit("incrementalSoftDedup: batch id "), col("id").cast("string"),
          lit(" already stored — re-arrival violates the snapshot-disjoint id contract"))))
          .otherwise(col("cluster_id")))
      .drop("_dup")
      .persistTracked()
    val pairs = newPairs
      .select(col("id1").cast("long").as("_a"), col("id2").cast("long").as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull && col("_a") =!= col("_b"))
      .persistTracked()
    val ends = pairs.select(explode(array(col("_a"), col("_b"))).as("id"))
      .distinct().persistTracked()
    val endsFits = fitsBudget(ends, mapBroadcastBudget)
    // endpoint → stored label (null = batch-new endpoint)
    val endLabels = ends.join(st.join(gatedIf(ends, endsFits), Seq("id"))
        .select(col("id"), col("cluster_id")), Seq("id"), "left")
      .select(col("id"), col("cluster_id").as("_lbl"))
      .persistTracked()
    val la = endLabels.select(col("id").as("_a"), col("_lbl").as("_la"))
    val lb = endLabels.select(col("id").as("_b"), col("_lbl").as("_lb"))
    val contracted = pairs.join(la, Seq("_a")).join(lb, Seq("_b"))
      .select(coalesce(col("_la"), col("_a")).as("ra"),
        coalesce(col("_lb"), col("_b")).as("rb"))
      .filter(col("ra") =!= col("rb"))
    val cc = graft.core.Caches.persistTracked(
      connectedComponents(contracted, "ra", "rb"))
    // affected old clusters = stored labels of pair endpoints —
    // |affectedOld| ≤ |ends|, and |mapping| = |contracted nodes| ≤
    // |ends| too: both reuse the ends verdict instead of re-probing
    val affectedOld = endLabels.filter(col("_lbl").isNotNull)
      .select(col("_lbl").as("cluster_id")).distinct().persistTracked()
    val affectedOldFits = endsFits ||
      fitsBudget(affectedOld, mapBroadcastBudget)
    val mapping = cc.select(col("id").as("_old"), col("cluster_id").as("_new"))
    // affected stored members relabeled through the bounded mapping
    val affMembers = st.join(gatedIf(affectedOld, affectedOldFits),
        Seq("cluster_id"))
      .join(gatedIf(mapping,
        endsFits || fitsBudget(mapping, mapBroadcastBudget)),
        col("cluster_id") === col("_old"), "left")
      .select(col("id"),
        coalesce(col("_new"), col("cluster_id")).as("cluster_id"))
    // batch rows: pair-touched take their contracted-CC label (a
    // stored label as minimum stays the global minimum), singletons
    // label themselves
    val batchLbl = batch
      .join(cc.select(col("id"), col("cluster_id").as("_bl")), Seq("id"), "left")
      .select(col("id"), coalesce(col("_bl"), col("id")).as("cluster_id"))
    // a new-pair endpoint that is neither stored nor in the batch has
    // no row to carry its weight — raise instead of silently dropping
    // a cluster member (the count below would under-size the cluster)
    val orphan = endLabels.filter(col("_lbl").isNull)
      .join(batch, Seq("id"), "left_anti")
      .select(col("id"), raise_error(concat(
        lit("incrementalSoftDedup: new-pair endpoint "),
        col("id").cast("string"),
        lit(" is neither stored nor in the batch"))).cast("long")
        .as("cluster_id"))
    // re-weight ONLY the affected + batch rows
    val rewrite = affMembers.unionByName(batchLbl).unionByName(orphan)
      .persistTracked()
    val sizes = rewrite.groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("long").as("cluster_size"))
    val bucket = conv(substring(
      md5(concat(lit("soft:"), col("id").cast("string"))), 1, 4), 16, 10)
      .cast("long") % 10000
    // |sizes| (one row per rewritten cluster) ≤ |affectedOld| + |batch|
    // — every rewritten cluster either existed (had an endpoint) or is
    // batch-new. Within 2× of the probed budget, a safety-margin
    // heuristic, not a hard cap (budget rows ≈ 16 MB of longs) — so
    // the verdict derives from the two probes already paid.
    val rewritten = rewrite.join(gatedIf(sizes,
        (affectedOldFits && batchFits) ||
          fitsBudget(sizes, mapBroadcastBudget)), Seq("cluster_id"))
      .withColumn("weight_bp", expr("10000L div cluster_size"))
      .withColumn("keep", bucket < col("weight_bp"))
      .select(col("id"), col("cluster_id"), col("cluster_size"),
        col("weight_bp"), col("keep"))
    // untouched rows pass through verbatim (anti on the bounded set)
    val untouched = st.join(gatedIf(affectedOld, affectedOldFits),
      Seq("cluster_id"), "left_anti")
      .select(col("id"), col("cluster_id"), col("cluster_size"),
        col("weight_bp"), col("keep"))
    untouched.unionByName(rewritten)
  }

  /** SOFT-DEDUP WEIGHT retraction (X218) — right-to-be-forgotten for
    * the X213 weight store, completing the family's lifecycle (batch →
    * increment → stream → retract, the ladder every serving store
    * keeps). Like the canonical picks (X196), rows cannot simply be
    * deleted — twice over: a retracted member shrinks its cluster, so
    * every SURVIVING sibling's weight moves UP (weight = 1/size), and
    * a retracted bridge can SPLIT a component into fragments that each
    * re-weight independently (or become full-weight singletons).
    * Labels update via [[retractClusterLabels]]' affected-component
    * reruns over the kept pair store; weights recompute ONLY for the
    * affected survivors (new sizes count over that bounded set —
    * retraction never merges clusters, so every member of a
    * post-retraction fragment came from an affected old cluster);
    * untouched rows pass through verbatim; a retracted singleton's row
    * simply disappears. Unknown retract ids raise (the raise rides the
    * cluster_id column through the re-weight — a silent no-op forget
    * is the failure a forget API must not have). Result ≡ the batch
    * operator over surviving docs under surviving pairs — the oracle
    * is that full recompute. */
  def retractSoftDedup(storedWeights: DataFrame, storedPairs: DataFrame,
      retractIds: DataFrame, broadcastBudget: Long = 1000000L): DataFrame = {
    val needed = Set("id", "cluster_id", "cluster_size", "weight_bp", "keep")
    require(needed.subsetOf(storedWeights.columns.toSet),
      "retractSoftDedup: storedWeights must carry softDedup's schema " +
        s"(id, cluster_id, cluster_size, weight_bp, keep), got ${storedWeights.columns.mkString(", ")}")
    val stored = storedWeights.select(col("id").cast("long").as("id"),
      col("cluster_id").cast("long").as("cluster_id"),
      col("cluster_size").cast("long").as("cluster_size"),
      col("weight_bp").cast("long").as("weight_bp"), col("keep"))
      .persistTracked()
    val rids = retractIds.select(col("id").cast("long").as("id"))
      .filter(col("id").isNotNull).distinct().persistTracked()
    def gatedIf(df: DataFrame, fits: Boolean): DataFrame =
      if (fits) broadcast(df) else df.hint("shuffle_hash")
    // probe each independent set ONCE; sets provably bounded by a
    // probed one derive its verdict instead of paying another driver
    // job (r21, guide §1.2 — rids was probed three times here)
    val ridsFits = fitsBudget(rids, broadcastBudget)
    val ridsJ = gatedIf(rids, ridsFits)
    // the weight store carries singleton self-labels the LABEL store
    // does not (X149 validates its input against the pair store) —
    // only the clustered slice re-clusters; a retracted singleton has
    // no siblings to re-weight and simply drops below
    val labels2 = graft.core.Caches.persistTracked(
      retractClusterLabels(
        stored.filter(col("cluster_size") > 1)
          .select(col("id"), col("cluster_id")),
        storedPairs, rids, broadcastBudget = broadcastBudget))
    val found = stored.join(ridsJ, Seq("id")).select(col("id"))
      .persistTracked()
    // |affectedOld| ≤ |rids| (one label per retracted id) — derive
    val affectedOld = stored.join(ridsJ, Seq("id"))
      .select(col("cluster_id")).distinct().persistTracked()
    val affectedOldFits = ridsFits || fitsBudget(affectedOld, broadcastBudget)
    val affectedOldJ = gatedIf(affectedOld, affectedOldFits)
    // a retract id with no stored row is a silent-no-op forget — raise
    val unknown = rids.exceptAll(found)
      .select(col("id"), raise_error(concat(
        lit("retractSoftDedup: retract id "), col("id").cast("string"),
        lit(" is not stored — nothing to forget"))).cast("long")
        .as("cluster_id"))
    // affected survivors take their post-retraction labels (bounded:
    // members of affected clusters minus the retracted slice)
    val members = stored.join(affectedOldJ, Seq("cluster_id"))
      .select(col("id"))
      .join(ridsJ, Seq("id"), "left_anti")
    // X149 drops pair-less survivors from the LABEL store (labels only
    // track pair-involved docs); the WEIGHT store must keep them — an
    // isolated survivor becomes its own full-weight singleton
    val membersFits = fitsBudget(members, broadcastBudget)
    val labeled = labels2.join(gatedIf(members, membersFits), Seq("id"))
      .select(col("id"), col("cluster_id"))
    val isolated = members.exceptAll(labeled.select(col("id")))
      .select(col("id"), col("id").as("cluster_id"))
    val rewrite = labeled.unionByName(isolated).unionByName(unknown)
      .persistTracked()
    val sizes = rewrite.groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("long").as("cluster_size"))
    val bucket = conv(substring(
      md5(concat(lit("soft:"), col("id").cast("string"))), 1, 4), 16, 10)
      .cast("long") % 10000
    // |sizes| ≤ |rewrite| = |members| + |unknown ids| ≤ |members| +
    // |rids| — within 2× of the probed budgets (safety-margin
    // heuristic, not a hard cap), so the verdict derives
    val rewritten = rewrite.join(gatedIf(sizes,
        (membersFits && ridsFits) || fitsBudget(sizes, broadcastBudget)),
        Seq("cluster_id"))
      .withColumn("weight_bp", expr("10000L div cluster_size"))
      .withColumn("keep", bucket < col("weight_bp"))
      .select(col("id"), col("cluster_id"), col("cluster_size"),
        col("weight_bp"), col("keep"))
    val untouched = stored.join(affectedOldJ, Seq("cluster_id"), "left_anti")
      .select(col("id"), col("cluster_id"), col("cluster_size"),
        col("weight_bp"), col("keep"))
    untouched.unionByName(rewritten)
  }

  /** CLUSTER-LABEL retraction (X149) — right-to-be-forgotten for the
    * X133 label store, completing the retraction story across all five
    * stores (the substring postings retract via
    * [[retractSubstringPostings]], the id-keyed stores by anti-join;
    * the label store could NOT, because labels are DERIVED state: a
    * retracted doc that IS a cluster minimum leaves every sibling
    * labeled by a ghost id, and deleting a node can SPLIT a component,
    * so rows cannot simply be dropped). Given the stored labels, the
    * accumulated duplicate-PAIR store they were computed from (the
    * retraction-capable deployment keeps pairs, exactly as X140 keeps
    * postings — deletability's storage price), and the retract id set,
    * this returns labels equal to `connectedComponents(pairs with
    * NEITHER endpoint retracted)` — the X140 law, retract ≡
    * rebuild-without, spec-pinned including ghost-minimum and
    * component-split cases — while recomputing ONLY the affected
    * components.
    *
    * Why that is exact: components are disjoint, and edge removal
    * never merges components — so every component untouched by the
    * retraction keeps its labels verbatim (its minimum is unchanged),
    * and CC need re-run only on the surviving pairs of components that
    * contained a retracted id. Affected components are identified by
    * the retracted ids' LABELS (bounded by the retract batch);
    * members whose every pair is retracted disappear from the table,
    * matching the rebuild exactly (an absent id is unclustered).
    *
    * Contract: `storedLabels` must be [[connectedComponents]] over
    * exactly `storedPairs` (the X133 maintenance invariant); ids
    * absent from the store retract as no-ops.
    *
    * Scale shape: the retract set and the affected-label set are
    * batch-bounded — both ride budget-gated broadcasts into map-side
    * store scans (three label-store passes, one pair-store pass; the
    * stores never shuffle). The affected MEMBER set is bounded by the
    * affected components' sizes, not the batch — its pair-filter join
    * is budget-gated with a shuffle-hash fallback, and the CC rerun is
    * bounded the same way. Nothing corpus-sized shuffles. */
  def retractClusterLabels(storedLabels: DataFrame, storedPairs: DataFrame,
      retractIds: DataFrame, id1: String = "id1", id2: String = "id2",
      broadcastBudget: Long = 1000000L): DataFrame = {
    require(Set("id", "cluster_id").subsetOf(storedLabels.columns.toSet),
      s"retractClusterLabels: storedLabels must have columns id/cluster_id " +
        s"(connectedComponents' schema), got ${storedLabels.columns.mkString(", ")}")
    require(retractIds.columns.contains("id"),
      s"retractClusterLabels: retractIds need an id column, got " +
        retractIds.columns.mkString(", "))
    val stored = storedLabels.select(col("id").cast("long").as("id"),
      col("cluster_id").cast("long").as("cluster_id"))
    val rids = retractIds.select(col("id").cast("long").as("id"))
      .filter(col("id").isNotNull).distinct().persistTracked()
    val ridsFits = fitsBudget(rids, broadcastBudget)
    val ridsJ = if (ridsFits) broadcast(rids) else rids.hint("shuffle_hash")
    // labels of the retracted ids — bounded by the retract batch:
    // |affected| ≤ |rids|, so the probe verdict derives (r21)
    val affected = stored.join(ridsJ, Seq("id"))
      .select(col("cluster_id")).distinct().persistTracked()
    val affectedJ =
      if (ridsFits || fitsBudget(affected, broadcastBudget))
        broadcast(affected)
      else affected.hint("shuffle_hash")
    // untouched components keep their rows verbatim (map-side anti
    // against the broadcast affected set — the store streams once)
    val keep = stored.join(affectedJ, Seq("cluster_id"), "left_anti")
      .select(col("id"), col("cluster_id"))
    // members of affected components (bounded by their sizes): the
    // ids whose pairs must be re-clustered
    val members = stored.join(affectedJ, Seq("cluster_id"))
      .select(col("id")).persistTracked()
    // pairs inside affected components: both endpoints share a
    // component, so filtering on id1-membership is complete; then
    // forget every pair touching a retracted id (its evidence
    // involves the deleted document)
    // persist-before-probe convention (incrementalExactDedup's store
    // projection): the narrow (_a, _b) projection is consumed by BOTH
    // the invariant probe below and the affected-pair filter — without
    // the persist an expensive caller-side pair plan would run twice
    val pairs = storedPairs
      .select(col(id1).cast("long").as("_a"), col(id2).cast("long").as("_b"))
      .persistTracked()
    // maintenance-invariant probe (bounded: at most 6 violations come
    // back, and the collect-limit executes partitions incrementally):
    // the exactness argument above rests ENTIRELY on storedLabels ==
    // connectedComponents(storedPairs), and a drifted store — pairs
    // appended without refreshing labels — would otherwise yield
    // labels silently violating the retract ≡ rebuild-without law. A
    // pair is a witness of drift iff either endpoint is missing from
    // the labels or the endpoints carry different cluster ids. Cost is
    // one pair-store pass + two label-keyed shuffle-hash joins;
    // retraction is an offline admin operation, and fail-loud is the
    // repo convention (the resumeRankTable duplicate-state probe).
    val lblA = stored.select(col("id").as("_a"), col("cluster_id").as("_pla"))
    val lblB = stored.select(col("id").as("_b"), col("cluster_id").as("_plb"))
    val drift = pairs
      .join(lblA.hint("shuffle_hash"), Seq("_a"), "left")
      .join(lblB.hint("shuffle_hash"), Seq("_b"), "left")
      .filter(col("_pla").isNull || col("_plb").isNull ||
        col("_pla") =!= col("_plb"))
      .select(col("_a"), col("_b"))
      .limit(6).collect()
    require(drift.isEmpty,
      "retractClusterLabels: storedLabels is not connectedComponents(" +
        "storedPairs) — drifted pairs (endpoints unlabeled or in " +
        "different clusters): " +
        drift.take(5).map(r => s"(${r.get(0)}, ${r.get(1)})").mkString(", ") +
        " — refresh the label store (incrementalConnectedComponents) " +
        "before retracting")
    // the REVERSE direction of the same invariant: a label row whose
    // id appears in NO stored pair is a stale orphan (its evidence
    // pairs were dropped without refreshing labels) — it would ride
    // the untouched-component keep path verbatim while violating
    // storedLabels == connectedComponents(storedPairs) just as surely
    // as a drifted pair. Same bounded fail-loud probe shape: one pair
    // pass + one label-keyed anti-join, limit 6.
    val endpoints = pairs.select(col("_a").as("id"))
      .unionByName(pairs.select(col("_b").as("id")))
    val orphans = stored.select(col("id"))
      .join(endpoints.hint("shuffle_hash"), Seq("id"), "left_anti")
      .limit(6).collect()
    require(orphans.isEmpty,
      "retractClusterLabels: storedLabels is not connectedComponents(" +
        "storedPairs) — orphan labels whose ids appear in no stored " +
        "pair: " + orphans.take(5).map(_.get(0)).mkString(", ") +
        " — refresh the label store (incrementalConnectedComponents) " +
        "before retracting")
    // rids' verdict was probed once above — its two renamed projections
    // reuse it (this path probed rids twice more before r21)
    def ridsAs(c: String) = {
      val r = rids.select(col("id").as(c))
      if (ridsFits) broadcast(r) else r.hint("shuffle_hash")
    }
    val membersA = members.select(col("id").as("_a"))
    val membersJ =
      if (fitsBudget(membersA, broadcastBudget)) broadcast(membersA)
      else membersA.hint("shuffle_hash")
    val survPairs = pairs.join(membersJ, Seq("_a"))
      .join(ridsAs("_a"), Seq("_a"), "left_anti")
      .join(ridsAs("_b"), Seq("_b"), "left_anti")
    val cc = connectedComponents(survPairs, "_a", "_b")
    keep.unionByName(cc.select(col("id"), col("cluster_id")))
  }

  /** Corpus-level LINE dedup (the C4/RefinedWeb pass): every line that
    * occurs anywhere else in the corpus keeps only its FIRST occurrence
    * (by (doc_id, line index) — globally deterministic), then documents
    * are reassembled from their surviving lines. Documents whose every
    * line was claimed elsewhere drop out.
    *
    * Scale shape: two exchanges — the keep-first window keyed by the
    * 16-byte line hash, then the reassembly groupBy keyed by doc. Line
    * TEXT rides both as payload (reassembly needs it); that is the
    * honest minimum for dedup-with-reassembly — a keep-list variant
    * (hash+ids only through the window, rejoin text after) trades the
    * first text crossing for an extra join shuffle, net even.
    * Reassembly sorts each doc's surviving lines with `array_sort`
    * over collected (idx, line) structs — bounded by lines-per-doc,
    * not corpus. */
  /** Blocked edit-distance (entity-resolution) join: every query row
    * matched to every `dim` row within Levenshtein distance `maxDist`.
    * Never a cross join: `dist(a,b) <= k` implies `|len(a)-len(b)| <=
    * k`, so the dim side fans out to its 2k+1 admissible lengths and
    * the match becomes a LENGTH-band equi-join plus the exact distance
    * residual — candidate pairs are bounded by names-per-length-band,
    * not |q|×|dim|. The dim side (a canonical entity lexicon) is
    * dimension-sized, so it broadcasts even exploded; at corpus-scale
    * dims you would add a q-gram prefix key to the band (same plan,
    * tighter blocks). Emits query columns + dim columns + `dist`. */
  def editDistanceJoin(queries: DataFrame, qCol: String, dim: DataFrame,
      dimCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val dimB = dim.withColumn("_lb",
      explode(sequence(length(col(dimCol)) - maxDist,
        length(col(dimCol)) + maxDist)))
    queries.withColumn("_lb", length(col(qCol)))
      .join(broadcast(dimB), Seq("_lb"))
      .withColumn("dist", levenshtein(col(qCol), col(dimCol)))
      .filter(col("dist") <= maxDist)
      .drop("_lb")
  }

  def lineDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = spread(df)
      .select(col(idCol).as("_doc"),
        posexplode(split(col(textCol), "\n")).as(Seq("_idx", "_line")))
    val w = Window.partitionBy(md5(col("_line")))
      .orderBy(col("_doc").asc, col("_idx").asc)
    lines.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .groupBy(col("_doc"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("_idx"), col("_line")))),
          s => s.getField("_line")), "\n").as("text"))
      .withColumnRenamed("_doc", idCol)
  }

  /** CCNet-style boilerplate removal (X117) — the document-frequency
    * complement of [[lineDedup]]: a line is BOILERPLATE iff it occurs
    * in ≥ `minDocFreq` DISTINCT documents (nav bars, cookie banners,
    * license headers), and boilerplate lines are removed EVERYWHERE —
    * including their first occurrence, which [[lineDedup]] would keep.
    * Surviving lines reassemble in original order; every input
    * document survives, possibly with empty text (NULL text reads as
    * empty — no evidence, nothing to strip).
    *
    * Scale shape: lines shuffle once keyed by md5(line) for the
    * doc-frequency aggregate (partial (hash, doc) distinct then count
    * — map-side combine on both phases), and once for the per-doc
    * reassembly groupBy. The boilerplate set itself is SMALL by
    * construction (only lines crossing the minDocFreq docs threshold),
    * so the removal anti-join is a gated broadcast of line hashes with
    * a shuffle-hash fallback — never a corpus-sized broadcast
    * assumption. No driver-side line material beyond the budget probe. */
  def boilerplateRemoval(df: DataFrame, idCol: String, textCol: String,
      minDocFreq: Long, lineBroadcastBudget: Long = 1000000L): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq must be >= 2, got $minDocFreq")
    // lines feed the doc-frequency agg and the removal anti-join —
    // persist once (registry-released)
    val lines = spread(df)
      .select(col(idCol).as("_doc"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n"))
          .as(Seq("_idx", "_line")))
      .withColumn("_h", md5(col("_line")))
      .persistTracked()
    // persisted BEFORE the budget probe (fitsBudget's contract) so the
    // doc-frequency aggregation runs once for the probe and the join
    val boiler = lines.select(col("_h"), col("_doc")).distinct()
      .groupBy(col("_h")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDocFreq)
      .select("_h")
      .persistTracked()
    val bl =
      if (fitsBudget(boiler, lineBroadcastBudget)) broadcast(boiler)
      else boiler.hint("shuffle_hash")
    val reassembled = lines.join(bl, Seq("_h"), "left_anti")
      .groupBy(col("_doc"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("_idx"), col("_line")))),
          s => s.getField("_line")), "\n").as("text"))
    // all-boilerplate docs still exist downstream (empty text), so the
    // op composes with per-doc stats without silently shrinking the
    // corpus. shuffle-hash pinned: the reassembled side is
    // corpus-sized — AQE would broadcast it from small-SF stats
    val rh = reassembled.hint("shuffle_hash")
    df.select(col(idCol))
      .join(rh, col(idCol) === rh("_doc"), "left")
      .select(col(idCol), coalesce(col("text"), lit("")).as("text"))
  }

  /** QUALITY-CANONICAL cluster resolution (X181) — the selection
    * policy upgrade over [[connectedComponents]]' lowest-id rule: a
    * near-dup cluster keeps its HIGHEST-QUALITY member (max score,
    * ties broken by MIN id so the pick stays a deterministic fact),
    * not whichever member happened to carry the smallest id. This is
    * what a real training-data pipeline wants from dedup: of N copies
    * of an article, keep the cleanest one.
    *
    * Input: `labels` = (id, cluster_id) — [[connectedComponents]]'
    * output; `scores` = (idCol, scoreCol) with one row per labeled id.
    * The score must be an INTEGRAL column (quality rank, n_chars,
    * fixed-point score) — enforced fail-loud below, because the
    * argmax casts to long and a fractional score would silently
    * truncate 1.9 vs 1.2 into a tie. Fixed-point-encode fractional
    * quality upstream (the engine-wide hash-exact convention).
    *
    * Scale shape: one id-keyed equi-join to attach scores (pinned
    * shuffle-hash — both sides can be corpus-sized) + one partial-agg
    * max(struct(score, −id)) per cluster + one cluster-keyed
    * re-join — NO per-cluster window sort, so a pathological
    * million-member cluster costs a partial aggregate, not a
    * single-partition sort. Fail-loud: a labeled id missing from the
    * score table means the score side drifted from the corpus — the
    * raise_error guard rides the `score` output column AND the
    * canonical pick would be silently wrong, so it raises on the
    * join, not downstream.
    *
    * Returns (id, cluster_id, score, is_canonical) — one row per
    * labeled id; downstream keeps `is_canonical` rows plus every
    * unlabeled (never-paired) doc. */
  def canonicalByScore(labels: DataFrame, scores: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    require(Set("id", "cluster_id").subsetOf(labels.columns.toSet),
      s"canonicalByScore: labels must be connectedComponents output " +
        s"(id, cluster_id), got ${labels.columns.mkString(", ")}")
    require(scores.columns.contains(idCol) && scores.columns.contains(scoreCol),
      s"canonicalByScore: scores must carry ($idCol, $scoreCol), got " +
        scores.columns.mkString(", "))
    // Integral-score gate (the requireSketchable pattern): the argmax
    // casts to long, so a DoubleType score would truncate — 1.9 vs 1.2
    // becomes a tie and the min-id tiebreak picks the WRONG member.
    require({
      import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
      scores.schema(scoreCol).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }, s"canonicalByScore: $scoreCol must be an integral column " +
      s"(fixed-point-encode fractional quality upstream), got " +
      scores.schema(scoreCol).dataType.simpleString)
    val sc = scores.select(col(idCol).cast("long").as("_sid"),
      col(scoreCol).cast("long").as("_score"))
    val joined = labels.select(col("id").cast("long").as("id"),
        col("cluster_id").cast("long").as("cluster_id"))
      .join(sc.hint("shuffle_hash"), col("id") === col("_sid"), "left")
    val guardedScore = when(col("_sid").isNull,
      raise_error(concat(
        lit("canonicalByScore: labeled id "), col("id").cast("string"),
        lit(" has no score row — the score table drifted from the corpus"))))
      .otherwise(col("_score"))
    val withScore = joined
      .select(col("id"), col("cluster_id"), guardedScore.as("score"))
    // argmax by (score desc, id asc) as ONE partial-agg shuffle:
    // max(struct(score, -id)) — no per-cluster sort anywhere
    val best = withScore.groupBy(col("cluster_id"))
      .agg(max(struct(col("score"), (-col("id")).as("_negid"))).as("_best"))
      .select(col("cluster_id"),
        (-col("_best._negid")).as("_canonical_id"))
    withScore.join(best.hint("shuffle_hash"), Seq("cluster_id"))
      .select(col("id"), col("cluster_id"), col("score"),
        (col("id") === col("_canonical_id")).as("is_canonical"))
  }

  /** INCREMENTAL canonical maintenance (X195) — the serving-store
    * form of [[canonicalByScore]]: the canonical-pick table
    * (cluster_id, canonical_id, score) is what retrieval reads, and a
    * batch of new near-dup pairs can change picks three ways — a
    * cluster MERGE must re-elect one winner, a fresh higher-quality
    * arrival must take its cluster over, and everything else must
    * survive verbatim. This folds a batch into the stored labels via
    * [[incrementalConnectedComponents]] (zero corpus-sized shuffles)
    * and re-runs the argmax ONLY over clusters containing a batch
    * endpoint; stored picks of untouched clusters pass through
    * unread. Result provably equals the full
    * [[canonicalByScore]](updated labels, scores) pick table
    * (spec-pinned: merge re-election, fresh-winner takeover,
    * untouched-verbatim, and equality on a random two-increment
    * chain).
    *
    * Correctness of the touched set: a cluster's membership changes
    * only if some new pair endpoint lies in it (merges happen along
    * new edges; fresh ids form new clusters), so clusters whose OLD
    * label no endpoint carries keep their pick; and distinct
    * components have disjoint members, so a recomputed (new-label)
    * row can never collide with a kept one.
    *
    * Scale shape: the touched NEW-cluster id set is batch-bounded and
    * broadcasts into the label-table scan (budget-gated, shuffle-hash
    * fallback); the argmax recompute is [[canonicalByScore]]'s
    * partial-agg over touched members only; the scores side joins
    * id-keyed (16-byte rows). Returns the complete updated pick
    * table — what the caller persists for the next increment,
    * alongside the labels. */
  def incrementalCanonical(storedLabels: DataFrame, storedPicks: DataFrame,
      newPairs: DataFrame, scores: DataFrame, idCol: String,
      scoreCol: String, mapBroadcastBudget: Long = 1000000L): DataFrame =
    incrementalCanonicalWithLabels(storedLabels, storedPicks, newPairs,
      scores, idCol, scoreCol, mapBroadcastBudget)._2

  /** [[incrementalCanonical]] returning `(updated labels, updated
    * picks)`: the labels are [[incrementalConnectedComponents]] of the
    * same batch, built once and shared with the pick recompute, so a
    * caller that persists both stores pays for one contraction and one
    * probe of the batch's endpoint set. */
  def incrementalCanonicalWithLabels(storedLabels: DataFrame,
      storedPicks: DataFrame, newPairs: DataFrame, scores: DataFrame,
      idCol: String, scoreCol: String,
      mapBroadcastBudget: Long = 1000000L): (DataFrame, DataFrame) = {
    require(Set("cluster_id", "canonical_id", "score")
      .subsetOf(storedPicks.columns.toSet),
      s"incrementalCanonical: storedPicks must carry (cluster_id, " +
        s"canonical_id, score), got ${storedPicks.columns.mkString(", ")}")
    val ends = newPairs
      .select(explode(array(col("id1").cast("long"),
        col("id2").cast("long"))).as("id"))
      .filter(col("id").isNotNull).distinct()
      .persistTracked() // old-touched + new-touched lookups
    val endsFits = fitsBudget(ends, mapBroadcastBudget)
    // the contraction's endpoint set (endpoints of the valid, non-loop
    // pairs) is a subset of `ends`, so this verdict is also its own
    val labels2 = graft.core.Caches.persistTracked(
      contractLabels(storedLabels, newPairs, "id1", "id2",
        mapBroadcastBudget, endsKnownToFit = endsFits))
    val endsJoin = if (endsFits) broadcast(ends) else ends.hint("shuffle_hash")
    // clusters whose membership could have changed: old labels of the
    // endpoints (their picks retire) and new labels of the endpoints
    // (their picks recompute)
    val oldTouched = storedLabels
      .select(col("id").cast("long").as("id"),
        col("cluster_id").cast("long").as("cluster_id"))
      .join(endsJoin, Seq("id")).select(col("cluster_id")).distinct()
    val newTouched = labels2.join(endsJoin, Seq("id"))
      .select(col("cluster_id")).distinct()
    // |newTouched| ≤ |ends| (one new label per endpoint) — the probe
    // verdict derives from the ends probe already paid (r21)
    val touchJoin =
      if (endsFits || fitsBudget(newTouched, mapBroadcastBudget))
        broadcast(newTouched)
      else newTouched.hint("shuffle_hash")
    val touchedMembers = labels2.join(touchJoin, Seq("cluster_id"),
      "left_semi")
    val recomputed = canonicalByScore(touchedMembers, scores, idCol, scoreCol)
      .filter(col("is_canonical"))
      .select(col("cluster_id"), col("id").as("canonical_id"), col("score"))
    val kept = storedPicks
      .select(col("cluster_id").cast("long").as("cluster_id"),
        col("canonical_id").cast("long").as("canonical_id"),
        col("score").cast("long").as("score"))
      .join(oldTouched.hint("shuffle_hash"), Seq("cluster_id"), "left_anti")
    (labels2, kept.unionByName(recomputed))
  }

  /** Canonical-pick RETRACTION (X196) — the forget half of the X195
    * serving store, the one retraction the row-deletion rule cannot
    * handle twice over: a retracted doc that IS a cluster's canonical
    * forces a RE-ELECTION among the survivors, and a retracted bridge
    * doc can SPLIT a component into several clusters that each need
    * their own pick. Labels update via [[retractClusterLabels]]
    * (X149 — affected-component reruns over the kept pair store);
    * picks then recompute ONLY for the new clusters of the affected
    * components' surviving members, stored picks of untouched
    * clusters pass through unread, and a cluster that retracts away
    * entirely simply loses its row. Result provably equals the full
    * [[canonicalByScore]] over the post-retraction labels
    * (spec-pinned: canonical re-election, component split into
    * per-fragment picks, full-cluster disappearance, untouched
    * verbatim).
    *
    * Scale shape: the retract-id and affected-cluster sets are
    * retraction-bounded and broadcast (budget-gated, shuffle-hash
    * fallback); the argmax recompute is [[canonicalByScore]]'s
    * partial-agg over affected members only. Returns the complete
    * updated pick table. */
  def retractCanonical(storedLabels: DataFrame, storedPicks: DataFrame,
      storedPairs: DataFrame, scores: DataFrame, retractIds: DataFrame,
      idCol: String, scoreCol: String,
      broadcastBudget: Long = 1000000L): DataFrame = {
    require(Set("cluster_id", "canonical_id", "score")
      .subsetOf(storedPicks.columns.toSet),
      s"retractCanonical: storedPicks must carry (cluster_id, " +
        s"canonical_id, score), got ${storedPicks.columns.mkString(", ")}")
    val labels2 = graft.core.Caches.persistTracked(
      retractClusterLabels(storedLabels, storedPairs, retractIds,
        broadcastBudget = broadcastBudget))
    val stored = storedLabels.select(col("id").cast("long").as("id"),
      col("cluster_id").cast("long").as("cluster_id"))
    val rids = retractIds.select(col("id").cast("long").as("id"))
      .filter(col("id").isNotNull).distinct()
    // probe once; bounded derivations reuse the verdict (r21):
    // |oldAffected| ≤ |rids|, |newTouched| ≤ |survivors|
    val ridsFits = fitsBudget(rids, broadcastBudget)
    val ridsJoin = if (ridsFits) broadcast(rids) else rids.hint("shuffle_hash")
    // clusters containing a retracted id: their picks retire; their
    // surviving members' NEW clusters recompute
    val oldAffected = stored.join(ridsJoin, Seq("id"))
      .select(col("cluster_id")).distinct()
    val oldAffJoin =
      if (ridsFits || fitsBudget(oldAffected, broadcastBudget))
        broadcast(oldAffected)
      else oldAffected.hint("shuffle_hash")
    val survivors = stored.join(oldAffJoin, Seq("cluster_id"), "left_semi")
      .select(col("id"))
      .join(ridsJoin, Seq("id"), "left_anti")
    val survivorsFits = fitsBudget(survivors, broadcastBudget)
    val newTouched = labels2.join(
        if (survivorsFits) broadcast(survivors)
        else survivors.hint("shuffle_hash"),
        Seq("id"), "left_semi")
      .select(col("cluster_id")).distinct()
    val touchJoin =
      if (survivorsFits || fitsBudget(newTouched, broadcastBudget))
        broadcast(newTouched)
      else newTouched.hint("shuffle_hash")
    val recomputed = canonicalByScore(
      labels2.join(touchJoin, Seq("cluster_id"), "left_semi"),
      scores, idCol, scoreCol)
      .filter(col("is_canonical"))
      .select(col("cluster_id"), col("id").as("canonical_id"), col("score"))
    storedPicks
      .select(col("cluster_id").cast("long").as("cluster_id"),
        col("canonical_id").cast("long").as("canonical_id"),
        col("score").cast("long").as("score"))
      .join(oldAffJoin, Seq("cluster_id"), "left_anti")
      .unionByName(recomputed)
  }
}
