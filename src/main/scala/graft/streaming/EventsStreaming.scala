package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming over the `events` table (SURVEY §2.9 —
  * designed-for capability; the reference is batch-only).
  *
  * Shapes provided:
  *  - event-time tumbling-window aggregation with a watermark (the
  *    canonical readStream → window().agg → writeStream pipeline);
  *  - stateful sessionization via flatMapGroupsWithState (custom
  *    per-key state, event-time timeout);
  *  - batch-equivalent forms of both, used by the correctness oracle
  *    (same logical result as running the stream to completion with
  *    Trigger.AvailableNow).
  *
  * At scale: state is keyed by (window/user), so the state store
  * shards with the shuffle partitioning; the watermark bounds state
  * size; no per-batch collects.
  */
object EventsStreaming {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming source over a parquet directory. */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** The driver's events.parquet `ts` physical type has varied across
    * generations (TIMESTAMP(NANOS), non-UTC-adjusted TIMESTAMP(MICROS)
    * = TIMESTAMP_NTZ, plain timestamp). A streaming source needs its
    * schema DECLARED, so probe the footer with one batch read (schema
    * only — no data scan) and stream with the matching declared type,
    * normalizing to TimestampType like Tables.events. */
  val eventSchemaNanos: StructType = StructType(eventSchema.map {
    case f if f.name == "ts" => StructField("ts", LongType)
    case f => f
  })

  val eventSchemaNtz: StructType = StructType(eventSchema.map {
    case f if f.name == "ts" => StructField("ts", TimestampNTZType)
    case f => f
  })

  def readDriverEventsStream(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // empty / not-yet-populated directory (stream-first pattern): no
    // footer to probe — default to the current driver generation (NTZ
    // micros) rather than failing before the stream even starts. The
    // catch is NARROW (exactly the no-footer-to-probe conditions): a
    // transient probe failure over a real NANOS directory must fail
    // HERE, at stream setup, not later as a per-batch parquet type
    // error under a silently-wrong declared schema.
    val probed =
      try spark.read.parquet(path).schema("ts").dataType
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Seq("UNABLE_TO_INFER_SCHEMA", "PATH_NOT_FOUND")
              .exists(c => Option(e.getCondition).exists(_.startsWith(c))) =>
          TimestampNTZType
      }
    probed match {
      case LongType =>
        spark.readStream.schema(eventSchemaNanos).parquet(path)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        spark.readStream.schema(eventSchemaNtz).parquet(path)
          .withColumn("ts", col("ts").cast(TimestampType))
      case _ =>
        spark.readStream.schema(eventSchema).parquet(path)
    }
  }

  /** Tumbling 5-minute window counts/sums per event_type with a
    * 10-minute watermark. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(20,2)")).cast("double").as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total"))

  /** Batch-equivalent of windowedAgg (what the finished stream
    * equals); used for the DuckDB-oracle check. */
  def windowedAggBatch(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(20,2)")).cast("double").as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total"))

  /** Run the streaming aggregation to completion over static input
    * (Trigger.AvailableNow) and return the result table. */
  def runWindowedAggToCompletion(spark: SparkSession, eventsDir: String,
      checkpoint: String): DataFrame = {
    val q = windowedAgg(readEventsStream(spark, eventsDir))
      .writeStream
      .format("memory")
      .queryName("events_windowed")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table("events_windowed")
  }

  /** Stream-static enrichment join + windowed agg: the always-on
    * pipeline shape where each event is enriched against a slowly-
    * changing dimension before aggregation. The static side
    * broadcasts (no stream-side shuffle for the join, no state) —
    * at scale the dim re-broadcasts per micro-batch, which is exactly
    * the semantics wanted for a refreshable lookup table. Tumbling
    * 10-minute windows per enriched category; decimal sum keeps the
    * total exact in any accumulation order. */
  def enrichedWindowedAgg(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .join(broadcast(dim), Seq("event_type"))
      .groupBy(window(col("ts"), "10 minutes"), col("category"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(20,2)")).cast("double").as("total"))
      .select(col("window.start").as("win_start"), col("category"),
        col("n"), col("total"))

  /** Streaming exact-dedup: content-fingerprinted documents deduped
    * incrementally — the shape an always-on ingest pipeline uses.
    * `dropDuplicatesWithinWatermark` specifically: plain
    * `dropDuplicates(fp)` never evicts state unless the EVENT-TIME
    * column is part of the key set, so its fingerprint state grows
    * with the corpus forever — the within-watermark variant is the
    * API whose state actually IS bounded by the watermark (one
    * fingerprint per document seen in the last hour, the guarantee an
    * always-on 100 TB/day ingest needs). Duplicates separated by more
    * than the watermark delay re-emit; cross-window history is the
    * STORE's job ([[streamingIncrementalDedup]]). */
  def streamingDedup(docs: DataFrame, tsCol: String, fpCol: String): DataFrame =
    docs.withWatermark(tsCol, "1 hour")
      .dropDuplicatesWithinWatermark(Seq(fpCol))

  /** Streaming incremental exact dedup (X122) — the always-on form of
    * [[graft.operators.Dedup.incrementalExactDedup]], and the same
    * Bloom-prefiltered shape: a driver-merged Bloom filter over the
    * store's fingerprints (bits ≪ keys, built ONCE at stream setup)
    * splits each micro-batch map-side into a definitely-fresh slice
    * and a Bloom-maybe slice; only the maybe slice (true dupes + the
    * fpp fraction of fresh rows) pays the stream-static LEFT ANTI
    * join against the store, pinned shuffle-hash — the store is
    * corpus-sized by this op's own contract, so it must NEVER ride a
    * per-micro-batch BroadcastExchange (a ~10⁹-row store re-broadcast
    * every batch is a driver/executor OOM; the batch sibling X112
    * proves the Bloom shape). Bloom's no-false-negatives guarantee
    * keeps the split exact: every stored fingerprint is maybe-routed,
    * so the result equals the plain anti-join. WITHIN-stream repeats
    * then resolve via `dropDuplicatesWithinWatermark` (NOT plain
    * `dropDuplicates`, whose state never evicts without the event-time
    * column in the key set) — state holds one fingerprint per
    * fresh-and-recent doc, genuinely watermark-bounded; store
    * fingerprints never enter streaming state.
    *
    * Snapshot contract: the anti-join's static side re-plans every
    * micro-batch (a store the ingest job appends to is picked up on
    * refresh), but the Bloom is a STREAM-START snapshot — a
    * fingerprint first ingested by THIS stream routes fresh on
    * recurrence, so its dedup window is the watermark until the
    * stream (or its Bloom) restarts. The broadcast form had the same
    * hand-off bounded by one micro-batch instead of one stream
    * lifetime; an always-on deployment restarts on its store-compact
    * cadence, which refreshes the Bloom. Sizing follows X112:
    * `expectedStoreKeys = 0` derives the key count from the store
    * itself (one bounded count at setup — a 10⁹-row store gets a
    * 10⁹-key Bloom instead of a silently saturated guess); pass a
    * positive value to skip the count job. */
  def streamingIncrementalDedup(docs: DataFrame, priorFps: DataFrame,
      tsCol: String, fpCol: String,
      expectedStoreKeys: Long = 0L, fpp: Double = 0.01): DataFrame = {
    require(expectedStoreKeys >= 0L,
      s"expectedStoreKeys must be >= 0 (0 = derive from the store), got $expectedStoreKeys")
    val storeFps = priorFps.select(col(fpCol))
    val wm = docs.withWatermark(tsCol, "1 hour")
    // empty store: everything is fresh — and stat.bloomFilter NPEs on
    // an empty frame (null aggregation buffer), so this guard is a
    // correctness path, not just a fast one (first-increment /
    // stream-first deployments start here)
    if (storeFps.isEmpty)
      return wm.dropDuplicatesWithinWatermark(Seq(fpCol))
    val keys =
      if (expectedStoreKeys > 0L) expectedStoreKeys
      else math.max(storeFps.count(), 1L)
    val bloom = storeFps.stat.bloomFilter(fpCol, keys, fpp)
    val (maybe, fresh) = graft.operators.ScaleOps.bloomSplit(wm, bloom, fpCol)
    val confirmedNew = maybe.join(
      storeFps.select(col(fpCol).as("_pfp")).hint("shuffle_hash"),
      col(fpCol) === col("_pfp"), "left_anti")
    confirmedNew.unionByName(fresh)
      .dropDuplicatesWithinWatermark(Seq(fpCol))
  }

  /** Streaming incremental NEAR-dup (X134) — the [[streamingIncrementalDedup]]
    * arrangement for the MinHash family, closing the streaming side of
    * the ingestion quartet's near-dup member. Append-mode streaming
    * SQL cannot express X113's candidate-verify joins plus per-doc
    * aggregation (unbounded-state aggregations after a stream-static
    * join), so the always-on form is the MICRO-BATCH COMPOSITION:
    * `foreachBatch` runs the batch increment
    * ([[graft.operators.Dedup.incrementalNearDup]]) VERBATIM against
    * the store, appends the survivors' store records before the batch
    * completes, and frees the increment's tracked caches via the
    * scoped release — so the next micro-batch's store read already
    * contains this batch's survivors. That hand-off is EXACT per
    * micro-batch: a near-dup of any earlier survivor drops however far
    * apart the two arrive — no watermark-window approximation, which
    * is what moving the aggregation off the streaming state store
    * buys. The store stays index-only (id, shingles, sig — X113's
    * contract) and each batch's plan inherits every X113 pin
    * (shuffle-hash store joins, banding-parameter fail-fast,
    * budget-gated candidate broadcasts).
    *
    * `sink` receives each batch's survivors (original columns +
    * shingles/sig) and the batch id; the caller starts the returned
    * writer with its own trigger/checkpoint. A pre-bootstrapped store
    * must live under its own `batch=<negative id>` partition (e.g.
    * `batch=-1`) — micro-batches write `batch=<batchId>` partitions,
    * and parquet partition discovery rejects a layout mixing flat
    * files with partition directories. */
  def streamingIncrementalNearDup(docs: DataFrame, storePath: String,
      textCol: String, idCol: String, threshold: Double,
      shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 3)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        graft.core.Caches.releaseScoped[Unit] {
          // RETRY-IDEMPOTENT store layout: foreachBatch is
          // at-least-once, and a plain append would poison a retried
          // micro-batch — the re-run's store read would contain the
          // failed attempt's own survivors, every doc would self-match
          // at Jaccard 1.0, and the sink would silently receive zero
          // rows. Instead each batch OVERWRITES its own
          // `batch=<batchId>` partition (the re-run replaces it) and
          // the read EXCLUDES the current batch's partition, so a
          // retry sees exactly the store state the first attempt saw.
          val store = storeForBatch(readNearDupStore(spark, storePath), batchId)
          // EAGER localCheckpoint, not persist: the store write below
          // rewrites storePath, and Spark's recacheByPath would
          // RECOMPUTE a merely-persisted survivors plan against the
          // just-written store — every survivor then matches itself
          // and the sink sees zero rows. Lineage truncation pins the
          // computed rows; blocks are reclaimed by the ContextCleaner
          // once the batch's references drop (Caches class-3 policy).
          val survivors = Dedup.incrementalNearDup(batch.toDF(), store,
            textCol, idCol, threshold, shingleN, bands, rowsPerBand)
            .localCheckpoint()
          survivors
            .select(col(idCol).cast("long").as("id"),
              col("shingles"), col("sig"))
            .write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
          sink(survivors.drop("band_keys"), batchId)
        }
        ()
    }

  /** Streaming incremental EXACT dedup, micro-batch-composed (X145) —
    * the foreachBatch sibling of [[streamingIncrementalDedup]], with
    * the EXACT store hand-off the DSL form's stream-start Bloom cannot
    * give: each micro-batch runs the batch increment
    * ([[graft.operators.Dedup.incrementalExactDedup]]) verbatim — its
    * Bloom is rebuilt FROM the store every batch and auto-sized by the
    * store's own count, so a fingerprint first ingested by THIS stream
    * is caught on any later recurrence, however far apart the two
    * arrive (the DSL form's re-emit window is its stream lifetime;
    * here it is zero). The trade is one extra store scan per
    * micro-batch (Bloom build + anti-join right side); pick this form
    * when exactness across arbitrary gaps matters more than per-batch
    * latency, and the DSL form when the watermark window is an
    * acceptable dedup horizon. Store layout, retry idempotence
    * (batch=<id> partitions, self-excluded reads, per-batch
    * overwrite) and scoped cache release follow
    * [[streamingIncrementalNearDup]] exactly; a pre-bootstrapped
    * store lives under `batch=<negative id>`. */
  def streamingIncrementalExactDedup(docs: DataFrame, storePath: String,
      textCol: String, idCol: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        graft.core.Caches.releaseScoped[Unit] {
          val store = storeForBatch(readExactStore(spark, storePath), batchId)
          // localCheckpoint before the store write: same recacheByPath
          // hazard as the near-dup form — the survivors plan reads the
          // path the write rewrites
          val survivors = Dedup.incrementalExactDedup(batch.toDF(), store,
            textCol, idCol).localCheckpoint()
          survivors.select(col("fp"))
            .write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
          sink(survivors, batchId)
        }
        ()
    }

  /** Streaming TTL dedup, micro-batch-composed (X203) — the always-on
    * form of the freshness-aware dedup, the one dedup variant that
    * previously had no streaming ladder: each micro-batch runs
    * [[graft.operators.Dedup.incrementalTtlDedup]] against the folded
    * (fp, last_ts) store — the fp's first in-batch row sessions
    * against the STORED last observation, so a within-window repeat
    * drops across any batch gap and a post-expiry re-arrival is
    * READMITTED as fresh — and appends
    * [[graft.operators.Dedup.ttlStoreRecords]] (the batch's per-fp
    * max observation time: observations, not survivors, advance the
    * chain). APPEND layout: the read folds max(last_ts) per fp across
    * partitions, exact because the chain is monotone — which is also
    * why out-of-order arrival fails loud inside the increment rather
    * than silently mis-sessioning. Store contracts verbatim
    * (batch=<id> partitions, self-excluded reads, per-batch
    * overwrite retry idempotence, one-checkpoint-per-store lineage
    * guard, negative-id bootstrap, pre-write localCheckpoint, scoped
    * cache release). */
  def streamingTtlDedup(docs: DataFrame, storePath: String,
      textCol: String, idCol: String, tsCol: String, ttlSeconds: Long)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        graft.core.Caches.releaseScoped[Unit] {
          val folded = storeForBatch(readTtlStore(spark, storePath), batchId)
            .groupBy(col("fp")).agg(max(col("last_ts")).as("last_ts"))
          // the batch feeds two plans (survivors + store records):
          // checkpoint once so the source is read once and the records
          // plan cannot observe the path its own write extends
          val b = batch.toDF().localCheckpoint()
          val survivors = Dedup.incrementalTtlDedup(b, folded,
            textCol, idCol, tsCol, ttlSeconds).localCheckpoint()
          Dedup.ttlStoreRecords(b, textCol, tsCol)
            .write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
          sink(survivors, batchId)
        }
        ()
    }

  /** The TTL-dedup observation store (fp, last_ts — micros),
    * empty-with-schema when the path does not exist yet; APPEND
    * layout (fold max per fp on read), same narrow catch as
    * [[readNearDupStore]]. */
  def readTtlStore(spark: SparkSession, path: String): DataFrame =
    readStoreOrEmpty(spark, path,
      StructType(Seq(
        StructField("fp", StringType),
        StructField("last_ts", LongType))))

  /** Streaming incremental SEMANTIC dedup, micro-batch-composed
    * (X146) — the third member of the streaming increment family
    * (exact X145, near-dup X134): each micro-batch of embedded docs
    * runs [[graft.operators.Similarity.incrementalSemanticDedup]]
    * verbatim against the store under the caller's FROZEN quantizer
    * (the X116 contract — centroids ride the closure as plan
    * literals, so every batch's map-side assignment is bit-identical
    * to the one that built the store), and appends its survivors'
    * (id, embedding, cell) records before the batch completes. The
    * hand-off is exact per micro-batch; retry idempotence
    * (batch=<id> partitions, self-excluded reads, per-batch
    * overwrite) and scoped cache release follow X134. */
  def streamingIncrementalSemanticDedup(docs: DataFrame, storePath: String,
      cents: Array[(Int, Array[Long])], threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding")(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        graft.core.Caches.releaseScoped[Unit] {
          val store = storeForBatch(readSemanticStore(spark, storePath), batchId)
          // localCheckpoint before the store write (recacheByPath —
          // the survivors plan reads the path the write rewrites)
          val survivors = graft.operators.Similarity
            .incrementalSemanticDedup(batch.toDF(), store, cents, threshold,
              idCol, vecCol)
            .localCheckpoint()
          survivors
            .write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
          sink(survivors, batchId)
        }
        ()
    }

  /** Streaming IVF-PQ serving-store maintenance (X200) — the
    * always-on form of
    * [[graft.operators.Similarity.incrementalIvfPqCodes]], following
    * the X146 template: each micro-batch of embedded vectors encodes
    * MAP-SIDE under the caller's FROZEN (centroids, codebooks) — the
    * index rides the closure as plan literals, so every batch's codes
    * are bit-identical to a full rebuild's — and appends its (id,
    * cell, codes) rows under `batch=<id>` before the batch completes.
    * The duplicate-id fail-loud guard runs against the store snapshot
    * each batch (a serving store is id-keyed; see the batch
    * operator). Store layout, retry idempotence (batch=<id>
    * partitions, self-excluded reads, per-batch overwrite), the
    * one-checkpoint-per-store lineage guard, negative-id bootstrap,
    * the pre-write localCheckpoint (recacheByPath) and scoped cache
    * release all follow [[streamingIncrementalNearDup]]. */
  def streamingIncrementalIvfPqCodes(vecs: DataFrame, storePath: String,
      coarseCents: Array[(Int, Array[Long])],
      codebooks: Array[Array[(Int, Array[Long])]],
      idCol: String = "vec_id", vecCol: String = "embedding",
      scale: Double = 1e6)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        graft.core.Caches.releaseScoped[Unit] {
          val store = storeForBatch(readCodesStore(spark, storePath), batchId)
          val newRows = graft.operators.Similarity
            .guardedIvfPqEncode(store, batch.toDF(), idCol, vecCol,
              coarseCents, codebooks, scale)
            .localCheckpoint()
          newRows.write.mode("overwrite")
            .parquet(s"$storePath/batch=$batchId")
          sink(newRows, batchId)
        }
        ()
    }

  /** The IVF-PQ codes store (vec_id, cell, codes), empty-with-schema
    * when the path does not exist yet; same narrow catch and
    * partition-layout contract as [[readNearDupStore]]. */
  def readCodesStore(spark: SparkSession, path: String): DataFrame =
    readStoreOrEmpty(spark, path,
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("cell", LongType),
        StructField("codes", ArrayType(LongType)))))

  /** Streaming incremental VIDEO near-dup (X207) — the always-on form
    * of [[graft.operators.Multimodal.incrementalVideoNearDup]],
    * completing the video family's ladder (batch X205 → increment
    * X206 → this): each micro-batch of frame-signature rows (decode +
    * hash run UPSTREAM in the streaming DAG — payloads never reach
    * the store) dedups against the store's kept (id, fhash) rows by
    * frame-set Jaccard and appends its survivors' signature rows
    * under `batch=<id>`. Store contracts verbatim (append layout,
    * self-excluded reads + per-batch overwrite retry idempotence,
    * one-checkpoint-per-store lineage guard, negative-id bootstrap,
    * pre-write localCheckpoint, scoped cache release). */
  /** SERVING CONTRACT (r20 decade, PLANS.md "streaming video cap"):
    * pass a FINITE `maxFrameDf` in any always-on composition — the
    * per-micro-batch increment inherits
    * [[graft.operators.Multimodal.incrementalVideoNearDup]]'s
    * inverted-index pair term, and uncapped on a densifying corpus
    * that term grows with dup-class² (measured: the uncapped
    * streaming gate hit α 1.54 across the sf0.1→sf1 decade, 5.4 s →
    * 187 s, while the capped form stays flat). The uncapped default
    * exists for mining/parity runs only. */
  def streamingIncrementalVideoNearDup(sigs: DataFrame, storePath: String,
      threshold: Double, idCol: String = "media_id",
      sigCol: String = "fhash", maxFrameDf: Long = Long.MaxValue)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    sigs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        graft.core.Caches.releaseScoped[Unit] {
          val store = storeForBatch(
            readVideoSigStore(spark, storePath), batchId)
          val survivors = graft.operators.Multimodal
            .incrementalVideoNearDup(batch.toDF(), store, threshold,
              idCol, sigCol, maxFrameDf)
            .localCheckpoint()
          survivors.select(col(idCol).as("media_id"),
              col(sigCol).as("fhash"))
            .write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
          sink(survivors, batchId)
        }
        ()
    }

  /** The video frame-signature store (media_id, fhash),
    * empty-with-schema when the path does not exist yet; APPEND
    * layout, same narrow catch as [[readNearDupStore]]. */
  def readVideoSigStore(spark: SparkSession, path: String): DataFrame =
    readStoreOrEmpty(spark, path,
      StructType(Seq(
        StructField("media_id", LongType),
        StructField("fhash", LongType))))

  /** Streaming incremental SUBSTRING dedup, micro-batch-composed
    * (X147) — the fourth dedup family's always-on form, completing the
    * streaming quartet (exact X145, near-dup X134, semantic X146):
    * each micro-batch runs [[graft.operators.Dedup.incrementalSubstringDedup]]
    * VERBATIM against the store's distinct window-hash index and
    * appends `substringStoreRecords(batch)` — the BATCH's original
    * windows, not the post-removal survivors' (X132's store contract:
    * a span removed as a later occurrence stays covered via its first
    * occurrence's record) — before the batch completes. The hand-off
    * is exact per micro-batch: a window recurrence drops through the
    * store however many batches apart the two occurrences arrive.
    * Retry idempotence (batch=<id> partitions, self-excluded reads,
    * per-batch overwrite), the new-checkpoint fail-loud guard, the
    * pre-write localCheckpoint (the survivors AND record plans both
    * read the path the write rewrites), and scoped cache release all
    * follow [[streamingIncrementalNearDup]]; a pre-bootstrapped store
    * lives under `batch=<negative id>`. */
  def streamingIncrementalSubstringDedup(docs: DataFrame, storePath: String,
      textCol: String, idCol: String, L: Int,
      posBase: Long = 100000L)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        graft.core.Caches.releaseScoped[Unit] {
          val store = storeForBatch(readSubstringStore(spark, storePath), batchId)
          // localCheckpoint BOTH frames before the store write: the
          // survivors plan reads storePath (recacheByPath would
          // recompute it against the just-appended store and cover
          // every batch window against itself); the records plan
          // doesn't read the store, but eager-checkpointing it too
          // keeps the tokenize work from running twice
          val survivors = Dedup.incrementalSubstringDedup(batch.toDF(), store,
            idCol, textCol, L, posBase).localCheckpoint()
          val records = Dedup.substringStoreRecords(batch.toDF(), idCol,
            textCol, L, posBase).localCheckpoint()
          records.write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
          sink(survivors, batchId)
        }
        ()
    }

  /** ALWAYS-ON COMPOSED INGESTION, quartet form (X156) — the
    * foreachBatch composition of the FULL X139 pipeline, turning the
    * four singleton streaming increments (exact X145, near-dup X134,
    * substring X147, semantic X146) into one stream: each micro-batch
    * runs exact → (near-dup ∥ substring, both over the stage-1
    * survivors) → semantic over the docs both passes keep, each stage
    * consuming its own store under `basePath/{exact,neardup,substring,
    * semantic}` and appending its records before the batch completes —
    * so a doc that is a near-dup of a BATCH-1 survivor and a
    * substring-dup of BATCH-2 windows still drops in batch 3 (the
    * cross-batch hand-off is exact per stage, no watermark windows).
    *
    * Store-append contract per stage, inherited from the singletons:
    * exact gets the stage-1 survivors' fingerprints; near-dup gets the
    * stage-2 SURVIVORS' index records (id, shingles, sig); substring
    * gets the STAGE INPUT's original windows (X132's covered-forever
    * rule — s1's windows, so a span that later recurs stays covered
    * via its first occurrence); semantic gets the final survivors'
    * (id, embedding, cell) under the caller's FROZEN quantizer (X116).
    * Embeddings ride a stream-static left-semi join on the shared id
    * space (the X139 arrangement), so the streamed frame carries text
    * only. Retry idempotence (batch=<id> partitions, self-excluded
    * reads, per-batch overwrite), the lineage guard, pre-write
    * localCheckpoints (every stage plan reads a path some write below
    * rewrites), and scoped cache release all follow the singletons;
    * pre-bootstrapped stores live under `batch=<negative id>`;
    * [[compactStore]] (append layout) compacts all four.
    *
    * `sink` receives each batch's final survivors (id, cell, n_kept)
    * — the X139 output shape. */
  def streamingIngestQuartet(docs: DataFrame, basePath: String,
      emb: DataFrame, cents: Array[(Int, Array[Long])],
      textCol: String, idCol: String, threshold: Double,
      shingleN: Int, bands: Int, rowsPerBand: Int,
      L: Int, semThreshold: Double, posBase: Long = 100000L,
      embIdCol: String = "vec_id", embVecCol: String = "embedding")(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        graft.core.Caches.releaseScoped[Unit] {
          val exactStore = storeForBatch(
            readExactStore(spark, s"$basePath/exact"), batchId)
          val ndStore = storeForBatch(
            readNearDupStore(spark, s"$basePath/neardup"), batchId)
          val subStore = storeForBatch(
            readSubstringStore(spark, s"$basePath/substring"), batchId)
          val semStore = storeForBatch(
            readSemanticStore(spark, s"$basePath/semantic"), batchId)
          // stage 1: exact — survivors checkpointed before ANY write
          // below (three downstream plans read s1). r22 note: the
          // per-batch tokenBase/FromToks rewrite was MEASURED and
          // reverted — the extra eager checkpoint action per micro-batch
          // outweighed the saved re-splits of a bounded batch.
          val s1 = Dedup.incrementalExactDedup(batch.toDF(), exactStore,
            textCol, idCol).localCheckpoint()
          // stage 2 ∥ 3 over the stage-1 survivors (the X139 shape).
          // r22 (guide §2.6): the three s1 consumers are independent —
          // plans built HERE (construction runs the budget probes on
          // the batch thread, the releaseScoped contract), then
          // materialized concurrently instead of three sequential
          // checkpoint waves.
          val s2Plan = Dedup.incrementalNearDup(s1, ndStore, textCol, idCol,
            threshold, shingleN, bands, rowsPerBand)
          val subPlan = Dedup.incrementalSubstringDedup(s1, subStore,
            idCol, textCol, L, posBase)
            .filter(col("n_kept") > 0)
            .select(col("id").as(idCol), col("n_kept"))
          val recPlan = Dedup.substringStoreRecords(s1, idCol, textCol,
            L, posBase)
          val cps = graft.core.Caches.runConcurrently[DataFrame](Seq(
            () => s2Plan.localCheckpoint(),
            () => subPlan.localCheckpoint(),
            () => recPlan.localCheckpoint()))
          val (s2, sub, records) = (cps(0), cps(1), cps(2))
          val s3 = sub.join(s2.select(col(idCol)), Seq(idCol))
            .localCheckpoint()
          // stage 4: semantic over the embeddings of the docs both
          // passes keep (stream-static left-semi on the shared ids)
          val batchEmb = emb.join(
            s3.select(col(idCol).cast("long").as(embIdCol)),
            Seq(embIdCol), "left_semi")
          val sem = graft.operators.Similarity.incrementalSemanticDedup(
            batchEmb, semStore, cents, semThreshold, embIdCol, embVecCol)
            .localCheckpoint()
          // all four store appends AFTER every read of prior state is
          // pinned (everything above is checkpointed); a retry
          // overwrites its own partitions and re-reads exactly what the
          // first attempt saw. The four writes land on four disjoint
          // paths — run them concurrently (§2.6).
          graft.core.Caches.runConcurrently[Unit](Seq(
            () => s1.select(col("fp"))
              .write.mode("overwrite").parquet(s"$basePath/exact/batch=$batchId"),
            () => s2.select(col(idCol).cast("long").as("id"),
                col("shingles"), col("sig"))
              .write.mode("overwrite").parquet(s"$basePath/neardup/batch=$batchId"),
            () => records
              .write.mode("overwrite").parquet(s"$basePath/substring/batch=$batchId"),
            () => sem
              .write.mode("overwrite").parquet(s"$basePath/semantic/batch=$batchId")))
          val out = sem.select(col("id").as(idCol), col("cell"))
            .join(s3, Seq(idCol))
            .select(col(idCol), col("cell"), col("n_kept"))
          sink(out, batchId)
        }
        ()
    }

  /** Streaming incremental CLUSTER maintenance (X152) — the always-on
    * form of [[graft.operators.Dedup.incrementalConnectedComponents]],
    * giving the ingestion quartet's canonicalization pass the same
    * micro-batch treatment as the dedup increments that feed it: each
    * micro-batch of verified duplicate PAIRS folds into the stored
    * labels by graph contraction (CC over the batch-bounded contracted
    * graph only — zero corpus-sized shuffles per batch).
    *
    * Store layout differs from the append-only siblings because labels
    * are REPLACED, not appended: each batch writes the complete updated
    * label table as a SNAPSHOT under `batch=<batchId>`, and reads the
    * LATEST snapshot with id ≠ its own — so a retried batch sees
    * exactly the snapshot the first attempt saw (its own partial write
    * is excluded and then overwritten), and the one-checkpoint-per-
    * store lineage guard ([[storeForBatch]]'s rule) fails loud on a
    * foreign-checkpoint store. Old snapshots are the retry/rollback
    * history — [[compactStore]] (snapshot layout) collapses them to
    * the newest once its batch commits. A pre-bootstrapped label
    * table lives under `batch=<negative id>`. */
  def streamingIncrementalClusters(pairs: DataFrame, storePath: String,
      id1: String = "id1", id2: String = "id2")(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    pairs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        graft.core.Caches.releaseScoped[Unit] {
          val prior = labelSnapshotForBatch(
            readLabelStore(spark, storePath), batchId)
          // localCheckpoint before the snapshot write: the updated plan
          // reads the path the write extends (recacheByPath hazard,
          // shared with the whole family)
          val updated = Dedup.incrementalConnectedComponents(
            prior, batch.toDF(), id1, id2).localCheckpoint()
          updated.write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
          sink(updated, batchId)
        }
        ()
    }

  /** The cluster-label store (id, cluster_id), empty-with-schema when
    * the path does not exist yet; SNAPSHOT-per-batch layout (see
    * [[streamingIncrementalClusters]]), same narrow catch as
    * [[readNearDupStore]]. */
  def readLabelStore(spark: SparkSession, path: String): DataFrame =
    readStoreOrEmpty(spark, path,
      StructType(Seq(
        StructField("id", LongType),
        StructField("cluster_id", LongType))))

  /** Streaming CANONICAL maintenance (X197) — the streaming form of
    * [[graft.operators.Dedup.incrementalCanonical]], completing the
    * canonical family's ladder (X181 batch → X195 increment → X196
    * retract → this): each micro-batch of verified duplicate PAIRS
    * folds into the label SNAPSHOT store (the X152 contraction — zero
    * corpus-sized shuffles) AND re-elects canonical picks for touched
    * clusters only, writing both whole-table snapshots under
    * `batch=<id>`. The pick store is what serving reads; after any
    * batch it equals the full argmax over the current labels
    * (spec-pinned through the increment law). Store contracts
    * verbatim: snapshot layout, per-batch overwrite retry idempotence,
    * the one-checkpoint-per-store lineage guard, negative-id
    * bootstrap, eager localCheckpoint before the writes that extend
    * the read paths (the recacheByPath hazard). `scores` is a STATIC
    * id-keyed table (quality scores are per-doc ingest facts). */
  def streamingCanonicalMaintenance(pairs: DataFrame,
      labelStorePath: String, pickStorePath: String, scores: DataFrame,
      idCol: String, scoreCol: String,
      id1: String = "id1", id2: String = "id2")(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    pairs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        graft.core.Caches.releaseScoped[Unit] {
          val priorLabels = labelSnapshotForBatch(
            readLabelStore(spark, labelStorePath), batchId)
          val priorPicks = snapshotForBatch(
            readPickStore(spark, pickStorePath), batchId,
            StructType(Seq(
              StructField("cluster_id", LongType),
              StructField("canonical_id", LongType),
              StructField("score", LongType))))
          // Normalize the pair columns to the default (id1, id2) names
          // BEFORE both calls: incrementalCanonical's inner explode and
          // contraction use the defaults, so a non-default-named batch
          // would fail with an AnalysisException on the picks path while
          // the labels path silently honored the params.
          val b = batch.toDF()
            .select(col(id1).as("id1"), col(id2).as("id2"))
            .localCheckpoint()
          // build both snapshots on the batch thread (construction
          // runs probes and tracked persists; one contraction feeds
          // both), then checkpoint and write each pair concurrently
          // instead of two sequential waves
          val (lblPlan, pickPlan) = Dedup.incrementalCanonicalWithLabels(
            priorLabels, priorPicks, b, scores, idCol, scoreCol)
          val cps = graft.core.Caches.runConcurrently[DataFrame](Seq(
            () => lblPlan.localCheckpoint(),
            () => pickPlan.localCheckpoint()))
          val (updatedLabels, updatedPicks) = (cps(0), cps(1))
          graft.core.Caches.runConcurrently[Unit](Seq(
            () => updatedLabels.write.mode("overwrite")
              .parquet(s"$labelStorePath/batch=$batchId"),
            () => updatedPicks.write.mode("overwrite")
              .parquet(s"$pickStorePath/batch=$batchId")))
          sink(updatedPicks, batchId)
        }
        ()
    }

  /** Streaming SOFT-DEDUP weight maintenance (X217) — the always-on
    * form completing the soft-dedup ladder (X213 batch → X216
    * increment → this), and the second member of the SNAPSHOT-store
    * family after the canonical picks: the weight table is serving
    * state a trainer reads, and a cluster merge rewrites EVERY
    * member's row (weight = 1/size), so the store is replaced
    * per batch, not appended. Each micro-batch of verified duplicate
    * PAIRS folds in via [[graft.operators.Dedup.incrementalSoftDedup]]
    * (affected-component-bounded re-weight, one map-side store scan);
    * a pair-free new document streams as a SELF-LOOP (id, id) — the
    * operator's pair filter drops the loop but the endpoint enters the
    * batch spine, so singletons get their full-weight row. The batch
    * spine derives as the non-stored endpoints; doc-level re-arrival
    * protection therefore lives in the upstream doc-dedup streams
    * (at the pair level a stored endpoint IS the normal cross-pair
    * case). Store contracts verbatim from the canonical family:
    * snapshot layout under `batch=<id>`, per-batch overwrite retry
    * idempotence via self-excluded latest-snapshot reads, the
    * one-checkpoint-per-store lineage guard, negative-id bootstrap,
    * eager localCheckpoint before the write that extends the read
    * path. After any batch the store equals the batch operator over
    * everything streamed (spec-pinned through the increment law). */
  def streamingSoftDedupMaintenance(pairs: DataFrame,
      weightStorePath: String, id1: String = "id1", id2: String = "id2")(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    pairs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        graft.core.Caches.releaseScoped[Unit] {
          val prior = snapshotForBatch(
            readWeightStore(spark, weightStorePath), batchId,
            weightStoreSchema)
          val b = batch.toDF()
            .select(col(id1).cast("long").as("id1"),
              col(id2).cast("long").as("id2"))
            .localCheckpoint()
          val ends = b.select(explode(array(col("id1"), col("id2"))).as("id"))
            .distinct()
          val storedEnds = prior.join(broadcast(ends), Seq("id"))
            .select(col("id"))
          val batchIds = ends.exceptAll(storedEnds)
          val updated = graft.operators.Dedup.incrementalSoftDedup(
            prior, b, batchIds).localCheckpoint()
          updated.write.mode("overwrite")
            .parquet(s"$weightStorePath/batch=$batchId")
          sink(updated, batchId)
        }
        ()
    }

  private val weightStoreSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("cluster_id", LongType),
    StructField("cluster_size", LongType),
    StructField("weight_bp", LongType),
    StructField("keep", BooleanType)))

  /** The soft-dedup weight store (softDedup's schema), empty-with-
    * schema when the path does not exist yet; SNAPSHOT-per-batch
    * layout, same narrow catch as [[readNearDupStore]]. */
  def readWeightStore(spark: SparkSession, path: String): DataFrame =
    readStoreOrEmpty(spark, path, weightStoreSchema)

  /** The canonical-pick store (cluster_id, canonical_id, score),
    * empty-with-schema when the path does not exist yet;
    * SNAPSHOT-per-batch layout, same narrow catch as
    * [[readNearDupStore]]. */
  def readPickStore(spark: SparkSession, path: String): DataFrame =
    readStoreOrEmpty(spark, path,
      StructType(Seq(
        StructField("cluster_id", LongType),
        StructField("canonical_id", LongType),
        StructField("score", LongType))))

  /** Max batch id present in a partitioned store, derived from the
    * store's FILE LISTING on the driver — each input file path carries
    * its `batch=<id>` partition directory segment, so the probe is
    * pure path parsing: zero Spark jobs, zero data pages (the previous
    * form aggregated the partition column, which column-prunes but
    * still schedules a scan task per file every micro-batch). The
    * LAST `batch=` segment in a path wins, so a store rooted under a
    * directory that itself contains "batch=" still parses its own
    * partitions. A partition directory with no files is invisible —
    * exactly like it was to the aggregation probe (no rows). */
  private def maxBatchFromFiles(df: DataFrame,
      excluding: Option[Long] = None): Option[Long] = {
    val re = "/batch=(-?\\d+)/".r
    df.inputFiles.toSeq
      .flatMap(f => re.findAllMatchIn(f).toSeq.lastOption.map(_.group(1).toLong))
      .filterNot(b => excluding.contains(b))
      .reduceOption(_ max _)
  }

  /** Latest label SNAPSHOT visible to `batchId`: the partition with
    * the highest batch id among those ≠ batchId (self-excluded for
    * retry idempotence), after the same foreign-lineage guard as
    * [[storeForBatch]] — a partition BEYOND the current batch id can
    * only come from a different checkpoint whose id reset would
    * silently roll the labels back. Empty-with-schema when no prior
    * snapshot exists (stream-first bootstrap). Both probes are
    * driver-side file-listing parses ([[maxBatchFromFiles]]) — no
    * per-batch store scan. */
  private def labelSnapshotForBatch(store0: DataFrame,
      batchId: Long): DataFrame =
    snapshotForBatch(store0, batchId, StructType(Seq(
      StructField("id", LongType),
      StructField("cluster_id", LongType))))

  /** SNAPSHOT-layout store read for batch `batchId`: the latest prior
    * snapshot (whole-table-per-batch stores — labels, canonical
    * picks), with the one-checkpoint-per-store lineage guard and the
    * empty-with-schema stream-first bootstrap. Both probes are
    * driver-side file-listing parses ([[maxBatchFromFiles]]) — no
    * per-batch store scan. */
  private def snapshotForBatch(store0: DataFrame, batchId: Long,
      emptySchema: StructType): DataFrame =
    if (store0.columns.contains("batch")) {
      val maxAll = maxBatchFromFiles(store0)
      val maxPrev = maxBatchFromFiles(store0, excluding = Some(batchId))
      require(maxAll.forall(_ <= batchId),
        s"streaming snapshot store: found batch=${maxAll.get} snapshot beyond " +
          s"this run's batch id $batchId — the store was written by a " +
          "different checkpoint lineage (one checkpoint per store); " +
          "restarting with a fresh checkpoint needs the store " +
          "re-bootstrapped under batch=<negative id>")
      maxPrev match {
        case None =>
          store0.sparkSession.createDataFrame(
            store0.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            emptySchema)
        case Some(mp) =>
          store0.filter(col("batch") === mp).drop("batch")
      }
    } else store0

  /** The substring-dedup window-hash store (gh), empty-with-schema
    * when the path does not exist yet; same narrow catch and
    * partition-layout contract as [[readNearDupStore]]. */
  def readSubstringStore(spark: SparkSession, path: String): DataFrame =
    readStoreOrEmpty(spark, path,
      StructType(Seq(StructField("gh", StringType))))

  /** ONE-CHECKPOINT-PER-STORE guard + self-exclusion for the
    * foreachBatch increment family. The `batch=<id>` layout is
    * retry-idempotent WITHIN one checkpoint (a retried batch
    * overwrites its own partition and reads everything else), but
    * restarting a stream with a NEW checkpoint (batch ids reset to 0)
    * against an existing store would silently overwrite the prior
    * run's `batch=0..N` partitions — permanently dropping those
    * survivors' records, so previously-ingested duplicates would be
    * re-admitted. Streaming batches commit in order, so a legitimate
    * run can only ever see store partitions ≤ its own batch id (its
    * retry's partition included); any partition BEYOND it proves the
    * store belongs to a different checkpoint lineage — fail loud. The
    * probe is a driver-side file-listing parse ([[maxBatchFromFiles]])
    * — zero jobs, zero data pages, however many partitions the store
    * has grown. Bootstrap partitions use negative ids, which never
    * trip the guard. */
  private def storeForBatch(store0: DataFrame, batchId: Long): DataFrame =
    if (store0.columns.contains("batch")) {
      val maxB = maxBatchFromFiles(store0).getOrElse(Long.MinValue)
      require(maxB <= batchId,
        s"streaming increment store: found batch=$maxB partition beyond " +
          s"this run's batch id $batchId — the store was written by a " +
          "different checkpoint lineage (one checkpoint per store); " +
          "restarting with a fresh checkpoint needs a compacted store " +
          "re-bootstrapped under batch=<negative id>")
      store0.filter(col("batch") =!= batchId).drop("batch")
    } else store0

  /** Compact a streaming increment store's `batch=<id>` partitions
    * into ONE bootstrap partition — the operator form of what was
    * previously a documented manual delete. Both layouts:
    *
    *  - APPEND family (exact/near-dup/substring/semantic stores, the
    *    [[streamingIncrementalNearDup]] contract): the compacted
    *    content is the UNION of every partition's rows — a pure
    *    merge, read-equivalent before and after.
    *  - SNAPSHOT family (the [[streamingIncrementalClusters]] label
    *    store): each partition is a complete replacement table, so
    *    the compacted content is ONLY the newest snapshot's rows;
    *    older snapshots are retry/rollback history whose usefulness
    *    ends once their batch commits.
    *
    * The result lands under `batch=<keepBatch>` with keepBatch
    * REQUIRED negative — the bootstrap-id convention, which is
    * exactly what makes the compacted store safe against the
    * one-checkpoint-per-store lineage guard: a NEW stream checkpoint
    * restarts at batch 0, and a store whose only partition is
    * negative can never sit beyond it. (Compacting is therefore the
    * sanctioned way to hand a store to a fresh checkpoint — the
    * guard's error message points here.)
    *
    * Scale shape: one store scan + one write + three filesystem
    * metadata ops — content is written to a SIBLING temp directory
    * (`<store>.compacting`) and swapped in FAIL-SAFE: the live store
    * renames to `<store>.old`, the temp dir renames into place, then
    * `.old` deletes. The operator never reads a path it is
    * concurrently rewriting (the recacheByPath hazard) and never pins
    * store-sized data in executor memory; at EVERY crash point a
    * complete copy of the store survives on disk (live, `.old`, or
    * `.compacting`), and the store READERS refuse to bootstrap empty
    * while swap debris exists ([[readStoreOrEmpty]] fails loud on a
    * missing store path with a sibling `.old`/`.compacting` dir), so
    * an interrupted swap can never silently restart history and
    * re-admit every duplicate. Recovery is renaming the surviving
    * copy back — the reader's error message says which. Run it only
    * while the stream is stopped (the same discipline as any
    * checkpoint surgery). A flat (unpartitioned) store or a missing
    * path is a no-op. */
  def compactStore(spark: SparkSession, storePath: String,
      snapshotLayout: Boolean, keepBatch: Long = -1L): Unit = {
    require(keepBatch < 0,
      s"compacted partition must use a bootstrap (negative) batch id " +
        s"so the lineage guard accepts a fresh checkpoint, got $keepBatch")
    val store =
      try spark.read.option("basePath", storePath).parquet(storePath)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Seq("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
              .exists(c => Option(e.getCondition).exists(_.startsWith(c))) =>
          val p = new org.apache.hadoop.fs.Path(storePath)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val debris = Seq(".old", ".compacting")
            .map(s => new org.apache.hadoop.fs.Path(storePath + s))
            .filter(fs.exists)
          if (debris.nonEmpty) throw new IllegalStateException(
            s"compactStore: store at $storePath is missing but a prior " +
              s"interrupted swap left ${debris.mkString(", ")} — recover " +
              "by renaming the surviving copy back before compacting")
          return // nothing to compact
      }
    if (!store.columns.contains("batch")) return // already flat
    val content =
      if (snapshotLayout) maxBatchFromFiles(store) match {
        case Some(mb) => store.filter(col("batch") === mb).drop("batch")
        case None => store.drop("batch") // partitions exist but hold no files
      }
      else store.drop("batch")
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val storeP = new org.apache.hadoop.fs.Path(storePath)
    val fs = storeP.getFileSystem(hadoopConf)
    val tmp = new org.apache.hadoop.fs.Path(storePath + ".compacting")
    val oldP = new org.apache.hadoop.fs.Path(storePath + ".old")
    fs.delete(tmp, true)
    content.write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(tmp, s"batch=$keepBatch").toString)
    // fail-safe three-step swap: live -> .old, temp -> live, drop
    // .old. A complete store copy exists on disk at every crash
    // point, and readStoreOrEmpty fails loud (never bootstraps empty)
    // while .old/.compacting debris exists next to a missing store.
    fs.delete(oldP, true) // debris from a crash AFTER a completed swap
    if (!fs.rename(storeP, oldP))
      throw new IllegalStateException(
        s"compactStore: rename $storeP -> $oldP failed; the live store " +
          "is untouched and the compacted content is intact at " +
          s"$tmp — nothing to recover")
    if (!fs.rename(tmp, storeP))
      throw new IllegalStateException(
        s"compactStore: rename $tmp -> $storeP failed after the live " +
          s"store moved to $oldP; recover by renaming $oldP back to " +
          s"$storeP (the compacted content stays at $tmp)")
    fs.delete(oldP, true)
  }

  /** Streaming MANIFEST maintenance (X160) — the always-on form of the
    * X128/X159 versioning loop: each micro-batch reduces to its
    * content-digest manifest (#groups rows — counts, 60-bit XOR, mod-p
    * sum) and appends it under `batch=<id>`; the corpus manifest at
    * any moment is [[graft.operators.ScaleOps.mergeManifests]] over
    * the store ([[readManifestStore]]/[[mergedManifest]]), EXACTLY
    * equal to a full-corpus digest — so snapshot validation and X129
    * diffs never rescan what the stream already ingested. The store is
    * APPEND layout: retry idempotence via per-batch overwrite +
    * self-excluded guard, the one-checkpoint-per-store lineage guard,
    * and X155 compaction all apply verbatim (compaction merges
    * partition rows; the merge-at-read collapses them — order-free by
    * construction). The batch manifest plan reads only the batch, so
    * no pre-write localCheckpoint is needed (no recacheByPath hazard,
    * unlike the dedup siblings whose plans read the store path). */
  def streamingManifestMaintenance(docs: DataFrame, storePath: String,
      groupCol: String, cols: Seq[String])(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        graft.core.Caches.releaseScoped[Unit] {
          // lineage guard only — the batch manifest never reads the store
          storeForBatch(readManifestStore(spark, storePath, groupCol), batchId)
          val manifest = graft.operators.ScaleOps
            .contentDigest(batch.toDF(), groupCol, cols)
          manifest.write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
          sink(manifest, batchId)
        }
        ()
    }

  /** Streaming PCA training-state maintenance (X221) — the X160
    * manifest pattern applied to the X220 moment algebra: each
    * micro-batch of vectors reduces to its (dims+1)²-row moment table
    * and APPENDS it under `batch=<id>` (moments are exact mergeable
    * partials, so the layout is append + merge-at-read like the
    * manifests, not snapshot-per-batch); the corpus training state at
    * any moment is [[foldedMoments]] over the store, and components
    * trained from it are BIT-EQUAL to a full-corpus retrain — the
    * always-on PCA index never rescans what the stream ingested.
    * Append contracts verbatim: retry idempotence by per-batch
    * overwrite, the one-checkpoint-per-store lineage guard, negative-id
    * bootstrap; no pre-write localCheckpoint needed (the batch moment
    * plan never reads the store path). */
  def streamingPcaMoments(vectors: DataFrame, storePath: String,
      vecCol: String, dims: Int, scale: Double = 1e6)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        graft.core.Caches.releaseScoped[Unit] {
          // lineage guard only — the batch moments never read the store
          storeForBatch(readMomentStore(spark, storePath), batchId)
          val m = graft.operators.Similarity.pcaMomentRecords(
            batch.toDF(), vecCol, dims, scale)
          m.write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
          sink(m, batchId)
        }
        ()
    }

  /** STREAMING unigram-LM training-state maintenance (X225) — the
    * X221 pattern applied to the tokenizer's word-frequency dict:
    * each micro-batch of documents reduces to its (w, f) word-count
    * table and APPENDS it under `batch=<id>` (word counts are exact
    * mergeable partials — [[graft.operators.Corpus.unigramWordCounts]]
    * — so the layout is append + merge-at-read like the moment and
    * manifest stores, NOT snapshot-per-batch); the training state at
    * any moment is the word-keyed fold over the store
    * ([[foldedWordCounts]], a vocab·#batches-row aggregation, never a
    * corpus rescan), and a model trained from the fold is BIT-equal
    * to a full retrain over everything streamed. Append contracts
    * verbatim: per-batch overwrite retry idempotence, the
    * one-checkpoint-per-store lineage guard, negative-id bootstrap;
    * no pre-write localCheckpoint needed (the batch dict plan never
    * reads the store path). */
  def streamingUnigramCounts(docs: DataFrame, storePath: String,
      textCol: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        graft.core.Caches.releaseScoped[Unit] {
          // lineage guard only — the batch dict never reads the store
          storeForBatch(readWordCountStore(spark, storePath), batchId)
          val c = graft.operators.Corpus.unigramWordCounts(
            batch.toDF(), textCol)
          c.write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
          sink(c, batchId)
        }
        ()
    }

  /** The per-batch word-count store (w, f), empty-with-schema when
    * the path does not exist yet; append layout, same narrow catch as
    * [[readNearDupStore]]. */
  def readWordCountStore(spark: SparkSession, path: String): DataFrame =
    readStoreOrEmpty(spark, path,
      StructType(Seq(
        StructField("w", StringType),
        StructField("f", LongType))))

  /** The tokenizer training state AS OF NOW: every batch partition's
    * dict folded word-wise — feed it to
    * [[graft.operators.Corpus.unigramLmTrainFromCounts]]. */
  def foldedWordCounts(spark: SparkSession, path: String): DataFrame =
    readWordCountStore(spark, path).drop("batch")
      .groupBy(col("w")).agg(sum(col("f")).as("f"))

  /** The per-batch PCA moment store (i, j, s), empty-with-schema when
    * the path does not exist yet; append layout, same narrow catch as
    * [[readNearDupStore]]. */
  def readMomentStore(spark: SparkSession, path: String): DataFrame =
    readStoreOrEmpty(spark, path,
      StructType(Seq(
        StructField("i", IntegerType),
        StructField("j", IntegerType),
        StructField("s", DecimalType(38, 0)))))

  /** The corpus training state AS OF NOW: every batch partition's
    * moment table folded cell-wise — a (dims+1)²·#batches-row
    * aggregation, never a vector scan. */
  def foldedMoments(spark: SparkSession, path: String): DataFrame =
    readMomentStore(spark, path).drop("batch")
      .groupBy(col("i"), col("j"))
      .agg(sum(col("s")).cast("decimal(38,0)").as("s"))

  /** The per-batch manifest store (groupCol, n_rows, xor_digest,
    * sum_digest), empty-with-schema when the path does not exist yet;
    * same narrow catch and partition-layout contract as
    * [[readNearDupStore]]. The group column bootstraps as STRING —
    * matching [[graft.operators.ScaleOps.contentDigest]]'s
    * exactly-stringifying column contract's most common key type;
    * integral group keys read back fine from real partitions. */
  def readManifestStore(spark: SparkSession, path: String,
      groupCol: String): DataFrame =
    readStoreOrEmpty(spark, path,
      StructType(Seq(
        StructField(groupCol, StringType),
        StructField("n_rows", LongType),
        StructField("xor_digest", LongType),
        StructField("sum_digest", LongType))), declared = false)

  /** The corpus manifest AS OF NOW: every batch partition's manifest
    * folded by [[graft.operators.ScaleOps.mergeManifests]] — a
    * #groups·#batches-row aggregation, never a corpus scan. */
  def mergedManifest(spark: SparkSession, path: String,
      groupCol: String): DataFrame =
    graft.operators.ScaleOps.mergeManifests(
      readManifestStore(spark, path, groupCol).drop("batch"), groupCol)

  /** TIME-TRAVEL manifest read (X163): the corpus manifest AS OF batch
    * `batch` — fold only the store partitions with `batch <= batch`,
    * which by the per-batch append contract is EXACTLY the digest of
    * everything ingested through that batch (bootstrap partitions ride
    * at negative ids, so `manifestAsOf(path, -1)` is the pre-stream
    * snapshot and `manifestAsOf(path, Long.MaxValue)` ≡
    * [[mergedManifest]]). Snapshot validation and X129 diffs against
    * ANY historical ingest point stay a #groups·#batches-row fold —
    * never a corpus rescan, never a store rewrite (the history IS the
    * retained partitions; X155 compaction trades that history away
    * only when an operator explicitly asks). An as-of EARLIER than
    * every retained partition is the empty manifest — same answer an
    * empty store gives, because both mean "nothing ingested yet". */
  def manifestAsOf(spark: SparkSession, path: String, groupCol: String,
      batch: Long): DataFrame = {
    val store = readManifestStore(spark, path, groupCol)
    val upTo =
      if (store.columns.contains("batch"))
        store.filter(col("batch").cast("long") <= batch).drop("batch")
      else store // empty bootstrap: no partitions exist at all
    graft.operators.ScaleOps.mergeManifests(upTo, groupCol)
  }

  /** Streaming DATA-QUALITY maintenance (X168) — X164 connected to the
    * ops loop the way X160 did for manifests: each micro-batch runs
    * [[graft.operators.ScaleOps.dqSuite]] over the batch and appends
    * the #constraints-row verdict table under `batch=<id>`; the
    * constraint HISTORY is the store, and
    * [[graft.operators.ScaleOps.dqDrift]] over it gives the
    * Deequ-style "quality moved" anomaly signal (metric vs trailing
    * window, integer arithmetic). The store contracts apply verbatim:
    * retry idempotence via per-batch overwrite, the
    * one-checkpoint-per-store lineage guard ([[storeForBatch]] —
    * probe only; the verdict never reads the store), bootstrap
    * partitions at negative ids, X155 compaction layout. Per-batch
    * cost is dqSuite's ONE aggregation pass over the batch (+ one
    * short-key shuffle per uniqueness key set) and a
    * #constraints-row write — the corpus is never rescanned and the
    * history never rewritten. */
  def streamingDqMaintenance(docs: DataFrame, storePath: String,
      rowChecks: Seq[(String, org.apache.spark.sql.Column)],
      completeness: Seq[String] = Nil,
      uniqueness: Seq[Seq[String]] = Nil)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        graft.core.Caches.releaseScoped[Unit] {
          // lineage guard only — the verdict never reads the store
          storeForBatch(readDqStore(spark, storePath), batchId)
          val verdict = graft.operators.ScaleOps.dqSuite(
            batch.toDF(), rowChecks, completeness, uniqueness)
          verdict.write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
          sink(verdict, batchId)
        }
        ()
    }

  /** Streaming HISTOGRAM maintenance (X191) — the distribution-drift
    * monitor connected to the stream the way X168 did for constraint
    * verdicts: each micro-batch appends its
    * [[graft.operators.ScaleOps.binnedCounts]] partial (one (bin, n)
    * row per occupied bin) under `batch=<id>`; the per-batch
    * histogram HISTORY is the store, and
    * [[graft.operators.ScaleOps.histogramStoreDrift]] over it is the
    * "did the values move" signal per ingest batch. Store contracts
    * verbatim (per-batch overwrite retry idempotence, the
    * one-checkpoint-per-store lineage guard, negative-id bootstrap,
    * X155 compaction layout). Per-batch cost: ONE bin partial-agg
    * pass over the batch and a #bins-row write — the corpus is never
    * rescanned, and histograms merge downstream by plain summation
    * (the mergeable-partials property). */
  def streamingHistogramMaintenance(docs: DataFrame, storePath: String,
      valueCol: String, binWidth: Long)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        graft.core.Caches.releaseScoped[Unit] {
          // lineage guard only — the histogram never reads the store
          storeForBatch(readHistogramStore(spark, storePath), batchId)
          val h = graft.operators.ScaleOps.binnedCounts(
            batch.toDF(), valueCol, binWidth)
          h.write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
          sink(h, batchId)
        }
        ()
    }

  /** The per-batch histogram store (bin, n), empty-with-schema when
    * the path does not exist yet; same narrow catch and
    * partition-layout contract as [[readNearDupStore]]. */
  def readHistogramStore(spark: SparkSession, path: String): DataFrame =
    readStoreOrEmpty(spark, path,
      StructType(Seq(
        StructField("bin", LongType),
        StructField("n", LongType))))

  /** Streaming PER-GROUP DQ maintenance (X184) — the keyed form of
    * [[streamingDqMaintenance]], completing the DQ family's ladder
    * the way the dedup families did (suite → keyed suite → stream →
    * keyed stream): each micro-batch runs
    * [[graft.operators.ScaleOps.dqSuiteByGroup]] and appends the
    * (group × constraint)-row verdict table under `batch=<id>`; the
    * keyed history is the store, and
    * [[graft.operators.ScaleOps.dqGroupDrift]] over it is the
    * per-TENANT anomaly signal — the monitor that catches a drifting
    * source the global X168 report averages away. Store contracts
    * verbatim (per-batch overwrite retry idempotence, the
    * one-checkpoint-per-store lineage guard, negative-id bootstrap,
    * X155 compaction layout). Per-batch cost is ONE group-keyed
    * partial-agg pass over the batch (+ one (group, keys) shuffle per
    * uniqueness set) and a #groups·#constraints-row write — the
    * corpus is never rescanned, the history never rewritten. */
  def streamingDqByGroupMaintenance(docs: DataFrame, storePath: String,
      groupCol: String,
      rowChecks: Seq[(String, org.apache.spark.sql.Column)],
      completeness: Seq[String] = Nil,
      uniqueness: Seq[Seq[String]] = Nil)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        graft.core.Caches.releaseScoped[Unit] {
          // lineage guard only — the verdict never reads the store
          storeForBatch(readDqGroupStore(spark, storePath, groupCol),
            batchId)
          val verdict = graft.operators.ScaleOps.dqSuiteByGroup(
            batch.toDF(), groupCol, rowChecks, completeness, uniqueness)
          verdict.write.mode("overwrite")
            .parquet(s"$storePath/batch=$batchId")
          sink(verdict, batchId)
        }
        ()
    }

  /** The per-batch KEYED DQ verdict store — [[readDqStore]]'s layout
    * with the group column in front (stored as string; the suite's
    * group values round-trip through parquet as written). */
  def readDqGroupStore(spark: SparkSession, path: String,
      groupCol: String): DataFrame =
    readStoreOrEmpty(spark, path,
      StructType(Seq(
        StructField(groupCol, StringType),
        StructField("constraint", StringType),
        StructField("n_bad", LongType),
        StructField("value_bp", LongType),
        StructField("passed", BooleanType))), declared = false)

  /** Streaming incremental FINGERPRINT near-dup, micro-batch-composed
    * (X169) — the streaming form of
    * [[graft.operators.Dedup.incrementalFingerprintNearDup]], closing
    * the modality symmetry: the perceptual-hash family (image grid
    * phash, audio block hash) now has batch → increment → stream
    * forms like the text families. The stream input is HASH records
    * (idCol, hashCol) — decode/phash are map-side projections the
    * caller composes upstream in the streaming DAG (typed
    * mapPartitions, streaming-compatible), so payloads never reach
    * the store or the shuffle. Each micro-batch dedups against the
    * store (band keys bit-sliced from STORED hashes — history never
    * re-decoded), then appends its survivors under `batch=<id>`.
    * Store layout, retry idempotence (per-batch overwrite +
    * self-excluded read), the lineage guard, and scoped cache release
    * follow [[streamingIncrementalNearDup]] exactly; the survivors
    * localCheckpoint eagerly because their plan READS the store path
    * the write below extends (the recacheByPath hazard). */
  def streamingIncrementalFingerprintNearDup(hashes: DataFrame,
      storePath: String, idCol: String, hashCol: String, bits: Int,
      bands: Int, maxDist: Int)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    hashes.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        graft.core.Caches.releaseScoped[Unit] {
          val store = storeForBatch(
            readFingerprintStore(spark, storePath), batchId)
          val survivors = Dedup.incrementalFingerprintNearDup(
            batch.toDF(), store, idCol, hashCol, bits, bands, maxDist)
            .localCheckpoint()
          survivors.write.mode("overwrite")
            .parquet(s"$storePath/batch=$batchId")
          sink(survivors, batchId)
        }
        ()
    }

  /** The fingerprint near-dup store (id, sig — one integer hash per
    * media object), empty-with-schema when the path does not exist
    * yet; same narrow catch and partition-layout contract as
    * [[readNearDupStore]]. */
  def readFingerprintStore(spark: SparkSession, path: String): DataFrame =
    readStoreOrEmpty(spark, path,
      StructType(Seq(
        StructField("id", LongType),
        StructField("sig", LongType))))

  /** Streaming QUARANTINE routing (X177) — X165 connected to the
    * stream: each micro-batch splits on the row checks (pure map-side
    * — routing adds ZERO shuffles to the stream), valid rows flow to
    * the caller's sink, and quarantined rows land in a DEAD-LETTER
    * store under `batch=<id>` carrying their `_violations` reason
    * list — the audit trail a takedown/review loop replays. Store
    * contracts verbatim: per-batch overwrite (retry idempotence), the
    * one-checkpoint-per-store lineage guard (a foreign checkpoint
    * would silently overwrite audit history), negative-id bootstrap
    * partitions, X155 compaction layout. The guard read derives its
    * empty-bootstrap schema from the batch itself (the dead-letter
    * schema IS the input schema + `_violations`). */
  def streamingQuarantine(docs: DataFrame, deadLetterPath: String,
      checks: Seq[(String, org.apache.spark.sql.Column)])(
      valid: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        graft.core.Caches.releaseScoped[Unit] {
          // lineage guard only — routing never reads the store
          storeForBatch(readDeadLetterStore(spark, deadLetterPath,
            batch.schema), batchId)
          val (ok, bad) = graft.operators.ScaleOps.quarantineSplit(
            batch.toDF(), checks)
          bad.write.mode("overwrite")
            .parquet(s"$deadLetterPath/batch=$batchId")
          valid(ok, batchId)
        }
        ()
    }

  /** The dead-letter store: the ROUTED rows' own schema plus their
    * `_violations` reason list; empty-with-schema when the path does
    * not exist yet (same narrow catch and partition-layout contract
    * as [[readNearDupStore]]). Callers pass the row schema the
    * stream routes (reason list appended here). */
  def readDeadLetterStore(spark: SparkSession, path: String,
      rowSchema: StructType): DataFrame =
    readStoreOrEmpty(spark, path, StructType(rowSchema.fields :+
      StructField("_violations", ArrayType(StringType))), declared = false)

  /** The per-batch DQ verdict store (constraint, n_bad, value_bp,
    * passed), empty-with-schema when the path does not exist yet; same
    * narrow catch and partition-layout contract as
    * [[readNearDupStore]]. */
  def readDqStore(spark: SparkSession, path: String): DataFrame =
    readStoreOrEmpty(spark, path,
      StructType(Seq(
        StructField("constraint", StringType),
        StructField("n_bad", LongType),
        StructField("value_bp", LongType),
        StructField("passed", BooleanType))))

  /** The semantic-dedup store (id, embedding, cell), empty-with-schema
    * when the path does not exist yet; same narrow catch and
    * partition-layout contract as [[readNearDupStore]]. */
  def readSemanticStore(spark: SparkSession, path: String): DataFrame =
    readStoreOrEmpty(spark, path,
      StructType(Seq(
        StructField("id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("cell", LongType))))

  /** The exact-dedup fingerprint store, empty-with-schema when the
    * path does not exist yet; same narrow catch and partition-layout
    * contract as [[readNearDupStore]]. */
  def readExactStore(spark: SparkSession, path: String): DataFrame =
    readStoreOrEmpty(spark, path,
      StructType(Seq(StructField("fp", StringType))))

  /** The near-dup store as a DataFrame, empty-with-schema when the
    * path does not exist yet (stream-first deployments bootstrap the
    * store from their own first batches). Partition discovery exposes
    * the per-batch `batch=` directories as a `batch` column (the
    * retry-idempotence layout); a flat bootstrap store reads without
    * it. The catch is NARROW — only the no-data-at-path conditions;
    * a real read failure (corrupt store) must fail the batch, not
    * silently restart history. */
  def readNearDupStore(spark: SparkSession, path: String): DataFrame =
    readStoreOrEmpty(spark, path,
      StructType(Seq(
        StructField("id", LongType),
        StructField("shingles", ArrayType(StringType)),
        StructField("sig", ArrayType(StringType)))))

  /** Shared store-or-empty read for the streaming increment family.
    * The read passes the store's declared `schema` (the columns its
    * writers produce, in their order), so it plans without Spark's
    * one-job schema inference; partition discovery still appends the
    * per-batch `batch=` dirs as a `batch` column. Stores whose schema
    * is only a bootstrap guess (`declared = false`: a caller-typed
    * group or row column) keep the inferring read. A missing path or
    * a store with no data files yields the empty frame with the
    * declared schema (stream-first bootstrap) — unless an interrupted
    * [[compactStore]] swap left `.old`/`.compacting` debris next to
    * it, which fails loud. The catch is NARROW — only the
    * no-data-at-path conditions, kept in ONE place; a real read
    * failure (corrupt store) must fail the batch, not silently restart
    * history. */
  private def readStoreOrEmpty(spark: SparkSession, path: String,
      schema: StructType, declared: Boolean = true): DataFrame = {
    val reader = spark.read.option("basePath", path)
    val stored =
      try Some((if (declared) reader.schema(schema) else reader).parquet(path))
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Seq("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
              .exists(c => Option(e.getCondition).exists(_.startsWith(c))) => None
      }
    stored.filter(_.inputFiles.nonEmpty).getOrElse {
      // a missing store is a legitimate stream-first bootstrap ONLY
      // when no interrupted compactStore swap left a complete copy
      // next door — bootstrapping empty over swap debris would
      // silently restart history and re-admit every duplicate
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val debris = Seq(".old", ".compacting")
        .map(s => new org.apache.hadoop.fs.Path(path + s))
        .filter(fs.exists)
      if (debris.nonEmpty) throw new IllegalStateException(
        s"store at $path is missing but an interrupted compactStore " +
          s"swap left ${debris.mkString(", ")} — recover by renaming " +
          "the surviving copy back to the store path instead of " +
          "bootstrapping empty (which would re-admit every duplicate)")
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
  }

  // ---------------- sessionization ----------------

  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, last: Long, n: Int, total: Double)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Int, total_value: Double)

  /** Stateful sessionization: events for a user belong to one session
    * while gaps stay ≤ `gapMinutes`; a session closes when the
    * event-time watermark passes its end + gap. Custom state via
    * flatMapGroupsWithState (SURVEY §2.9 mapping).
    *
    * Session identity works on floored epoch-SECONDS, matching the
    * batch form's `unix_timestamp` arithmetic exactly, so
    * stream-to-completion ⊆ batch gaps-and-islands holds precisely. */
  def sessionize(events: Dataset[Ev], gapMinutes: Int): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapSec = gapMinutes * 60L
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, evs: Iterator[Ev], state: GroupState[List[SessionState]]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.getOrElse(Nil).map(s =>
              Session(user, new java.sql.Timestamp(s.start * 1000L),
                new java.sql.Timestamp(s.last * 1000L), s.n, s.total))
            state.remove()
            out.iterator
          } else {
            // merge new events into open sessions (events may arrive
            // in any order within the batch — sort by ts)
            val sorted = evs.toSeq.sortBy(_.ts.getTime)
            var sessions = state.getOption.getOrElse(Nil)
            for (e <- sorted) {
              val t = Math.floorDiv(e.ts.getTime, 1000L)
              sessions.find(s => t >= s.start - gapSec && t <= s.last + gapSec) match {
                case Some(s) =>
                  val merged = SessionState(math.min(s.start, t),
                    math.max(s.last, t), s.n + 1, s.total + e.value)
                  sessions = merged :: sessions.filterNot(_ == s)
                case None =>
                  sessions = SessionState(t, t, 1, e.value) :: sessions
              }
            }
            state.update(sessions)
            val horizon = (sessions.map(_.last).max + gapSec + 1) * 1000L
            state.setTimeoutTimestamp(horizon)
            Iterator.empty
          }
      }
  }

  // ---------------- transformWithState running totals ----------------

  case class RunIn(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, value: Double)
  case class RunTotals(n: Long, cents: Long)
  case class RunOut(event_id: Long, user_id: Long, run_n: Long, run_sum: Double)

  /** Per-user RUNNING totals via Spark 4's arbitrary-state API
    * (`transformWithState` + RocksDB state store — the successor to
    * flatMapGroupsWithState): every event is emitted with the count
    * and value-sum of its user so far. State = one (n, cents) pair
    * per user.
    *
    * Deterministic by construction: rows sort per (key, batch) on
    * (event-time, event_id) before folding, and the money sum
    * accumulates in integer CENTS (the source values are 2-decimal),
    * so no floating-point fold-order noise — the emitted run_sum is
    * bit-equal to the batch cumulative-window oracle in any engine. */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, RunIn, RunOut] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var totals: ValueState[RunTotals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[RunTotals]("totals",
        org.apache.spark.sql.Encoders.product[RunTotals], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[RunIn],
        timers: TimerValues): Iterator[RunOut] = {
      val sorted = rows.toArray.sortBy(r =>
        (r.ts.getTime, r.ts.getNanos, r.event_id))
      var st = if (totals.exists()) totals.get() else RunTotals(0L, 0L)
      val out = sorted.map { r =>
        st = RunTotals(st.n + 1, st.cents + math.round(r.value * 100))
        RunOut(r.event_id, key, st.n, st.cents / 100.0)
      }
      totals.update(st)
      out.iterator
    }
  }

  /** The running totals as a streaming Dataset (append mode, no time
    * semantics — pure keyed state). */
  def runningTotals(events: DataFrame): Dataset[RunOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[RunIn]
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** NATIVE session windows (X118): Spark's built-in `session_window`
    * operator — gap-merged event-time sessions per key with the engine
    * maintaining the merging session state, vs [[sessionize]]'s custom
    * flatMapGroupsWithState. In batch this plans as a sort-based
    * within-key merge; in streaming the state store keeps one merging
    * session per (key, open window) and the watermark both finalizes
    * sessions and bounds state — no custom state code at all, which is
    * why it is the FIRST choice for plain gap sessionization at scale
    * (the FMGWS form stays for semantics session_window can't express:
    * per-session running payloads, multi-timeout state machines).
    * `session_end` is Spark's window end = last event + gap (NOT the
    * last event time, which [[sessionizeBatch]] reports), and an event
    * at EXACTLY end merges (eventTime <= sessionEnd — same strict->
    * break rule as [[sessionizeBatch]]'s `> gapSec`); the decimal
    * sum keeps totals exact in any merge order. */
  def sessionWindowAgg(events: DataFrame, gapMinutes: Int): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(20,2)")).cast("double").as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** [[sessionWindowAgg]] with the streaming contract attached: the
    * caller passes a streaming frame; a watermark finalizes sessions
    * once event time passes end + delay. Append mode — only finalized
    * sessions emit, so a run over static input equals the batch form
    * RESTRICTED to sessions the final watermark passed (pinned in
    * StreamingSpec with a sentinel flush event). */
  def sessionWindowAggStream(events: DataFrame, gapMinutes: Int,
      delay: String = "10 minutes"): DataFrame =
    sessionWindowAgg(events.withWatermark("ts", delay), gapMinutes)

  /** Batch-equivalent sessionization via the gaps-and-islands window
    * pattern (lag + cumulative sum) — same sessions as the stream
    * produces once the watermark passes everything. SQL-expressible,
    * so this is the oracle form. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val gapSec = gapMinutes * 60L
    events
      .withColumn("_prev", lag(col("ts"), 1).over(byUser))
      .withColumn("_new",
        when(col("_prev").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("_prev")) > gapSec, 1)
          .otherwise(0))
      .withColumn("_sess", sum(col("_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("_sess"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(20,2)")).cast("double").as("total_value"))
      .drop("_sess")
  }
}
