package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.EventsStreaming

/** Structured Streaming parity: running the stream to completion over
  * static input must equal the batch form of the same query. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val eventsDir: String = {
    // re-write the driver's events (nanos ts) as micros parquet so the
    // streaming source can use the declared TimestampType schema
    val dir = Files.createTempDirectory("graft-events").toString
    graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("windowed agg: stream-to-completion == batch") {
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val streamed = EventsStreaming.runWindowedAggToCompletion(spark, eventsDir, ckpt)
      .select("win_start", "event_type", "n", "total")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val batch = EventsStreaming.windowedAggBatch(
      spark.read.parquet(eventsDir))
      .select("win_start", "event_type", "n", "total")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("stream schema probe: empty dir defaults to NTZ, real failures rethrow") {
    // stream-first pattern: nothing to probe yet -> current driver
    // generation assumed, stream builds with normalized TimestampType
    val emptyDir = Files.createTempDirectory("graft-empty-events").toString
    val s = EventsStreaming.readDriverEventsStream(spark, emptyDir)
    assert(s.isStreaming)
    assert(s.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // a directory whose footer probe fails for a REAL reason (corrupt
    // parquet) must fail at stream setup, not default to a wrong schema
    val badDir = Files.createTempDirectory("graft-bad-events")
    Files.write(badDir.resolve("part-0.parquet"),
      "this is not parquet".getBytes)
    intercept[Exception] {
      EventsStreaming.readDriverEventsStream(spark, badDir.toString)
    }
  }

  test("sessionizeBatch: gaps-and-islands on crafted data") {
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val ev = Seq(
      (1L, ts(0), 1.0), (1L, ts(10), 2.0), (1L, ts(20), 3.0), // session 1
      (1L, ts(120), 4.0),                                      // session 2 (100min gap)
      (2L, ts(5), 5.0))                                        // user 2, one session
      .toDF("user_id", "ts", "value")
    val got = EventsStreaming.sessionizeBatch(ev, gapMinutes = 30)
      .select("user_id", "n_events", "total_value")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 3L, 6.0), (1L, 1L, 4.0), (2L, 1L, 5.0)))
  }

  test("native session_window: exact gap boundary MERGES, end = last + gap") {
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val ev = Seq(
      (1L, ts(0), 1.0), (1L, ts(10), 2.0), (1L, ts(20), 3.0),
      (1L, ts(50), 4.0),  // EXACTLY prev + 30min: merges (eventTime <= end)
      (1L, ts(111), 5.0), // 61min gap: new session
      (2L, ts(5), 5.0))
      .toDF("user_id", "ts", "value")
    val got = EventsStreaming.sessionWindowAgg(ev, gapMinutes = 30)
      .select(col("user_id"), unix_timestamp(col("session_start")).as("s"),
        unix_timestamp(col("session_end")).as("e"),
        col("n_events"), col("total_value"))
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val base = 1700000000L
    assert(got == Set(
      (1L, base, base + 50 * 60 + 1800, 4L, 10.0),
      (1L, base + 111 * 60, base + 111 * 60 + 1800, 1L, 5.0),
      (2L, base + 5 * 60, base + 5 * 60 + 1800, 1L, 5.0)))
  }

  test("native session_window stream: finalized sessions == batch on flushed input") {
    // two-file source: the real events, then one far-future sentinel
    // per user that pushes the watermark past every real session
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val dir = Files.createTempDirectory("graft-swin").toString
    val real = Seq(
      (1L, ts(0), 1.0), (1L, ts(10), 2.0),
      (1L, ts(120), 3.0),
      (2L, ts(5), 4.0))
    val sentinel = Seq((1L, ts(100000), 0.0), (2L, ts(100000), 0.0))
    real.toDF("user_id", "ts", "value")
      .coalesce(1).write.parquet(s"$dir/f1")
    sentinel.toDF("user_id", "ts", "value")
      .coalesce(1).write.parquet(s"$dir/f2")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    val ckpt = Files.createTempDirectory("graft-ckpt-swin").toString
    val src = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").parquet(dir)
    val q = EventsStreaming.sessionWindowAggStream(src, gapMinutes = 30)
      .writeStream.format("memory").queryName("swin_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("swin_out")
      .select(col("user_id"), unix_timestamp(col("session_start")).as("s"),
        col("n_events").cast("long"), col("total_value"))
      .as[(Long, Long, Long, Double)].collect().toSet
    val batch = EventsStreaming.sessionWindowAgg(
      real.toDF("user_id", "ts", "value"), gapMinutes = 30)
      .select(col("user_id"), unix_timestamp(col("session_start")).as("s"),
        col("n_events").cast("long"), col("total_value"))
      .as[(Long, Long, Long, Double)].collect().toSet
    // every real session is finalized by the sentinel-driven watermark;
    // the sentinel sessions themselves are still open and must NOT emit
    assert(streamed == batch)
    assert(batch.size == 3)
  }

  test("streaming dedup == batch exact dedup survivor fingerprint set") {
    val ckpt = Files.createTempDirectory("graft-ckpt-dedup").toString
    // events as stand-in docs: fingerprint = md5 of event_type (few
    // distinct values -> heavy duplication)
    val src = spark.readStream.schema(EventsStreaming.eventSchema)
      .parquet(eventsDir)
      .select(col("ts"), md5(col("event_type").cast("binary")).as("fp"))
    val q = EventsStreaming.streamingDedup(src, "ts", "fp")
      .writeStream.format("memory").queryName("dedup_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("dedup_out").select("fp").as[String].collect().toSet
    val batch = spark.read.parquet(eventsDir)
      .select(md5(col("event_type").cast("binary")).as("fp"))
      .distinct().as[String].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming incremental dedup: store fingerprints dropped, fresh distinct kept") {
    val ckpt = Files.createTempDirectory("graft-ckpt-sinc").toString
    val allFps = spark.read.parquet(eventsDir)
      .select(md5(col("event_type").cast("binary")).as("fp")).distinct()
    val prior = allFps.orderBy("fp").limit(2)
    val src = spark.readStream.schema(EventsStreaming.eventSchema)
      .parquet(eventsDir)
      .select(col("ts"), md5(col("event_type").cast("binary")).as("fp"))
    val q = EventsStreaming.streamingIncrementalDedup(src, prior, "ts", "fp")
      .writeStream.format("memory").queryName("sinc_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("sinc_out").select("fp").as[String].collect().toSet
    val priorSet = prior.as[String].collect().toSet
    val all = allFps.as[String].collect().toSet
    assert(streamed == all -- priorSet)
    assert(streamed.nonEmpty && priorSet.size == 2)
    // per-batch plan pin: the store side must NEVER ride a
    // BroadcastExchange (a corpus-sized store re-broadcast every
    // micro-batch is the X122 scale-killer) — the anti-join must plan
    // shuffle-hash, fed by the Bloom-maybe slice only
    val exec = q.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString
    assert(!exec.contains("BroadcastExchange"),
      s"store-side broadcast in the per-batch plan:\n$exec")
    assert(exec.contains("ShuffledHashJoin") && exec.contains("LeftAnti"),
      s"expected a shuffle-hash LEFT ANTI store join:\n$exec")
  }

  test("streaming incremental dedup: empty store = plain watermarked dedup") {
    val ckpt = Files.createTempDirectory("graft-ckpt-sinc0").toString
    val empty = spark.read.parquet(eventsDir)
      .select(md5(col("event_type").cast("binary")).as("fp")).limit(0)
    val src = spark.readStream.schema(EventsStreaming.eventSchema)
      .parquet(eventsDir)
      .select(col("ts"), md5(col("event_type").cast("binary")).as("fp"))
    val q = EventsStreaming.streamingIncrementalDedup(src, empty, "ts", "fp")
      .writeStream.format("memory").queryName("sinc0_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("sinc0_out").select("fp").as[String].collect().toSet
    val all = spark.read.parquet(eventsDir)
      .select(md5(col("event_type").cast("binary")).as("fp"))
      .distinct().as[String].collect().toSet
    assert(streamed == all && all.nonEmpty)
  }

  test("streaming incremental near-dup: store hand-off is exact across micro-batches") {
    val dir = Files.createTempDirectory("graft-sind-src").toString
    val storeDir = Files.createTempDirectory("graft-sind-store").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-sind-spec").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def write(f: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/$f")
    val tA = "the quick brown fox jumps over the lazy dog entirely"
    val tB = "completely different content about spark engines instead"
    val buf = scala.collection.mutable.ArrayBuffer[Long]()
    def runOnce(ckptDir: String = ckpt): Unit = {
      val src = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(dir)
      val q = EventsStreaming.streamingIncrementalNearDup(
        src, storeDir, "text", "doc_id", threshold = 0.9) { (sv, _) =>
        buf ++= sv.select("doc_id").as[Long].collect()
      }
        .option("checkpointLocation", ckptDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def storeIds: Set[Long] = spark.read
      .option("basePath", storeDir).parquet(storeDir)
      .select("id").as[Long].collect().toSet
    // batch 1: doc 1 fresh; docs 2,3 exact dups of each other -> 2 wins
    write("f1", Seq((1L, tA), (2L, tB), (3L, tB)))
    runOnce()
    assert(buf.toSet == Set(1L, 2L))
    // at-least-once RETRY of batch 0 (fresh checkpoint, same store):
    // the batch's own partition is excluded from its read and
    // overwritten on write, so the replay reproduces the SAME
    // survivors instead of self-matching to zero, and the store is
    // byte-identical afterwards
    buf.clear()
    runOnce(Files.createTempDirectory("graft-ckpt-sind-retry").toString)
    assert(buf.toSet == Set(1L, 2L), s"retry must reproduce survivors, got $buf")
    assert(storeIds == Set(1L, 2L))
    // batch 2, original checkpoint, arbitrarily later: doc 10
    // near-dups batch-1's doc 1 (dropped via the STORE), doc 11
    // near-dups survivor 2's text (dropped the same way), doc 12 is
    // fresh. No watermark window is involved: the store hand-off
    // catches repeats however far apart the runs are.
    write("f2", Seq((10L, tA), (11L, tB), (12L, "an entirely fresh never before seen document")))
    buf.clear()
    runOnce()
    assert(buf.toSet == Set(12L))
    assert(storeIds == Set(1L, 2L, 12L))
  }

  test("streaming incremental exact dedup (micro-batch): zero re-emit window, retry-safe") {
    val dir = Files.createTempDirectory("graft-sie-src").toString
    val storeDir = Files.createTempDirectory("graft-sie-store").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-sie-spec").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def write(f: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/$f")
    val buf = scala.collection.mutable.ArrayBuffer[Long]()
    def runOnce(ckptDir: String = ckpt): Unit = {
      val src = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(dir)
      val q = EventsStreaming.streamingIncrementalExactDedup(
        src, storeDir, "text", "doc_id") { (sv, _) =>
        buf ++= sv.select("doc_id").as[Long].collect()
      }
        .option("checkpointLocation", ckptDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    write("f1", Seq((1L, "aaa bbb"), (2L, "ccc ddd"), (3L, "aaa bbb")))
    runOnce()
    assert(buf.toSet == Set(1L, 2L))
    // retry of batch 0 reproduces the same survivors (self-excluded
    // read + per-batch overwrite), store unchanged
    buf.clear()
    runOnce(Files.createTempDirectory("graft-ckpt-sie-retry").toString)
    assert(buf.toSet == Set(1L, 2L))
    // arbitrary-gap recurrence: doc 10 repeats batch-1 content — no
    // watermark is involved, the store catches it however much later
    write("f2", Seq((10L, "aaa bbb"), (11L, "eee fff")))
    buf.clear()
    runOnce()
    assert(buf.toSet == Set(11L))
    val fps = spark.read.option("basePath", storeDir).parquet(storeDir)
      .select("fp").distinct().count()
    assert(fps == 3L) // aaa-bbb, ccc-ddd, eee-fff
  }

  test("streaming incremental semantic dedup: frozen cells, cross-batch store hand-off") {
    val dir = Files.createTempDirectory("graft-sis-src").toString
    val storeDir = Files.createTempDirectory("graft-sis-store").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-sis-spec").toString
    val cents = Array((0, Array(1000000L, 0L)), (1, Array(0L, 1000000L)))
    // bootstrap: one stored vector in cell 0
    graft.operators.Similarity.semanticStoreRecords(
      Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", cents)
      .write.mode("overwrite").parquet(s"$storeDir/batch=-1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    def write(f: String, rows: Seq[(Long, Array[Float])]): Unit =
      rows.toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$dir/$f")
    val buf = scala.collection.mutable.ArrayBuffer[Long]()
    def runOnce(): Unit = {
      val src = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(dir)
      val q = EventsStreaming.streamingIncrementalSemanticDedup(
        src, storeDir, cents, threshold = 0.9) { (sv, _) =>
        buf ++= sv.select("id").as[Long].collect()
      }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // batch 1: doc 10 semantically dups the STORE's vector (cell 0);
    // doc 11 is a fresh direction (cell 1) -> survives + appended
    write("f1", Seq((10L, Array(0.99f, 0.14f)), (11L, Array(0.0f, 1.0f))))
    runOnce()
    assert(buf.toSet == Set(11L))
    // batch 2: doc 20 dups batch-1's SURVIVOR through the store
    // hand-off; doc 21 is fresh in cell 0
    write("f2", Seq((20L, Array(0.1f, 0.995f)), (21L, Array(0.7f, -0.71f))))
    buf.clear()
    runOnce()
    assert(buf.toSet == Set(21L))
    val storeIds = spark.read.option("basePath", storeDir).parquet(storeDir)
      .select("id").as[Long].collect().toSet
    assert(storeIds == Set(1L, 11L, 21L))
  }

  test("streaming incremental substring dedup: cross-batch window drop, retry-safe, lineage guard") {
    val dir = Files.createTempDirectory("graft-sisub-src").toString
    val storeDir = Files.createTempDirectory("graft-sisub-store").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-sisub-spec").toString
    // bootstrap store: doc 0's windows under batch=-1 (the negative-id
    // bootstrap partition contract)
    graft.operators.Dedup.substringStoreRecords(
      Seq((0L, "s1 s2 s3 s4")).toDF("doc_id", "text"), "doc_id", "text", L = 3)
      .write.mode("overwrite").parquet(s"$storeDir/batch=-1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def write(f: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/$f")
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    def runOnce(ckptDir: String = ckpt): Unit = {
      val src = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(dir)
      val q = EventsStreaming.streamingIncrementalSubstringDedup(
        src, storeDir, "text", "doc_id", L = 3) { (sv, _) =>
        buf ++= sv.select(col("id"), col("n_kept"))
          .as[(Long, Long)].collect()
      }
        .option("checkpointLocation", ckptDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // batch 1: doc 1's leading window (s2 s3 s4) drops through the
    // BOOTSTRAP store (covers tokens 0..2); doc 2 is fresh
    write("f1", Seq((1L, "s2 s3 s4 b1 b2"), (2L, "c1 c2 c3 c4")))
    runOnce()
    assert(buf.toSet == Set((1L, 2L), (2L, 4L)), s"got $buf")
    // at-least-once retry of batch 0 (fresh checkpoint, same store):
    // self-excluded read + per-batch overwrite reproduce the same
    // coverage instead of every batch window matching itself
    buf.clear()
    runOnce(Files.createTempDirectory("graft-ckpt-sisub-retry").toString)
    assert(buf.toSet == Set((1L, 2L), (2L, 4L)), s"retry must reproduce, got $buf")
    // batch 2, original checkpoint: doc 10's (c2 c3 c4) window drops
    // through BATCH 1's appended records — cross-batch, no watermark
    write("f2", Seq((10L, "c2 c3 c4 d1"), (11L, "e1 e2 e3")))
    buf.clear()
    runOnce()
    assert(buf.toSet == Set((10L, 1L), (11L, 3L)), s"got $buf")
    // the store now holds batch=1; a NEW checkpoint (batch ids reset
    // to 0) against it would silently overwrite batch=0..1 — the
    // lineage guard must fail the stream loud instead
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce(Files.createTempDirectory("graft-ckpt-sisub-fresh").toString)
    }
    def rootMessages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ rootMessages(t.getCause)
    assert(rootMessages(e).exists(_.contains("checkpoint lineage")),
      s"expected lineage guard, got: ${rootMessages(e)}")
  }

  test("streaming incremental clusters: snapshot chain, warm-start merges, retry-safe, lineage guard") {
    val dir = Files.createTempDirectory("graft-sic-src").toString
    val storeDir = Files.createTempDirectory("graft-sic-store").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-sic-spec").toString
    // bootstrap: CC labels of the history pairs under batch=-1
    graft.operators.Dedup.connectedComponents(
      Seq((3L, 5L), (5L, 7L)).toDF("id1", "id2"), "id1", "id2")
      .write.mode("overwrite").parquet(s"$storeDir/batch=-1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id1",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("id2",
        org.apache.spark.sql.types.LongType)))
    def write(f: String, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("id1", "id2").coalesce(1).write.parquet(s"$dir/$f")
    var last: Map[Long, Long] = Map.empty
    def runOnce(ckptDir: String = ckpt): Unit = {
      val src = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(dir)
      val q = EventsStreaming.streamingIncrementalClusters(src, storeDir) {
        (upd, _) =>
          last = upd.select(col("id"), col("cluster_id"))
            .as[(Long, Long)].collect().toMap
      }
        .option("checkpointLocation", ckptDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // batch 1: 1-7 makes 1 the new minimum of the stored cluster;
    // 30-31 is a brand-new component
    write("f1", Seq((1L, 7L), (30L, 31L)))
    runOnce()
    val after1 = Map(1L -> 1L, 3L -> 1L, 5L -> 1L, 7L -> 1L,
      30L -> 30L, 31L -> 30L)
    assert(last == after1, s"got $last")
    // at-least-once retry (fresh checkpoint, same store): the batch's
    // own snapshot is excluded from its read and overwritten — replay
    // reproduces the identical table from the batch=-1 snapshot
    last = Map.empty
    runOnce(Files.createTempDirectory("graft-ckpt-sic-retry").toString)
    assert(last == after1, s"retry must reproduce, got $last")
    // batch 2, original checkpoint: 31-40 extends the batch-1 cluster
    // through the SNAPSHOT hand-off (warm start from batch=0's table)
    write("f2", Seq((31L, 40L)))
    last = Map.empty
    runOnce()
    assert(last == after1 + (40L -> 30L), s"got $last")
    // store now holds snapshot batch=1; a NEW checkpoint (ids reset to
    // 0) would silently roll labels back — fail loud instead
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce(Files.createTempDirectory("graft-ckpt-sic-fresh").toString)
    }
    def rootMessages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ rootMessages(t.getCause)
    assert(rootMessages(e).exists(_.contains("checkpoint lineage")),
      s"expected lineage guard, got: ${rootMessages(e)}")
  }

  test("streaming ingest quartet: cross-batch drops through all four stores") {
    val dir = Files.createTempDirectory("graft-siq-src").toString
    val base = Files.createTempDirectory("graft-siq-store").toString + "/q"
    val ckpt = Files.createTempDirectory("graft-ckpt-siq-spec").toString
    // one distinct one-hot embedding per doc: pairwise cosine 0, so the
    // semantic stage never drops anyone here (its cross-batch hand-off
    // has its own spec) — this spec isolates the exact/near-dup/
    // substring hand-offs
    val ids = Seq(1L, 2L, 10L, 20L, 21L, 22L, 30L)
    val emb = ids.zipWithIndex.map { case (id, i) =>
      (id, Array.tabulate(8)(j => if (j == i) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val cents = Array((0, Array.fill(8)(0L))) // one cell: all collide coarse
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def write(f: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/$f")
    val out = scala.collection.mutable.Map[Long, Set[(Long, Long)]]()
    def runOnce(): Unit = {
      val src = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(dir)
      val q = EventsStreaming.streamingIngestQuartet(src, base, emb, cents,
        "text", "doc_id", threshold = 0.7, shingleN = 3,
        bands = 4, rowsPerBand = 3, L = 3, semThreshold = 0.9) { (o, b) =>
        out(b) = o.select(col("doc_id"), col("n_kept"))
          .as[(Long, Long)].collect().toSet
      }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // batch 0 (stream-first: all four stores bootstrap from nothing)
    write("f1", Seq((1L, "a1 a2 a3 a4 a5"), (2L, "b1 b2 b3 b4")))
    runOnce()
    assert(out(0L).map(_._1) == Set(1L, 2L), s"got ${out.get(0L)}")
    // batch 1
    write("f2", Seq((10L, "c1 c2 c3 c4")))
    runOnce()
    assert(out(1L).map(_._1) == Set(10L), s"got ${out.get(1L)}")
    // batch 2: doc 30 is an EXACT dup of batch-0's doc 2; doc 20 is a
    // NEAR-dup of batch-0 survivor doc 1 (3 of 4 shingles shared,
    // Jaccard 0.75 ≥ 0.7); doc 21 is fully covered by batch-1 doc 10's
    // stored windows (substring); doc 22 is fresh — only it survives
    write("f3", Seq((20L, "a1 a2 a3 a4 a5 a6"), (21L, "c2 c3 c4"),
      (30L, "b1 b2 b3 b4"), (22L, "d1 d2 d3 d4")))
    runOnce()
    assert(out(2L) == Set((22L, 4L)),
      s"cross-batch drops must span exact+neardup+substring stores, got ${out.get(2L)}")
  }

  test("compactStore: append merge and snapshot collapse read-equivalent, fresh checkpoint accepted after compaction") {
    // ---- append layout: compaction is a pure merge ----
    val aStore = Files.createTempDirectory("graft-compact-a").toString
    Seq("a", "b").toDF("fp").write.parquet(s"$aStore/batch=-1")
    Seq("c").toDF("fp").write.parquet(s"$aStore/batch=0")
    Seq("d", "e").toDF("fp").write.parquet(s"$aStore/batch=1")
    val before = spark.read.option("basePath", aStore).parquet(aStore)
      .select(col("fp")).as[String].collect().sorted.toSeq
    EventsStreaming.compactStore(spark, aStore, snapshotLayout = false)
    val afterA = spark.read.option("basePath", aStore).parquet(aStore)
    assert(afterA.select(col("fp")).as[String].collect().sorted.toSeq == before,
      "append compaction must preserve the row multiset")
    assert(afterA.select(col("batch").cast("long")).distinct()
      .as[Long].collect().toSeq == Seq(-1L),
      "all rows must land under the single bootstrap partition")
    assert(!Files.exists(java.nio.file.Paths.get(aStore + ".compacting")),
      "the temp swap directory must not survive")
    // keepBatch must stay in the bootstrap (negative) id space
    intercept[IllegalArgumentException] {
      EventsStreaming.compactStore(spark, aStore, snapshotLayout = false,
        keepBatch = 0L)
    }
    // missing path and already-flat store are no-ops
    EventsStreaming.compactStore(spark, s"$aStore-missing", snapshotLayout = false)
    val flat = Files.createTempDirectory("graft-compact-flat").toString
    Seq("z").toDF("fp").write.mode("overwrite").parquet(flat)
    EventsStreaming.compactStore(spark, flat, snapshotLayout = false)
    assert(spark.read.parquet(flat).as[String].collect().toSeq == Seq("z"))

    // ---- snapshot layout: ONLY the newest snapshot survives ----
    val sStore = Files.createTempDirectory("graft-compact-s").toString
    Seq((1L, 1L), (2L, 1L)).toDF("id", "cluster_id")
      .write.parquet(s"$sStore/batch=-1")
    Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "cluster_id")
      .write.parquet(s"$sStore/batch=0")
    EventsStreaming.compactStore(spark, sStore, snapshotLayout = true)
    val afterS = spark.read.option("basePath", sStore).parquet(sStore)
    assert(afterS.select(col("id"), col("cluster_id")).as[(Long, Long)]
      .collect().toSet == Set((1L, 1L), (2L, 1L), (3L, 1L)),
      "snapshot compaction must keep exactly the newest snapshot's table")
    assert(afterS.select(col("batch").cast("long")).distinct()
      .as[Long].collect().toSeq == Seq(-1L))

    // ---- the point of it all: a compacted store hands off to a FRESH
    // checkpoint (the lineage guard rejects the uncompacted original,
    // per the sibling specs) and its merged history stays live ----
    val subStore = Files.createTempDirectory("graft-compact-sub").toString
    graft.operators.Dedup.substringStoreRecords(
      Seq((0L, "s1 s2 s3 s4")).toDF("doc_id", "text"), "doc_id", "text", L = 3)
      .write.parquet(s"$subStore/batch=-1")
    graft.operators.Dedup.substringStoreRecords(
      Seq((100L, "x1 x2 x3 x4")).toDF("doc_id", "text"), "doc_id", "text", L = 3)
      .write.parquet(s"$subStore/batch=3")
    EventsStreaming.compactStore(spark, subStore, snapshotLayout = false)
    val dir = Files.createTempDirectory("graft-compact-src").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    // doc 7 is fully covered by the OLD batch=3 windows; doc 8 is fresh
    Seq((7L, "x2 x3 x4"), (8L, "y1 y2 y3")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/f1")
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = EventsStreaming.streamingIncrementalSubstringDedup(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(dir),
      subStore, "text", "doc_id", L = 3) { (sv, _) =>
      buf ++= sv.select(col("id"), col("n_kept")).as[(Long, Long)].collect()
    }
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-compact").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(buf.toSet == Set((7L, 0L), (8L, 3L)),
      s"fresh checkpoint over the compacted store must see merged history, got $buf")
  }

  test("streaming manifest maintenance: merged store == full-corpus digest across batches") {
    val base = Files.createTempDirectory("graft-manstream").toString
    val srcDir = s"$base/src"
    val store = s"$base/manifest"
    val ckpt = s"$base/ckpt"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("grp",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.StringType)))
    val t1 = Seq((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "z"))
    val t2 = Seq((4L, "a", "w"), (5L, "c", "v"))
    def runOnce(): Unit = {
      val q = EventsStreaming.streamingManifestMaintenance(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        store, "grp", Seq("id", "p")) { (_, _) => () }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    t1.toDF("id", "grp", "p").coalesce(1).write.parquet(s"$srcDir/f1")
    runOnce()
    t2.toDF("id", "grp", "p").coalesce(1).write.parquet(s"$srcDir/f2")
    runOnce()
    // the merged store manifest equals a single full-corpus digest —
    // the never-rescan claim, across two real micro-batches
    val merged = EventsStreaming.mergedManifest(spark, store, "grp")
      .as[(String, Long, Long, Long)].collect().toSet
    val full = graft.operators.ScaleOps.contentDigest(
      (t1 ++ t2).toDF("id", "grp", "p"), "grp", Seq("id", "p"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(merged == full, s"merged=$merged full=$full")
    // the store carries one partition per batch (the compactable
    // retry history), and a foreign checkpoint trips the lineage guard
    assert(spark.read.option("basePath", store).parquet(store)
      .select(col("batch").cast("long")).distinct().as[Long]
      .collect().toSet == Set(0L, 1L))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q2 = EventsStreaming.streamingManifestMaintenance(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        store, "grp", Seq("id", "p")) { (_, _) => () }
        .option("checkpointLocation", s"$base/ckpt-foreign")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q2.awaitTermination()
    }
    def rootMessages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ rootMessages(t.getCause)
    assert(rootMessages(e).exists(_.contains("checkpoint lineage")),
      s"expected lineage guard, got: ${rootMessages(e)}")
  }

  test("manifestAsOf: each historical fold == direct digest of data through that batch") {
    val base = Files.createTempDirectory("graft-asofstream").toString
    val srcDir = s"$base/src"
    val store = s"$base/manifest"
    val ckpt = s"$base/ckpt"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("grp",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.StringType)))
    val t0 = Seq((0L, "a", "boot"), (9L, "b", "boot2"))
    val t1 = Seq((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "z"))
    val t2 = Seq((4L, "a", "w"), (5L, "c", "v"))
    def digest(rows: Seq[(Long, String, String)]) =
      graft.operators.ScaleOps.contentDigest(
        rows.toDF("id", "grp", "p"), "grp", Seq("id", "p"))
        .as[(String, Long, Long, Long)].collect().toSet
    // bootstrap partition at batch=-1, then two real micro-batches
    graft.operators.ScaleOps.contentDigest(
      t0.toDF("id", "grp", "p"), "grp", Seq("id", "p"))
      .write.parquet(s"$store/batch=-1")
    def runOnce(): Unit = {
      val q = EventsStreaming.streamingManifestMaintenance(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        store, "grp", Seq("id", "p")) { (_, _) => () }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    t1.toDF("id", "grp", "p").coalesce(1).write.parquet(s"$srcDir/f1")
    runOnce()
    t2.toDF("id", "grp", "p").coalesce(1).write.parquet(s"$srcDir/f2")
    runOnce()
    def asOf(b: Long) =
      EventsStreaming.manifestAsOf(spark, store, "grp", b)
        .as[(String, Long, Long, Long)].collect().toSet
    assert(asOf(-1L) == digest(t0), "as-of the bootstrap = bootstrap digest")
    assert(asOf(0L) == digest(t0 ++ t1), "as-of batch 0 folds boot + batch 0")
    assert(asOf(1L) == digest(t0 ++ t1 ++ t2), "as-of batch 1 = everything")
    // as-of the far future == the merged latest; before all history == empty
    assert(asOf(Long.MaxValue) ==
      EventsStreaming.mergedManifest(spark, store, "grp")
        .as[(String, Long, Long, Long)].collect().toSet)
    assert(asOf(-2L).isEmpty, "before every retained partition = empty")
    // a store that does not exist yet is the same empty answer
    assert(EventsStreaming.manifestAsOf(spark, s"$base/nope", "grp", 5L)
      .count() == 0)
  }

  test("streaming DQ maintenance: per-batch verdicts, drift over history, lineage guard") {
    val base = Files.createTempDirectory("graft-dqstream-spec").toString
    val srcDir = s"$base/src"
    val store = s"$base/dq"
    val ckpt = s"$base/ckpt"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("txt",
        org.apache.spark.sql.types.StringType)))
    val checks = Seq("txt_nonempty" ->
      (col("txt").isNotNull && length(col("txt")) > 0))
    val t1 = Seq((1L, "aa"), (2L, "bb"), (3L, "cc"), (4L, "dd"))
    val t2 = Seq((5L, "ee"), (6L, ""), (7L, null.asInstanceOf[String]), (8L, "hh"))
    def runOnce(): Unit = {
      val q = EventsStreaming.streamingDqMaintenance(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        store, checks, completeness = Seq("txt"),
        uniqueness = Seq(Seq("id"))) { (_, _) => () }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    t1.toDF("id", "txt").coalesce(1).write.parquet(s"$srcDir/f1")
    runOnce()
    t2.toDF("id", "txt").coalesce(1).write.parquet(s"$srcDir/f2")
    runOnce()
    // one verdict partition per batch; per-batch rows == dqSuite of
    // exactly that batch (batch 1: 2 bad rows of 4 -> 5000 bp)
    val hist = EventsStreaming.readDqStore(spark, store)
    assert(hist.select(col("batch").cast("long")).distinct()
      .as[Long].collect().toSet == Set(0L, 1L))
    val b1 = hist.filter(col("batch").cast("long") === 1L)
      .select("constraint", "n_bad", "value_bp", "passed")
      .as[(String, Long, Long, Boolean)].collect().toSet
    assert(b1 == Set(
      ("check:txt_nonempty", 2L, 5000L, false),
      ("complete:txt", 1L, 7500L, false),
      ("unique:id", 0L, 10000L, true)))
    // drift: batch 1's txt_nonempty drops 5000 bp vs batch 0's 10000
    val drift = graft.operators.ScaleOps.dqDrift(hist,
      windowBatches = 3, thresholdBp = 50)
      .filter(col("constraint") === "check:txt_nonempty" &&
        col("batch") === 1L)
      .select("trail_mean_bp", "delta_bp", "anomaly")
      .as[(Long, Long, Boolean)].head()
    assert(drift == ((10000L, -5000L, true)))
    // a foreign checkpoint against the existing store trips the guard
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q2 = EventsStreaming.streamingDqMaintenance(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        store, checks) { (_, _) => () }
        .option("checkpointLocation", s"$base/ckpt-foreign")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q2.awaitTermination()
    }
    def rootMessages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ rootMessages(t.getCause)
    assert(rootMessages(e).exists(_.contains("checkpoint lineage")),
      s"expected lineage guard, got: ${rootMessages(e)}")
  }

  test("streaming per-group DQ: keyed verdicts per batch, keyed drift flags the tenant, lineage guard") {
    val base = Files.createTempDirectory("graft-dqgstream-spec").toString
    val srcDir = s"$base/src"
    val store = s"$base/dqg"
    val ckpt = s"$base/ckpt"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("src",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("txt",
        org.apache.spark.sql.types.StringType)))
    val checks = Seq("txt_nonempty" ->
      (col("txt").isNotNull && length(col("txt")) > 0))
    // batch 0: both tenants clean; batch 1: tenant A collapses (both
    // rows empty) while tenant B stays clean
    val t1 = Seq((1L, "A", "aa"), (2L, "A", "bb"), (3L, "B", "cc"), (4L, "B", "dd"))
    val t2 = Seq((5L, "A", ""), (6L, "A", ""), (7L, "B", "gg"), (8L, "B", "hh"))
    def runOnce(): Unit = {
      val q = EventsStreaming.streamingDqByGroupMaintenance(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        store, "src", checks) { (_, _) => () }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    t1.toDF("id", "src", "txt").coalesce(1).write.parquet(s"$srcDir/f1")
    runOnce()
    t2.toDF("id", "src", "txt").coalesce(1).write.parquet(s"$srcDir/f2")
    runOnce()
    // one KEYED verdict partition per batch
    val hist = EventsStreaming.readDqGroupStore(spark, store, "src")
    val b1 = hist.filter(col("batch").cast("long") === 1L)
      .select("src", "constraint", "n_bad", "value_bp", "passed")
      .as[(String, String, Long, Long, Boolean)].collect().toSet
    assert(b1 == Set(
      ("A", "check:txt_nonempty", 2L, 0L, false),
      ("B", "check:txt_nonempty", 0L, 10000L, true)))
    // keyed drift flags tenant A at batch 1, tenant B stays quiet
    val drift = graft.operators.ScaleOps.dqGroupDrift(hist, "src",
      windowBatches = 3, thresholdBp = 50)
      .filter(col("batch") === 1L)
      .select("src", "delta_bp", "anomaly")
      .as[(String, Option[Long], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(drift("A") == ((Some(-10000L), true)))
    assert(drift("B") == ((Some(0L), false)))
    // a foreign checkpoint against the existing store trips the guard
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q2 = EventsStreaming.streamingDqByGroupMaintenance(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        store, "src", checks) { (_, _) => () }
        .option("checkpointLocation", s"$base/ckpt-foreign")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q2.awaitTermination()
    }
    def rootMessages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ rootMessages(t.getCause)
    assert(rootMessages(e).exists(_.contains("checkpoint lineage")),
      s"expected lineage guard, got: ${rootMessages(e)}")
  }

  test("streaming histogram maintenance: per-batch partials, drift over history, lineage guard") {
    val base = Files.createTempDirectory("graft-histstream-spec").toString
    val srcDir = s"$base/src"
    val store = s"$base/hist"
    val ckpt = s"$base/ckpt"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    // batch 0 lives in bin 0; batch 1 moves entirely to bin 1
    val t1 = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L))
    val t2 = Seq((5L, 15L), (6L, 16L), (7L, 17L), (8L, 18L))
    def runOnce(): Unit = {
      val q = EventsStreaming.streamingHistogramMaintenance(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        store, "v", binWidth = 10L) { (_, _) => () }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    t1.toDF("id", "v").coalesce(1).write.parquet(s"$srcDir/f1")
    runOnce()
    t2.toDF("id", "v").coalesce(1).write.parquet(s"$srcDir/f2")
    runOnce()
    // one histogram partial per batch
    val hist = EventsStreaming.readHistogramStore(spark, store)
      .select(col("batch").cast("long").as("batch"), col("bin"), col("n"))
    assert(hist.as[(Long, Long, Long)].collect().toSet ==
      Set((0L, 0L, 4L), (1L, 1L, 4L)))
    // the drift fold flags the full distribution shift at batch 1
    val drift = graft.operators.ScaleOps.histogramStoreDrift(
      hist, windowBatches = 3, thresholdBp = 100L)
      .filter(col("batch") === 1L)
      .select("tv_bp", "anomaly").as[(Long, Boolean)].head()
    assert(drift == ((10000L, true)))
    // a foreign checkpoint against the existing store trips the guard
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q2 = EventsStreaming.streamingHistogramMaintenance(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        store, "v", binWidth = 10L) { (_, _) => () }
        .option("checkpointLocation", s"$base/ckpt-foreign")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q2.awaitTermination()
    }
    def rootMessages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ rootMessages(t.getCause)
    assert(rootMessages(e).exists(_.contains("checkpoint lineage")),
      s"expected lineage guard, got: ${rootMessages(e)}")
  }

  test("streaming canonical maintenance: cross-batch takeover, fresh clusters, snapshot layout") {
    val base = Files.createTempDirectory("graft-canstream-spec").toString
    val srcDir = s"$base/src"
    val lblStore = s"$base/lbl"
    val pickStore = s"$base/pick"
    val ckpt = s"$base/ckpt"
    val scores = Seq((1L, 5L), (2L, 9L), (10L, 20L), (20L, 3L), (21L, 7L))
      .toDF("doc_id", "q")
    // bootstrap: cluster {1,2}, canonical 2 (score 9)
    val boot = graft.operators.Dedup.connectedComponents(
      Seq((1L, 2L)).toDF("id1", "id2"), "id1", "id2")
    boot.write.parquet(s"$lblStore/batch=-1")
    graft.operators.Dedup.canonicalByScore(boot, scores, "doc_id", "q")
      .filter(col("is_canonical"))
      .select(col("cluster_id"), col("id").as("canonical_id"), col("score"))
      .write.parquet(s"$pickStore/batch=-1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id1",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("id2",
        org.apache.spark.sql.types.LongType)))
    def runOnce(): Unit = {
      val q = EventsStreaming.streamingCanonicalMaintenance(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        lblStore, pickStore, scores, "doc_id", "q") { (_, _) => () }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // batch 0: 10 (score 20) joins the bootstrap cluster -> TAKEOVER
    Seq((2L, 10L)).toDF("id1", "id2").coalesce(1).write.parquet(s"$srcDir/f1")
    runOnce()
    // batch 1: fresh cluster {20,21} -> its own pick (21, score 7)
    Seq((20L, 21L)).toDF("id1", "id2").coalesce(1).write.parquet(s"$srcDir/f2")
    runOnce()
    val finalPicks = EventsStreaming.readPickStore(spark, pickStore)
      .filter(col("batch").cast("long") === 1L)
      .select("cluster_id", "canonical_id", "score")
      .as[(Long, Long, Long)].collect().toSet
    assert(finalPicks == Set((1L, 10L, 20L), (20L, 21L, 7L)),
      s"got $finalPicks")
    // snapshot layout: one whole pick table per batch
    assert(EventsStreaming.readPickStore(spark, pickStore)
      .select(col("batch").cast("long")).distinct()
      .as[Long].collect().toSet == Set(-1L, 0L, 1L))
    // the batch-0 snapshot already carried the takeover
    assert(EventsStreaming.readPickStore(spark, pickStore)
      .filter(col("batch").cast("long") === 0L)
      .select("cluster_id", "canonical_id", "score")
      .as[(Long, Long, Long)].collect().toSet == Set((1L, 10L, 20L)))
  }

  test("streaming soft-dedup maintenance: merge re-weights siblings, self-loop singletons, snapshot layout") {
    val base = Files.createTempDirectory("graft-softstream-spec").toString
    val srcDir = s"$base/src"
    val store = s"$base/weights"
    val ckpt = s"$base/ckpt"
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"soft:$id".getBytes("UTF-8"))
        .take(2).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 10000
    }
    def row(id: Long, cl: Long, sz: Long) =
      (id, cl, sz, 10000L / sz, bucket(id) < 10000L / sz)
    // bootstrap: cluster {1,2} + singleton 20
    Seq(row(1L, 1L, 2L), row(2L, 1L, 2L), row(20L, 20L, 1L))
      .toDF("id", "cluster_id", "cluster_size", "weight_bp", "keep")
      .write.parquet(s"$store/batch=-1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id1",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("id2",
        org.apache.spark.sql.types.LongType)))
    def runOnce(): Unit = {
      val q = EventsStreaming.streamingSoftDedupMaintenance(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir), store) {
        (_, _) => ()
      }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // batch 0: 10 joins the stored cluster (all siblings re-weight);
    // 30 arrives pair-free as a SELF-LOOP -> full-weight singleton
    Seq((2L, 10L), (30L, 30L)).toDF("id1", "id2")
      .coalesce(1).write.parquet(s"$srcDir/f1")
    runOnce()
    // batch 1: 30 pairs with the grown cluster -> size 5
    Seq((30L, 10L)).toDF("id1", "id2")
      .coalesce(1).write.parquet(s"$srcDir/f2")
    runOnce()
    val fin = EventsStreaming.readWeightStore(spark, store)
      .filter(col("batch").cast("long") === 1L)
      .select("id", "cluster_id", "cluster_size", "weight_bp", "keep")
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    for (id <- Seq(1L, 2L, 10L, 30L))
      assert(fin(id) == ((1L, 4L, 2500L, bucket(id) < 2500L)),
        s"id $id: ${fin(id)}")
    assert(fin(20L) == ((20L, 1L, 10000L, true)), "untouched singleton verbatim")
    assert(fin.size == 5)
    // the batch-0 snapshot already carried the merge + the singleton
    val mid = EventsStreaming.readWeightStore(spark, store)
      .filter(col("batch").cast("long") === 0L)
      .select("id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(mid(10L) == ((1L, 3L)) && mid(30L) == ((30L, 1L)), s"got $mid")
    // snapshot layout: one whole weight table per batch
    assert(EventsStreaming.readWeightStore(spark, store)
      .select(col("batch").cast("long")).distinct()
      .as[Long].collect().toSet == Set(-1L, 0L, 1L))
  }

  test("streaming PCA moments: fold across real micro-batches trains bit-equal to full retrain") {
    val base = Files.createTempDirectory("graft-pcastream-spec").toString
    val srcDir = s"$base/src"
    val store = s"$base/moments"
    val dims = 4
    val emb = (0 until 45).map { i =>
      (i.toLong, Array.tabulate(dims)(d =>
        (math.sin(i * 0.9 + d * 1.7) * 0.8).toFloat))
    }.toDF("vec_id", "embedding")
    // bootstrap: tranche 0's moments at batch=-1
    graft.operators.Similarity.pcaMomentRecords(
      emb.filter(col("vec_id") % 3 === 0), "embedding", dims)
      .write.parquet(s"$store/batch=-1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    def runOnce(): Unit = {
      val q = EventsStreaming.streamingPcaMoments(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        store, "embedding", dims) { (_, _) => () }
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    emb.filter(col("vec_id") % 3 === 1).coalesce(1)
      .write.parquet(s"$srcDir/f1")
    runOnce()
    emb.filter(col("vec_id") % 3 === 2).coalesce(1)
      .write.parquet(s"$srcDir/f2")
    runOnce()
    val viaStream = graft.operators.Similarity.pcaComponentsFromMoments(
      EventsStreaming.foldedMoments(spark, store), 2, dims, iters = 6)
    val direct = graft.operators.Similarity.pcaComponents(
      emb, "vec_id", "embedding", outDims = 2, dims = dims, iters = 6)
    assert(viaStream.map(_.toSeq).toSeq == direct.map(_.toSeq).toSeq,
      "streamed moment fold must train bit-equal to a full retrain")
    // append layout: one moment table per batch
    assert(EventsStreaming.readMomentStore(spark, store)
      .select(col("batch").cast("long")).distinct()
      .as[Long].collect().toSet == Set(-1L, 0L, 1L))
  }

  test("streaming unigram counts: fold across real micro-batches trains bit-equal to full retrain") {
    val base = Files.createTempDirectory("graft-unistream-spec").toString
    val srcDir = s"$base/src"
    val store = s"$base/counts"
    val docs = Seq(
      (0L, "ab ab cd"), (1L, "cd ef ab"), (2L, "ef ef gh"),
      (3L, "ab gh gh"), (4L, "cd cd ab"), (5L, "gh ef ab"))
      .toDF("doc_id", "text")
    // bootstrap: tranche 0's dict at batch=-1
    graft.operators.Corpus.unigramWordCounts(
      docs.filter(col("doc_id") % 3 === 0), "text")
      .write.parquet(s"$store/batch=-1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def runOnce(): Unit = {
      val q = EventsStreaming.streamingUnigramCounts(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        store, "text") { (_, _) => () }
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    docs.filter(col("doc_id") % 3 === 1).coalesce(1)
      .write.parquet(s"$srcDir/f1")
    runOnce()
    docs.filter(col("doc_id") % 3 === 2).coalesce(1)
      .write.parquet(s"$srcDir/f2")
    runOnce()
    def model(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Long)].collect().toSet
    val viaStream = model(graft.operators.Corpus.unigramLmTrainFromCounts(
      EventsStreaming.foldedWordCounts(spark, store), 2, 2))
    val direct = model(graft.operators.Corpus.unigramLmTrain(
      docs, "doc_id", "text", 2, 2))
    assert(viaStream == direct,
      "streamed dict fold must train bit-equal to a full retrain")
    // append layout: one dict table per batch
    assert(EventsStreaming.readWordCountStore(spark, store)
      .select(col("batch").cast("long")).distinct()
      .as[Long].collect().toSet == Set(-1L, 0L, 1L))
  }

  test("streaming TTL dedup: cross-batch expiry readmission, observation-advance, store fold") {
    val base = Files.createTempDirectory("graft-ttlstream-spec").toString
    val srcDir = s"$base/src"
    val store = s"$base/ttl"
    val ttl = 100L
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    // bootstrap: alpha observed at t=0 (batch=-1)
    graft.operators.Dedup.ttlStoreRecords(
      Seq((0L, "alpha", ts(0))).toDF("doc_id", "text", "ts"), "text", "ts")
      .write.parquet(s"$store/batch=-1")
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    def runOnce(): Unit = {
      val q = EventsStreaming.streamingTtlDedup(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        store, "text", "doc_id", "ts", ttl) { (sv, _) =>
        got ++= sv.select("doc_id").as[Long].collect()
      }
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // batch 0: within-window repeat vs the BOOTSTRAP -> drops, but its
    // observation advances the chain; a fresh fp survives
    Seq((1L, "alpha", ts(80)), (2L, "beta", ts(10)))
      .toDF("doc_id", "text", "ts").coalesce(1).write.parquet(s"$srcDir/f1")
    runOnce()
    // batch 1: alpha at t=150 is >ttl after the bootstrap (t=0) but
    // only 70s after batch 0's NON-SURVIVING observation (t=80) ->
    // still a dup (the store tracks observations, not survivors);
    // alpha at t=300 is >ttl after t=150 -> READMITTED after expiry
    Seq((3L, "alpha", ts(150)), (4L, "alpha", ts(300)))
      .toDF("doc_id", "text", "ts").coalesce(1).write.parquet(s"$srcDir/f2")
    runOnce()
    assert(got.toSet == Set(2L, 4L), s"got ${got.toSet}")
    // the folded store carries each fp's LATEST observation
    val folded = EventsStreaming.readTtlStore(spark, store)
      .groupBy(col("fp")).agg(max(col("last_ts")).as("last_ts"))
      .as[(String, Long)].collect().toMap
    assert(folded.values.toSet == Set(300000000L, 10000000L),
      s"folded store must hold max observation micros per fp: $folded")
  }

  test("streaming video near-dup: cross-batch store hand-off through two real micro-batches") {
    val base = Files.createTempDirectory("graft-vidstream-spec").toString
    val srcDir = s"$base/src"
    val store = s"$base/sigs"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("fhash",
        org.apache.spark.sql.types.LongType)))
    // bootstrap: video 100 = {1,2,3,4}
    Seq((100L, 1L), (100L, 2L), (100L, 3L), (100L, 4L))
      .toDF("media_id", "fhash").write.parquet(s"$store/batch=-1")
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    def runOnce(): Unit = {
      val q = EventsStreaming.streamingIncrementalVideoNearDup(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        store, threshold = 0.5) { (sv, _) =>
        got ++= sv.select("media_id").distinct().as[Long].collect()
      }
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // batch 0: 10 drops vs the bootstrap (J=3/5); 11 is fresh and
    // SURVIVES into the store
    Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 9L),
      (11L, 50L), (11L, 51L), (11L, 52L))
      .toDF("media_id", "fhash").coalesce(1).write.parquet(s"$srcDir/f1")
    runOnce()
    // batch 1: 20 drops vs batch-0 SURVIVOR 11 (the cross-batch
    // hand-off — J=2/4); 21 fresh
    Seq((20L, 50L), (20L, 51L), (20L, 99L), (21L, 70L), (21L, 71L))
      .toDF("media_id", "fhash").coalesce(1).write.parquet(s"$srcDir/f2")
    runOnce()
    assert(got.toSet == Set(11L, 21L), s"got ${got.toSet}")
    // the store holds bootstrap + survivors' signature rows only
    val kept = EventsStreaming.readVideoSigStore(spark, store)
      .select("media_id").distinct().as[Long].collect().toSet
    assert(kept == Set(100L, 11L, 21L), s"store: $kept")
  }

  test("streaming IVF-PQ codes maintenance: frozen-index append across batches == rebuild") {
    import graft.operators.Similarity
    val base = Files.createTempDirectory("graft-ivfpqstream-spec").toString
    val srcDir = s"$base/src"
    val store = s"$base/codes"
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val (coarse, books) = Similarity.ivfPqIndex(emb, "vec_id", "embedding",
      dims = 64, cells = 4, cellIters = 2, m = 4, codes = 8, pqIters = 2)
    // bootstrap slice under batch=-1 (the negative-id convention)
    Similarity.ivfPqCodes(emb.filter(col("vec_id") % 3 === 0),
        "vec_id", "embedding", coarse, books)
      .write.parquet(s"$store/batch=-1")
    def runOnce(): Unit = {
      val q = EventsStreaming.streamingIncrementalIvfPqCodes(
        spark.readStream.schema(emb.schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        store, coarse, books) { (_, _) => () }
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    emb.filter(col("vec_id") % 3 === 1).coalesce(1)
      .write.parquet(s"$srcDir/f1")
    runOnce()
    emb.filter(col("vec_id") % 3 === 2).coalesce(1)
      .write.parquet(s"$srcDir/f2")
    runOnce()
    // the streamed store IS the full rebuild, row for row — the
    // frozen-index encode is arrival-time-invariant
    def codeRows(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Seq[Long])] =
      df.select("vec_id", "cell", "codes")
        .as[(Long, Long, Seq[Long])].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val streamed = EventsStreaming.readCodesStore(spark, store)
    assert(codeRows(streamed) == codeRows(
      Similarity.ivfPqCodes(emb, "vec_id", "embedding", coarse, books)))
    // ...and so is the probe it serves
    val qs = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def probe(codes: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      Similarity.ivfPqTopKFromCodes(
          codes.select("vec_id", "cell", "codes"), emb, qs, k = 10,
          coarse, books, nprobe = 2, coarseK = 50)
        .select("q_id", "vec_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    assert(probe(streamed) == probe(
      Similarity.ivfPqCodes(emb, "vec_id", "embedding", coarse, books)))
    // snapshot layout: bootstrap + one partition per micro-batch
    assert(streamed.select(col("batch").cast("long")).distinct()
      .as[Long].collect().toSet == Set(-1L, 0L, 1L))
  }

  test("streaming canonical maintenance honors non-default pair column names") {
    // regression: the picks path used to hardcode id1/id2 and fail
    // with an AnalysisException when the stream named its pair
    // columns differently from the labels path
    val base = Files.createTempDirectory("graft-cannames-spec").toString
    val srcDir = s"$base/src"
    val scores = Seq((1L, 5L), (2L, 9L)).toDF("doc_id", "q")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("src",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("dst",
        org.apache.spark.sql.types.LongType)))
    Seq((1L, 2L)).toDF("src", "dst").coalesce(1).write.parquet(s"$srcDir/f1")
    val q = EventsStreaming.streamingCanonicalMaintenance(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(srcDir),
      s"$base/lbl", s"$base/pick", scores, "doc_id", "q",
      id1 = "src", id2 = "dst") { (_, _) => () }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val picks = EventsStreaming.readPickStore(spark, s"$base/pick")
      .select("cluster_id", "canonical_id", "score")
      .as[(Long, Long, Long)].collect().toSet
    assert(picks == Set((1L, 2L, 9L)), s"got $picks")
  }

  test("streaming fingerprint near-dup: cross-batch store dedup, survivors append, lineage guard") {
    val base = Files.createTempDirectory("graft-fpstream-spec").toString
    val srcDir = s"$base/src"
    val store = s"$base/fp"
    val ckpt = s"$base/ckpt"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("phash",
        org.apache.spark.sql.types.LongType)))
    // bootstrap: one stored hash at batch=-1
    Seq((100L, 0xABCL)).toDF("id", "sig")
      .write.parquet(s"$store/batch=-1")
    // batch 0: 10 drops vs bootstrap (hamming 2), 11 survives
    val t1 = Seq((10L, 0xABCL ^ 0x5L), (11L, 0x321L))
    // batch 1: 20 drops vs batch-0 SURVIVOR 11 (hamming 1 — the
    // cross-batch store hand-off), 21 fresh
    val t2 = Seq((20L, 0x321L ^ 0x1L), (21L, 0x7FFL))
    def runOnce(): Unit = {
      val q = EventsStreaming.streamingIncrementalFingerprintNearDup(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        store, "media_id", "phash", bits = 12, bands = 4, maxDist = 3) {
        (_, _) => ()
      }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    t1.toDF("media_id", "phash").coalesce(1).write.parquet(s"$srcDir/f1")
    runOnce()
    t2.toDF("media_id", "phash").coalesce(1).write.parquet(s"$srcDir/f2")
    runOnce()
    val got = EventsStreaming.readFingerprintStore(spark, store)
      .select(col("id"), col("sig"),
        col("batch").cast("long").as("batch"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set(
      (100L, 0xABCL, -1L),
      (11L, 0x321L, 0L),
      (21L, 0x7FFL, 1L)),
      s"store must hold bootstrap + per-batch survivors, got $got")
    // a foreign checkpoint against the existing store trips the guard
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q2 = EventsStreaming.streamingIncrementalFingerprintNearDup(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        store, "media_id", "phash", bits = 12, bands = 4, maxDist = 3) {
        (_, _) => ()
      }
        .option("checkpointLocation", s"$base/ckpt-foreign")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q2.awaitTermination()
    }
    def rootMessages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ rootMessages(t.getCause)
    assert(rootMessages(e).exists(_.contains("checkpoint lineage")),
      s"expected lineage guard, got: ${rootMessages(e)}")
  }

  test("streaming quarantine: map-side split, dead-letter audit per batch, lineage guard") {
    val base = Files.createTempDirectory("graft-quar-spec").toString
    val srcDir = s"$base/src"
    val store = s"$base/dead"
    val ckpt = s"$base/ckpt"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("txt",
        org.apache.spark.sql.types.StringType)))
    val checks = Seq("txt_nonempty" ->
      (col("txt").isNotNull && length(col("txt")) > 0))
    val t1 = Seq((1L, "aa"), (2L, ""), (3L, "cc"))
    val t2 = Seq((4L, null.asInstanceOf[String]), (5L, "ee"))
    val validSeen = scala.collection.mutable.Map[Long, Set[Long]]()
    def runOnce(): Unit = {
      val q = EventsStreaming.streamingQuarantine(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        store, checks) { (ok, b) =>
        validSeen(b) = ok.select("id").as[Long].collect().toSet
      }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    t1.toDF("id", "txt").coalesce(1).write.parquet(s"$srcDir/f1")
    runOnce()
    t2.toDF("id", "txt").coalesce(1).write.parquet(s"$srcDir/f2")
    runOnce()
    // valid rows reached the sink unchanged; quarantined rows landed
    // in the dead-letter store with reasons, one partition per batch
    assert(validSeen(0L) == Set(1L, 3L) && validSeen(1L) == Set(5L))
    val dead = EventsStreaming.readDeadLetterStore(spark, store, schema)
      .select(col("id"), col("batch").cast("long"),
        array_join(col("_violations"), ","))
      .as[(Long, Long, String)].collect().toSet
    assert(dead == Set(
      (2L, 0L, "txt_nonempty"),
      (4L, 1L, "txt_nonempty")))
    // a foreign checkpoint against the existing store trips the guard
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q2 = EventsStreaming.streamingQuarantine(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        store, checks) { (_, _) => () }
        .option("checkpointLocation", s"$base/ckpt-foreign")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q2.awaitTermination()
    }
    def rootMessages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ rootMessages(t.getCause)
    assert(rootMessages(e).exists(_.contains("checkpoint lineage")),
      s"expected lineage guard, got: ${rootMessages(e)}")
  }

  test("compactStore: interrupted swap never silently bootstraps empty history") {
    // simulate a crash mid-swap: the live store has renamed to .old,
    // the compacted content has not renamed in yet — the store path is
    // missing but a complete copy survives next door. The readers must
    // FAIL LOUD (bootstrapping empty would re-admit every duplicate),
    // and compactStore itself must refuse to treat it as
    // nothing-to-compact.
    val base = Files.createTempDirectory("graft-compact-crash").toString
    val store = s"$base/exact"
    Seq("a", "b").toDF("fp").write.parquet(s"$store.old/batch=-1")
    val e1 = intercept[IllegalStateException] {
      EventsStreaming.readExactStore(spark, store)
    }
    assert(e1.getMessage.contains("interrupted compactStore"),
      s"reader must name the swap debris, got: ${e1.getMessage}")
    val e2 = intercept[IllegalStateException] {
      EventsStreaming.compactStore(spark, store, snapshotLayout = false)
    }
    assert(e2.getMessage.contains("interrupted swap"))
    // .compacting debris alone (crash before the first rename would
    // leave the live store intact; this covers the delete-crash shape)
    val store2 = s"$base/sem"
    Seq("c").toDF("fp").write.parquet(s"$store2.compacting/batch=-1")
    intercept[IllegalStateException] {
      EventsStreaming.readExactStore(spark, store2)
    }
    // recovery = renaming the surviving copy back, after which reads
    // resume with full history; a genuinely-missing store (no debris)
    // still bootstraps empty-with-schema
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$store.old"),
      new org.apache.hadoop.fs.Path(store)))
    assert(EventsStreaming.readExactStore(spark, store)
      .select(col("fp")).as[String].collect().sorted.toSeq == Seq("a", "b"))
    assert(EventsStreaming.readExactStore(spark, s"$base/fresh").count() == 0L)
  }

  test("store reads pass the declared schema: no Spark job, batch column kept, empty store next to debris fails loud") {
    val base = Files.createTempDirectory("graft-store-read").toString
    val store = s"$base/labels"
    Seq((1L, 1L), (2L, 1L)).toDF("id", "cluster_id").write.parquet(s"$store/batch=0")
    Seq((3L, 3L)).toDF("id", "cluster_id").write.parquet(s"$store/batch=1")
    val (labels, jobs) = org.apache.spark.JobCount(spark.sparkContext) {
      EventsStreaming.readLabelStore(spark, store)
    }
    assert(jobs == 0, s"store read ran $jobs Spark jobs")
    // the schema (order, types, partition column) the inferring read sees
    assert(labels.schema == spark.read.option("basePath", store).parquet(store).schema)
    assert(labels.columns.toSeq == Seq("id", "cluster_id", "batch"))
    assert(labels.select(col("id")).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // an existing store directory holding no data files reads as
    // empty — unless compactStore swap debris sits next to it
    val empty = s"$base/exact"
    Files.createDirectories(java.nio.file.Paths.get(empty))
    val fresh = EventsStreaming.readExactStore(spark, empty)
    assert(fresh.columns.toSeq == Seq("fp") && fresh.count() == 0L)
    Seq("a").toDF("fp").write.parquet(s"$empty.old/batch=-1")
    val e = intercept[IllegalStateException](EventsStreaming.readExactStore(spark, empty))
    assert(e.getMessage.contains("interrupted compactStore"))
  }

  test("stateful sessionize emits closed sessions matching batch") {
    val ckpt = Files.createTempDirectory("graft-ckpt-sess").toString
    val evStream = spark.readStream.schema(EventsStreaming.eventSchema)
      .parquet(eventsDir)
      .select(col("user_id"), col("ts"), col("value"))
      .as[EventsStreaming.Ev]
    val q = EventsStreaming.sessionize(evStream, gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("sessions_out")
      .select(col("user_id"), unix_timestamp(col("session_start")).as("start_s"),
        col("n_events").cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    val batch = EventsStreaming.sessionizeBatch(
      spark.read.parquet(eventsDir), gapMinutes = 30)
      .select(col("user_id"), unix_timestamp(col("session_start")).as("start_s"),
        col("n_events").cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    // the stream only closes sessions the final watermark passed;
    // everything it emitted must be a real batch session
    assert(streamed.subsetOf(batch))
    assert(streamed.nonEmpty)
  }

  test("transformWithState running totals == batch cumulative window, exactly") {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ckpt = Files.createTempDirectory("graft-ckpt-tws").toString
      val src = spark.readStream.schema(EventsStreaming.eventSchema)
        .parquet(eventsDir)
      val q = EventsStreaming.runningTotals(src)
        .writeStream.format("memory").queryName("tws_out")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val streamed = spark.table("tws_out")
        .as[(Long, Long, Long, Double)].collect().toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val batch = spark.read.parquet(eventsDir)
        .select(col("event_id"), col("user_id"),
          row_number().over(w).cast("long").as("run_n"),
          sum(col("value").cast("decimal(20,2)")).over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
            .cast("double").as("run_sum"))
        .as[(Long, Long, Long, Double)].collect().toSet
      // EXACT equality: integer-cents state means no fold-order noise
      assert(streamed == batch)
      assert(streamed.size == spark.read.parquet(eventsDir).count())
    } finally {
      prev match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
    }
  }
}
