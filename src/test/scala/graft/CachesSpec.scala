package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Caches
import graft.operators.{Dedup, Similarity}

class CachesSpec extends SparkSpec {
  import spark.implicits._

  test("release drops graft-internal caches but leaves caller caches alone") {
    Caches.release(spark) // drain anything earlier suites tracked
    assert(Caches.trackedCount(spark) == 0)

    // a caller-owned cache that must SURVIVE release — the reason the
    // hook exists instead of telling library users to clearCache()
    val mine = spark.range(100).toDF("id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    mine.count()

    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val surv = Similarity.semanticDedup(emb, k = 4, iters = 2, threshold = 0.35)
    assert(surv.count() > 0)
    assert(Caches.trackedCount(spark) >= 1,
      "semanticDedup must register its escaping persisted intermediate")

    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .limit(50)
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.7)
    pairs.count()
    assert(Caches.trackedCount(spark) >= 3,
      "minhashNearDupPairs must register base + candidate caches")

    Caches.release(spark)
    assert(Caches.trackedCount(spark) == 0, "release must drain the registry")
    // release is idempotent and safe on an empty registry
    Caches.release(spark)

    assert(mine.storageLevel != StorageLevel.NONE,
      "caller-owned cache must survive Caches.release")
    mine.unpersist()
  }

  test("connectedComponents registers exactly its surviving label frame") {
    Caches.release(spark)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (12L, 13L), (13L, 14L),
      (20L, 21L), (21L, 22L), (30L, 31L))
      .toDF("id1", "id2")
    // force the distributed path (several supersteps) with a tiny gate
    val cc = Dedup.connectedComponents(pairs, "id1", "id2", localThreshold = 0)
    assert(cc.count() > 0)
    // per-round frames are eagerly released in-loop (category 1); ONLY
    // the final escaping frame may sit in the registry
    assert(Caches.trackedCount(spark) == 1,
      s"CC must register exactly the survivor, got ${Caches.trackedCount(spark)}")
    Caches.release(spark)
  }

  test("composed pipeline: one release drains every tracked intermediate") {
    Caches.release(spark)
    val sfDir = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.documents(spark, sfDir).limit(50)
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    // compose operators from every persistTracked family: dedup pair
    // finders, semantic dedup, seed-model text analysis, classifier
    // training, graph traversal (localThreshold = 0: the distributed
    // loops, whose frames register; the small-graph path holds none)
    graft.operators.Dedup.minhashNearDupPairs(docs, "doc_id", "text",
      threshold = 0.7).count()
    graft.operators.Similarity.semanticDedup(emb, k = 4, iters = 2,
      threshold = 0.35).count()
    graft.operators.Corpus.ngramPerplexity(docs,
      docs.filter(col("doc_id") % 5 === 0), "doc_id", "text").count()
    graft.operators.Corpus.linearQualityWeights(
      docs.filter(col("doc_id") % 5 === 0),
      docs.filter(col("doc_id") % 5 =!= 0), "text").count()
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("d", "e"))
      .toDF("s", "d")
    graft.graph.Traversal.labelPropagation(edges, "s", "d", iters = 2,
      localThreshold = 0L).count()
    graft.operators.Dedup.incrementalExactDedup(docs,
      docs.limit(5).select(graft.functions.TextFunctions
        .fingerprintMd5(col("text")).as("fp")), "text", "doc_id").count()
    // round-10 cat-2 families: incremental semantic dedup, boilerplate
    // lines, token-budget prefix sums, HITS edge/vertex frames
    val cents = graft.operators.Clustering.kmeansCentroidsFixed(
      emb, "vec_id", "embedding", k = 2, iters = 1)
    graft.operators.Similarity.incrementalSemanticDedup(
      emb.filter(col("vec_id") % 3 =!= 0),
      graft.operators.Similarity.semanticStoreRecords(
        emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", cents),
      cents, threshold = 0.35).count()
    graft.operators.Dedup.boilerplateRemoval(docs, "doc_id", "text", 3L).count()
    graft.operators.ScaleOps.tokenBudgetFilter(docs, "doc_id",
      graft.functions.TextFunctions.tokenCount(col("text")), lit(1L), 500L).count()
    graft.graph.Traversal.hits(edges, "s", "d", iters = 1,
      localThreshold = 0L).count()
    assert(Caches.trackedCount(spark) >= 10,
      s"expected every family to register, got ${Caches.trackedCount(spark)}")
    Caches.release(spark)
    assert(Caches.trackedCount(spark) == 0,
      "one release must drain the whole composed pipeline's registry")
  }

  test("registry sheds sessions whose context has stopped (injected probe)") {
    Caches.release(spark)
    // a second session: the registry keys by SparkSession, so it gets
    // its own entry. A genuinely STOPPED second context is impossible
    // in this shared JVM (one SparkContext, and the suite owns it), so
    // the eviction path is pinned by injecting the stopped-probe;
    // production sweepStopped() is the same sweep with
    // `_.sparkContext.isStopped` as the probe.
    val s2 = spark.newSession()
    val tracked = Caches.persistTracked(s2.range(10).toDF("id"))
    assert(Caches.trackedCount(s2) == 1)
    assert(Caches.trackedCount(spark) == 0,
      "the second session's entry must not leak into the main session")
    // the real probe is a no-op while the context is alive
    Caches.sweepForTest(s => s.sparkContext.isStopped)
    assert(Caches.trackedCount(s2) == 1)
    // "stop" s2: its registry entry is shed, other sessions untouched
    Caches.persistTracked(spark.range(5).toDF("id"))
    Caches.sweepForTest(s => s eq s2)
    assert(Caches.trackedCount(s2) == 0, "stopped session must be swept")
    assert(Caches.trackedCount(spark) == 1, "live sessions must survive the sweep")
    // the shared context actually lives on — free the blocks manually
    tracked.unpersist(blocking = false)
    Caches.release(spark)
    Caches.release(s2)
  }

  test("releaseScoped frees only the frames tracked inside the scope") {
    Caches.release(spark)
    val outer = Caches.persistTracked(spark.range(5).toDF())
    outer.count()
    assert(Caches.trackedCount(spark) == 1)
    val r = Caches.releaseScoped {
      val inner = Caches.persistTracked(spark.range(7).toDF())
      inner.count()
      assert(Caches.trackedCount(spark) == 2)
      42
    }
    assert(r == 42)
    // the scope's frame is gone from the registry; the outer survives
    assert(Caches.trackedCount(spark) == 1)
    assert(outer.storageLevel.useMemory,
      "caller-tracked frame must stay cached across a scoped release")
    // cleanup runs even when the body throws
    intercept[RuntimeException] {
      Caches.releaseScoped[Unit] {
        Caches.persistTracked(spark.range(9).toDF()).count()
        throw new RuntimeException("boom")
      }
    }
    assert(Caches.trackedCount(spark) == 1)
    // frames tracked CONCURRENTLY on another thread while a scope is
    // open must NOT be swept by this thread's scope exit — scope
    // identity is thread identity
    @volatile var other: org.apache.spark.sql.DataFrame = null
    Caches.releaseScoped[Unit] {
      val t = new Thread(() => {
        other = Caches.persistTracked(spark.range(11).toDF())
        other.count()
      })
      t.start(); t.join()
      Caches.persistTracked(spark.range(13).toDF()).count()
    }
    assert(other.storageLevel.useMemory,
      "a concurrent operator's frame must survive a foreign scope exit")
    assert(Caches.trackedCount(spark) == 2) // outer + other
    Caches.release(spark)
  }

  test("released plans still compute correctly (recompute, not corruption)") {
    Caches.release(spark)
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val surv = Similarity.semanticDedup(emb, k = 4, iters = 2, threshold = 0.35)
    val before = surv.as[(Long, Long)].collect().toMap
    Caches.release(spark)
    // acting on the SAME frame after release recomputes through the
    // now-unpersisted lineage and must agree
    val after = surv.as[(Long, Long)].collect().toMap
    assert(before == after)
    Caches.release(spark)
  }

  test("memoizedTable: builds once per key, rows identical, survives clearCache") {
    var builds = 0
    def build() = { builds += 1; spark.range(50).toDF("id")
      .select(col("id"), (col("id") * 3 % 7).as("v")) }
    val key = s"spec-memo-${System.identityHashCode(this)}"
    val first = Caches.memoizedTable(spark, key)(build())
      .as[(Long, Long)].collect().toSet
    // clearCache between harness queries must NOT evict the spill
    spark.catalog.clearCache()
    val second = Caches.memoizedTable(spark, key) {
      fail("second call must reuse the spilled table"); build()
    }.as[(Long, Long)].collect().toSet
    assert(builds == 1)
    assert(first == second && first.size == 50)
    // a different key is a different table
    val other = Caches.memoizedTable(spark, key + ":other")(
      spark.range(3).toDF("id").select(col("id"), col("id").as("v")))
      .as[(Long, Long)].collect().toSet
    assert(other.size == 3)
  }

  test("memoizedTable: re-entrant builds and failed-build retry (ADVICE r19)") {
    val key = s"spec-memo-reent-${System.identityHashCode(this)}"
    // a build that itself memoizes a sub-table must not corrupt the
    // memo or deadlock (the old computeIfAbsent-under-lock shape was
    // undefined for exactly this re-entry)
    val outer = Caches.memoizedTable(spark, key) {
      val inner = Caches.memoizedTable(spark, key + ":inner")(
        spark.range(4).toDF("id"))
      inner.select(col("id"), (col("id") + 100).as("v"))
    }.as[(Long, Long)].collect().toSet
    assert(outer == (0L until 4L).map(i => (i, i + 100)).toSet)
    // a failed build withdraws its reservation: the next caller with
    // the same key runs a fresh build instead of inheriting the error
    val failKey = key + ":fail"
    intercept[RuntimeException] {
      Caches.memoizedTable(spark, failKey) {
        throw new RuntimeException("boom")
      }
    }
    val retried = Caches.memoizedTable(spark, failKey)(
      spark.range(2).toDF("id").select(col("id"), col("id").as("v")))
      .as[(Long, Long)].collect().toSet
    assert(retried.size == 2)
  }

  test("runConcurrently: a failure cancels and awaits every sibling before it surfaces") {
    val siblingRunning = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      Caches.runConcurrently[Long](Seq(
        () => {
          // fail only once the sibling's job is running
          val deadline = System.nanoTime() + 30000000000L
          while (sc.statusTracker.getActiveStageIds().isEmpty &&
            System.nanoTime() < deadline) Thread.sleep(20)
          throw new IllegalStateException("boom")
        },
        () => {
          siblingRunning.set(true)
          // tasks that run 60 s unless their job is cancelled
          try spark.range(0, 4, 1, 4).mapPartitions { it =>
            val ctx = org.apache.spark.TaskContext.get()
            val end = System.nanoTime() + 60000000000L
            while (!ctx.isInterrupted() && System.nanoTime() < end) Thread.sleep(20)
            it
          }.count()
          finally siblingRunning.set(false)
        }))
    }
    assert(err.getMessage == "boom", "the first failure must surface unwrapped")
    assert(!siblingRunning.get(),
      "a sibling thunk was still running when the failure surfaced")
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 45, s"the sibling's job was not cancelled (${secs}s)")
    // results still come back in input order on success
    assert(Caches.runConcurrently(Seq(() => 1, () => 2, () => 3), slots = 2) == Seq(1, 2, 3))
  }
}
