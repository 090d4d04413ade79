package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.functions.TextFunctions

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "The  Quick   Brown Fox jumps over the lazy dog"), // dup modulo case/space
    (4L, "the quick brown fox jumps over the sleepy dog"),  // near-dup (1 token)
    (5L, "completely different content about spark engines entirely"))
    .toDF("doc_id", "text")

  test("lineDedup: first occurrence survives, docs reassemble in order") {
    val multi = Seq(
      (1L, "alpha\nshared line\nbeta"),
      (2L, "shared line\ngamma"),      // loses "shared line" to doc 1
      (3L, "shared line"))              // fully claimed -> drops out
      .toDF("doc_id", "text")
    val got = Dedup.lineDedup(multi, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "alpha\nshared line\nbeta",
      2L -> "gamma"))
  }

  test("boilerplateRemoval: high-DF lines vanish everywhere, every doc survives") {
    val multi = Seq(
      (1L, "COOKIE\nalpha\nbeta"),
      (2L, "COOKIE\ngamma"),
      (3L, "COOKIE\ndelta\nalpha"),    // "alpha" df=2 < 3 -> kept
      (4L, "COOKIE"),                   // all-boilerplate -> empty text
      (5L, null.asInstanceOf[String]))  // null reads as empty
      .toDF("doc_id", "text")
    val got = Dedup.boilerplateRemoval(multi, "doc_id", "text", minDocFreq = 3L)
      .as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "alpha\nbeta",
      2L -> "gamma",
      3L -> "delta\nalpha",
      4L -> "",
      5L -> ""))
    // unlike lineDedup, the FIRST occurrence is removed too
    assert(!got(1L).contains("COOKIE"))
    intercept[IllegalArgumentException] {
      Dedup.boilerplateRemoval(multi, "doc_id", "text", minDocFreq = 1L)
    }
  }

  test("exact dedup keeps lowest id per normalized content") {
    val got = Dedup.exactDedup(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 4L, 5L)) // 2 and 3 collapse into 1
  }

  test("incremental dedup: drops prior-seen, resolves in-batch, keeps fresh") {
    val prior = Seq((100L, "already ingested content here"))
      .toDF("doc_id", "text")
      .select(TextFunctions.fingerprintMd5(col("text")).as("fp"))
    val batch = Seq(
      (1L, "already ingested content here"),   // dupe of prior -> drop
      (2L, "brand new document alpha"),         // fresh
      (3L, "brand new document alpha"),         // in-batch dupe of 2 -> drop
      (4L, "another fresh document"))           // fresh
      .toDF("doc_id", "text")
    val got = Dedup.incrementalExactDedup(batch, prior, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(2L, 4L))
    // emitted fp matches the fingerprint the store expects to append
    val fps = Dedup.incrementalExactDedup(batch, prior, "text", "doc_id")
      .select("fp").as[String].collect()
    assert(fps.forall(_.length == 32))
  }

  test("incremental dedup: empty prior store keeps the whole deduped batch") {
    val prior = Seq.empty[(Long, String)].toDF("doc_id", "text")
      .select(TextFunctions.fingerprintMd5(col("text")).as("fp"))
    val batch = Seq((1L, "aa"), (2L, "aa"), (3L, "bb")).toDF("doc_id", "text")
    val got = graft.operators.Dedup.incrementalExactDedup(
      batch, prior, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 3L))
  }

  test("incremental dedup: fp column clash fails loud (default and custom fpCol)") {
    val prior = Seq((1L, "x")).toDF("doc_id", "text")
      .select(TextFunctions.fingerprintMd5(col("text")).as("fp"))
    val batch = Seq((1L, "x", "boom")).toDF("doc_id", "text", "fp")
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalExactDedup(batch, prior, "text", "doc_id")
    }
    assert(e.getMessage.contains("collide"))
    // custom fpCol: the guard must protect THAT name, and an existing
    // "fp" column is then harmless
    val priorH = prior.withColumnRenamed("fp", "hash")
    val clash = Seq((1L, "x", "boom")).toDF("doc_id", "text", "hash")
    assert(intercept[IllegalArgumentException] {
      Dedup.incrementalExactDedup(clash, priorH, "text", "doc_id", fpCol = "hash")
    }.getMessage.contains("collide"))
    val ok = Dedup.incrementalExactDedup(batch, priorH, "text", "doc_id",
      fpCol = "hash")
    assert(ok.columns.count(_ == "hash") == 1 && ok.count() == 0)
  }

  test("incremental dedup: null text routes fresh and keeps one survivor") {
    val prior = Seq((100L, "seen before")).toDF("doc_id", "text")
      .select(TextFunctions.fingerprintMd5(col("text")).as("fp"))
    val batch = Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]),
      (3L, "seen before"), (4L, "fresh doc")).toDF("doc_id", "text")
    // null fp never matches a stored fp (plain anti-join semantics);
    // the null group resolves to its lowest id like exactDedup
    val got = Dedup.incrementalExactDedup(batch, prior, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 4L))
  }

  test("ngram jaccard finds the near-dup pair, skips unrelated") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)) || pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("ngram jaccard exact value") {
    val two = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    // 3-shingles: {a b c, b c d} vs {a b c, b c e} -> 1 / 3
    val got = Dedup.ngramJaccardPairs(two, "doc_id", "text", threshold = 0.1)
      .select("jaccard").as[Double].collect()
    assert(got.toSeq == Seq(0.333333))
  }

  test("minhash LSH candidates include identical docs; verified pairs carry jaccard=1") {
    val got = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(got.contains((1L, 2L, 1.0)))
    assert(got.contains((1L, 3L, 1.0))) // normalization collapses case/space
    assert(!got.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("simhash: identical docs have distance 0; near-dups small distance") {
    val sigs = docs.select(col("doc_id"),
      Dedup.simhash60(col("text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) == sigs(3L))
    val d14 = java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))
    val d15 = java.lang.Long.bitCount(sigs(1L) ^ sigs(5L))
    assert(d14 < d15, s"near-dup hamming $d14 should beat unrelated $d15")
  }

  test("fingerprintNearDupPairs: lossless banding over arbitrary hashes, phash application") {
    // 12-bit fingerprints (the X123/X124 perceptual-hash width), 4
    // bands of 3: pigeonhole guarantees every pair at hamming <= 3
    // shares a band
    val hashes = Seq(
      (1L, 0xABCL),            // base
      (2L, 0xABCL),            // identical -> hamming 0
      (3L, 0xABCL ^ 0x5L),     // 2 bits flipped in band 0 -> hamming 2
      (4L, 0xABCL ^ 0x841L))   // 3 bits flipped across 3 bands -> hamming 3
      .toDF("media_id", "phash")
    val got = Dedup.fingerprintNearDupPairs(hashes, "media_id", "phash",
      bits = 12, bands = 4, maxDist = 3)
      .as[(Long, Long, Int)].collect().toSet
    // brute force at the same threshold
    val rows = Seq((1L, 0xABCL), (2L, 0xABCL), (3L, 0xABCL ^ 0x5L), (4L, 0xABCL ^ 0x841L))
    val brute = (for {
      (i, hi) <- rows; (j, hj) <- rows if i < j
      h = java.lang.Long.bitCount(hi ^ hj) if h <= 3
    } yield (i, j, h)).toSet
    assert(got == brute, s"banded $got must equal brute-force $brute")
    assert(got.contains((1L, 2L, 0)) && got.contains((1L, 3L, 2)) && got.contains((1L, 4L, 3)))
    // losslessness guard: bands must exceed maxDist
    intercept[IllegalArgumentException] {
      Dedup.fingerprintNearDupPairs(hashes, "media_id", "phash",
        bits = 12, bands = 3, maxDist = 3)
    }
    intercept[IllegalArgumentException] {
      Dedup.fingerprintNearDupPairs(hashes, "media_id", "phash",
        bits = 12, bands = 5, maxDist = 2)
    }
  }

  test("incrementalFingerprintNearDup: store drops, pairwise in-batch rule, empty store == batch pass") {
    // 12-bit fingerprints (the audio X124 width — the generic op IS
    // the audio/image store form), 4 bands of 3, maxDist 3
    val base = 0xABCL
    val store = Seq((100L, base)).toDF("id", "sig")
    val batch = Seq(
      (10L, base ^ 0x5L),          // hamming 2 vs store -> drops
      (11L, 0x321L),               // fresh
      (12L, 0x321L ^ 0x1L),        // hamming 1 vs batch 11 -> drops (larger id)
      (13L, 0x7FFL))               // fresh
      .toDF("media_id", "phash")
    val got = graft.operators.Dedup.incrementalFingerprintNearDup(
      batch, store, "media_id", "phash", bits = 12, bands = 4, maxDist = 3)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((11L, 0x321L), (13L, 0x7FFL)))
    // chain a≈b≈c with a !≈ c: BOTH b and c drop, each against its
    // smaller-id neighbour (the pairwise rule, not transitive closure)
    val chain = Seq(
      (20L, 0x000L),               // a
      (21L, 0x007L),               // b: hamming 3 vs a -> drops
      (22L, 0x03FL))               // c: hamming 3 vs b (but 6 vs a) -> drops
      .toDF("media_id", "phash")
    val chainGot = graft.operators.Dedup.incrementalFingerprintNearDup(
      chain, Seq.empty[(Long, Long)].toDF("id", "sig"),
      "media_id", "phash", bits = 12, bands = 4, maxDist = 3)
      .as[(Long, Long)].collect().toSet
    assert(chainGot == Set((20L, 0x000L)))
    // empty store == the batch-only pass: survivors are exactly the
    // batch minus fingerprintNearDupPairs' id2 side
    val emptyStore = Seq.empty[(Long, Long)].toDF("id", "sig")
    val viaIncr = graft.operators.Dedup.incrementalFingerprintNearDup(
      batch, emptyStore, "media_id", "phash", bits = 12, bands = 4,
      maxDist = 3).select("id").as[Long].collect().toSet
    val droppedBatchOnly = graft.operators.Dedup.fingerprintNearDupPairs(
      batch, "media_id", "phash", bits = 12, bands = 4, maxDist = 3)
      .select("id2").as[Long].collect().toSet
    assert(viaIncr == Set(10L, 11L, 12L, 13L) -- droppedBatchOnly)
    // store-append contract: survivors union the store for the next
    // increment, and a re-arrival of a survivor then drops
    val store2 = store.unionByName(
      graft.operators.Dedup.incrementalFingerprintNearDup(
        batch, store, "media_id", "phash", bits = 12, bands = 4,
        maxDist = 3))
    val rearrival = Seq((30L, 0x321L)).toDF("media_id", "phash")
    assert(graft.operators.Dedup.incrementalFingerprintNearDup(
      rearrival, store2, "media_id", "phash", bits = 12, bands = 4,
      maxDist = 3).count() == 0)
    // guards delegate the banding laws; store schema fails loud
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.incrementalFingerprintNearDup(
        batch, store, "media_id", "phash", bits = 12, bands = 3, maxDist = 3)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.incrementalFingerprintNearDup(
        batch, store.withColumnRenamed("sig", "hash"),
        "media_id", "phash", bits = 12, bands = 4, maxDist = 3)
    }
  }

  test("retractFingerprints: readmission after retract, unknown id fails loud") {
    val store = Seq((100L, 0xABCL), (200L, 0x321L)).toDF("id", "sig")
    // retract 100 -> only 200 remains
    val after = graft.operators.Dedup.retractFingerprints(
      store, Seq(100L).toDF("id"))
      .as[(Long, Long)].collect().toSet
    assert(after == Set((200L, 0x321L)))
    // READMISSION: a batch doc matching ONLY the retracted row now
    // survives; one matching the remaining row still drops
    val batch = Seq((10L, 0xABCL), (11L, 0x321L)).toDF("media_id", "phash")
    val survivors = graft.operators.Dedup.incrementalFingerprintNearDup(
      batch,
      graft.operators.Dedup.retractFingerprints(store, Seq(100L).toDF("id")),
      "media_id", "phash", bits = 12, bands = 4, maxDist = 3)
      .select("id").as[Long].collect().toSet
    assert(survivors == Set(10L),
      s"retracted content must readmit, surviving store must still drop: $survivors")
    // unknown retract id: the guard rides the output column
    val e = intercept[Exception] {
      graft.operators.Dedup.retractFingerprints(
        store, Seq(999L).toDF("id")).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("not in the store"),
      s"expected the drift guard, got: ${e.getMessage}")
    // schema guards
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.retractFingerprints(
        store.withColumnRenamed("sig", "hash"), Seq(100L).toDF("id"))
    }
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.retractFingerprints(store, Seq(100L).toDF("rid"))
    }
  }

  test("fingerprint sig-collapse: heavy-multiplicity corpus stays bit-identical to brute force") {
    // the 100 TB failure mode in miniature: many media objects share
    // one fingerprint exactly (blank thumbnails). The sig-collapse must
    // keep the banding buckets bounded by DISTINCT sigs while the
    // output pair set stays bit-identical to uncollapsed all-pairs
    // semantics, and the incremental survivors stay bit-identical to
    // the pairwise lowest-id rule.
    val rnd = new scala.util.Random(11)
    val hot = Seq.tabulate(40)(i => (i.toLong, 0x000L)) // one hot sig, 40 members
    val near = Seq((100L, 0x001L), (101L, 0x003L)) // hamming 1 / 2 vs the hot sig
    val far = Seq.tabulate(10)(i => (200L + i, rnd.nextInt(4096).toLong | 0x800L))
    val rows = hot ++ near ++ far
    val hashes = rows.toDF("media_id", "phash")
    val got = Dedup.fingerprintNearDupPairs(hashes, "media_id", "phash",
      bits = 12, bands = 4, maxDist = 3)
      .as[(Long, Long, Int)].collect().toSet
    val brute = (for {
      (i, hi) <- rows; (j, hj) <- rows if i < j
      h = java.lang.Long.bitCount(hi ^ hj) if h <= 3
    } yield (i, j, h)).toSet
    assert(got == brute,
      s"collapsed banding diverged from brute force: extra=${got -- brute} missing=${brute -- got}")
    assert(got.size >= 40 * 39 / 2, "the hot-sig clique must re-expand in full")
    // incremental over the same batch, store with DUPLICATE sigs (the
    // store side collapses too): survivors == the pairwise-rule brute
    val storeDup = Seq((500L, 0x800L), (501L, 0x800L)).toDF("id", "sig")
    val survivors = graft.operators.Dedup.incrementalFingerprintNearDup(
      hashes, storeDup, "media_id", "phash", bits = 12, bands = 4, maxDist = 3)
      .as[(Long, Long)].collect().toSet
    val bruteSurv = rows.filter { case (i, hi) =>
      java.lang.Long.bitCount(hi ^ 0x800L) > 3 &&
        !rows.exists { case (j, hj) =>
          j < i && java.lang.Long.bitCount(hi ^ hj) <= 3 }
    }.toSet
    assert(survivors == bruteSurv,
      s"incremental collapsed diverged: extra=${survivors -- bruteSurv} missing=${bruteSurv -- survivors}")
  }

  test("simhash near-dup pairs at maxDist keeps exact dups") {
    val got = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxDist = 3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)) && got.contains((1L, 3L)) && got.contains((2L, 3L)))
  }

  test("shingles: short docs yield empty array, no crash") {
    val got = Seq((1L, "one two")).toDF("doc_id", "text")
      .select(TextFunctions.shingles(col("text"), 3).as("s"))
      .as[Seq[String]].collect()
    assert(got.head.isEmpty)
  }

  test("ttlExactDedup: within-window repeats drop, expiry readmits, gap semantics, NULL ts raises") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val ttl = 100L
    val rows = Seq(
      // fp A: t=0 kept; t=50 within window -> drop; t=160 gap 110 > ttl -> kept
      (1L, "same text", ts(0)), (2L, "same text", ts(50)), (3L, "same text", ts(160)),
      // fp B: the GAP-BASED session rule — each repeat is within ttl of
      // its PREDECESSOR, so the chain never expires even though the
      // last row is 180s after the kept row (documented semantics)
      (10L, "chain text", ts(0)), (11L, "chain text", ts(90)), (12L, "chain text", ts(180)),
      // unique doc always kept
      (20L, "unique text", ts(10)))
      .toDF("doc_id", "text", "ts")
    val got = Dedup.ttlExactDedup(rows, "text", "doc_id", "ts", ttl)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 3L, 10L, 20L), s"got $got")
    // ttl -> effectively infinite == plain exactDedup
    val inf = Dedup.ttlExactDedup(rows, "text", "doc_id", "ts", 1000000L)
      .select("doc_id").as[Long].collect().toSet
    val plain = Dedup.exactDedup(rows, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(inf == plain && inf == Set(1L, 10L, 20L))
    // simultaneous re-publication: ties order by id, the second drops
    val tie = Seq((1L, "t", ts(0)), (2L, "t", ts(0)))
      .toDF("doc_id", "text", "ts")
    assert(Dedup.ttlExactDedup(tie, "text", "doc_id", "ts", ttl)
      .select("doc_id").as[Long].collect().toSet == Set(1L))
    // NULL ts has no position in a freshness window
    val e = intercept[Exception] {
      Dedup.ttlExactDedup(
        Seq((1L, "t", null.asInstanceOf[Timestamp])).toDF("doc_id", "text", "ts"),
        "text", "doc_id", "ts", ttl).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("freshness window"))
    intercept[IllegalArgumentException] {
      Dedup.ttlExactDedup(rows, "text", "doc_id", "ts", 0L)
    }
    intercept[IllegalArgumentException] {
      Dedup.ttlExactDedup(rows.withColumn("_fp", lit(1)), "text", "doc_id", "ts", ttl)
    }
  }

  test("canonicalByScore: argmax per cluster, min-id ties, missing score fails loud") {
    // clusters {1,2,3} and {10,11}; scores make 2 the best of the
    // first (not the min id) and tie 10/11 (min id wins)
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "cluster_id")
    val scores = Seq((1L, 5L), (2L, 9L), (3L, 9L), (10L, 7L), (11L, 7L))
      .toDF("doc_id", "q")
    val got = Dedup.canonicalByScore(labels, scores, "doc_id", "q")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    // 2 and 3 tie at 9 -> min id 2 is canonical; 1 loses on score
    assert(got(2L) == ((9L, true)) && got(3L) == ((9L, false)) &&
      got(1L) == ((5L, false)))
    assert(got(10L) == ((7L, true)) && got(11L) == ((7L, false)))
    // exactly one canonical per cluster
    val canon = Dedup.canonicalByScore(labels, scores, "doc_id", "q")
      .filter(col("is_canonical"))
      .groupBy("cluster_id").count().as[(Long, Long)].collect().toMap
    assert(canon == Map(1L -> 1L, 10L -> 1L))
    // a labeled id with no score row: the pick would be silently wrong
    val e = intercept[Exception] {
      Dedup.canonicalByScore(labels,
        scores.filter(col("doc_id") =!= 3L), "doc_id", "q").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("no score row"),
      s"expected the drift guard, got: ${e.getMessage}")
    intercept[IllegalArgumentException] {
      Dedup.canonicalByScore(labels.withColumnRenamed("id", "v"),
        scores, "doc_id", "q")
    }
    intercept[IllegalArgumentException] {
      Dedup.canonicalByScore(labels, scores, "doc_id", "nope")
    }
  }

  test("incrementalCanonical: merge re-election, fresh takeover, untouched verbatim, == full recompute") {
    def picks(labels: org.apache.spark.sql.DataFrame,
        scores: org.apache.spark.sql.DataFrame) =
      Dedup.canonicalByScore(labels, scores, "doc_id", "q")
        .filter(col("is_canonical"))
        .select(col("cluster_id"), col("id").as("canonical_id"), col("score"))
    // stored: clusters {1,2} (2 best), {10,11} (10 best), {20,21}
    // (untouched — must survive verbatim, not be recomputed)
    val storedPairs = Seq((1L, 2L), (10L, 11L), (20L, 21L)).toDF("id1", "id2")
    val scores = Seq((1L, 5L), (2L, 9L), (10L, 8L), (11L, 3L),
      (20L, 4L), (21L, 6L), (30L, 100L)).toDF("doc_id", "q")
    val stored = Dedup.connectedComponents(storedPairs, "id1", "id2")
    val storedPicks = picks(stored, scores)
    // batch: merge {1,2} with {10,11} (re-elect: 2 wins at 9) and a
    // fresh high-quality arrival 30 joining nothing else via 11
    val newPairs = Seq((2L, 10L), (11L, 30L)).toDF("id1", "id2")
    val got = Dedup.incrementalCanonical(stored, storedPicks, newPairs,
      scores, "doc_id", "q")
      .as[(Long, Long, Long)].collect().toSet
    // merged component {1,2,10,11,30}: 30 wins at 100; {20,21} verbatim
    val labels2 = Dedup.incrementalConnectedComponents(stored, newPairs)
    val full = picks(labels2, scores).as[(Long, Long, Long)].collect().toSet
    assert(got == full, s"incremental $got must equal full recompute $full")
    assert(got.contains((1L, 30L, 100L)), s"fresh arrival must take over: $got")
    assert(got.contains((20L, 21L, 6L)), "untouched cluster pick survives")
    assert(got.size == 2)
    // random two-increment chain == full recompute
    val rnd = new scala.util.Random(13)
    val allPairs = Seq.fill(60)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(p => p._1 != p._2)
    val rScores = (0L until 40L).map(i => (i, (i * 17 % 23))).toDF("doc_id", "q")
    val (p1, p2) = allPairs.splitAt(30)
    val l1 = Dedup.connectedComponents(p1.toDF("id1", "id2"), "id1", "id2")
    val inc = Dedup.incrementalCanonical(l1, picks(l1, rScores),
      p2.toDF("id1", "id2"), rScores, "doc_id", "q")
      .as[(Long, Long, Long)].collect().toSet
    val fullL = Dedup.connectedComponents(allPairs.toDF("id1", "id2"), "id1", "id2")
    val fullP = picks(fullL, rScores).as[(Long, Long, Long)].collect().toSet
    assert(inc == fullP, s"chain: extra=${inc -- fullP} missing=${fullP -- inc}")
    intercept[IllegalArgumentException] {
      Dedup.incrementalCanonical(stored,
        storedPicks.withColumnRenamed("score", "s"), newPairs,
        scores, "doc_id", "q")
    }
  }

  test("incrementalCanonicalWithLabels: labels == incrementalConnectedComponents, picks == full recompute") {
    val scores = (0L until 40L).map(i => (i, i * 7 % 11)).toDF("doc_id", "q")
    val stored = Dedup.connectedComponents(
      Seq((1L, 2L), (10L, 11L), (20L, 21L)).toDF("id1", "id2"), "id1", "id2")
    def fullPicks(labels: org.apache.spark.sql.DataFrame) =
      Dedup.canonicalByScore(labels, scores, "doc_id", "q")
        .filter(col("is_canonical"))
        .select(col("cluster_id"), col("id").as("canonical_id"), col("score"))
    val storedPicks = fullPicks(stored)
    // a self-loop and a null-partner row put endpoints in the pick side's
    // endpoint set that the contraction's (valid pairs only) lacks
    val newPairs = Seq[(Option[Long], Option[Long])]((Some(2L), Some(10L)),
      (Some(11L), Some(30L)), (Some(20L), Some(20L)), (Some(31L), None))
      .toDF("id1", "id2")
    // budget 1: the endpoint set does not fit, both sides probe and shuffle
    for (budget <- Seq(1L, 1000000L)) {
      val (labels, picks) = Dedup.incrementalCanonicalWithLabels(stored,
        storedPicks, newPairs, scores, "doc_id", "q", budget)
      val wantLabels = Dedup.incrementalConnectedComponents(stored, newPairs,
        mapBroadcastBudget = budget)
      assert(labels.as[(Long, Long)].collect().toSet ==
        wantLabels.as[(Long, Long)].collect().toSet, s"budget $budget")
      val wantPicks = fullPicks(wantLabels)
      assert(picks.as[(Long, Long, Long)].collect().toSet ==
        wantPicks.as[(Long, Long, Long)].collect().toSet, s"budget $budget")
    }
  }

  test("retractCanonical: re-election, component split, disappearance, == full recompute") {
    def picks(labels: org.apache.spark.sql.DataFrame,
        scores: org.apache.spark.sql.DataFrame) =
      Dedup.canonicalByScore(labels, scores, "doc_id", "q")
        .filter(col("is_canonical"))
        .select(col("cluster_id"), col("id").as("canonical_id"), col("score"))
    // chain 1-2-3 (retracting bridge 2 isolates 1 and 3 — both leave
    // the label store entirely, the X149 semantics), triangle
    // {10,11,12} (10 canonical; retracting it re-elects 12 over the
    // surviving 11-12 pair), pair {20,21} (retract both: the cluster
    // disappears), untouched {30,31}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L), (30L, 31L)).toDF("id1", "id2")
    val scores = Seq((1L, 5L), (2L, 9L), (3L, 7L), (10L, 8L), (11L, 2L),
      (12L, 6L), (20L, 1L), (21L, 1L), (30L, 4L), (31L, 6L))
      .toDF("doc_id", "q")
    val labels = Dedup.connectedComponents(pairs, "id1", "id2")
    val storedPicks = picks(labels, scores)
    val retract = Seq(2L, 10L, 20L, 21L).toDF("id")
    val got = Dedup.retractCanonical(labels, storedPicks, pairs, scores,
      retract, "doc_id", "q")
      .as[(Long, Long, Long)].collect().toSet
    val labels2 = Dedup.retractClusterLabels(labels, pairs, retract)
    val full = picks(labels2, scores).as[(Long, Long, Long)].collect().toSet
    assert(got == full, s"retract picks $got must equal full recompute $full")
    assert(got.contains((11L, 12L, 6L)), s"re-election after canonical retract: $got")
    assert(got.contains((30L, 31L, 6L)), "untouched cluster pick survives")
    assert(!got.exists(_._1 == 20L), "a fully retracted cluster loses its row")
    assert(!got.exists(r => r._1 == 1L || r._2 == 1L || r._2 == 3L),
      "isolated survivors of a bridge retraction leave the pick store")
    // a split that leaves FRAGMENTS: chain 40-41-42-43, retract 41 ->
    // 42-43 survive as a fragment with their own pick
    val p2 = Seq((40L, 41L), (41L, 42L), (42L, 43L)).toDF("id1", "id2")
    val s2 = Seq((40L, 1L), (41L, 9L), (42L, 3L), (43L, 8L)).toDF("doc_id", "q")
    val l2 = Dedup.connectedComponents(p2, "id1", "id2")
    val got2 = Dedup.retractCanonical(l2, picks(l2, s2), p2, s2,
      Seq(41L).toDF("id"), "doc_id", "q")
      .as[(Long, Long, Long)].collect().toSet
    assert(got2 == Set((42L, 43L, 8L)),
      s"fragment must re-elect among its own members: $got2")
    intercept[IllegalArgumentException] {
      Dedup.retractCanonical(labels, storedPicks.drop("score"), pairs,
        scores, retract, "doc_id", "q")
    }
  }

  test("softDedup: clusters down-weight by 1/size, singletons keep at full weight") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (10L, "one two three four five six seven"),
      (11L, "one two three four five six seven"),
      (20L, "completely unrelated text about nothing at all"),
      (21L, "another standalone document with unique words"))
      .toDF("doc_id", "text")
    val got = Dedup.softDedup(docs, "doc_id", "text", threshold = 0.7)
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // the test-side replica of the operator's salted bucket
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"soft:$id".getBytes("UTF-8"))
        .take(2).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 10000
    }
    for (id <- Seq(1L, 2L, 3L))
      assert(got(id) == ((1L, 3L, 3333L, bucket(id) < 3333L)))
    for (id <- Seq(10L, 11L))
      assert(got(id) == ((10L, 2L, 5000L, bucket(id) < 5000L)))
    // singletons: own cluster, size 1, full weight, always kept
    for (id <- Seq(20L, 21L))
      assert(got(id) == ((id, 1L, 10000L, true)))
    // expected-mass law: a cluster's total weight is 10^4 up to the
    // floor loss (< size basis points)
    val w3 = Seq(1L, 2L, 3L).map(got(_)._3).sum
    assert(w3 > 10000L - 3 && w3 <= 10000L)
  }

  test("softDedup: idCol named 'id' does not collide with the label join") {
    // connectedComponents emits literally (id, cluster_id); before the
    // label-side rename this was an ambiguous-column AnalysisException.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (9L, "completely unrelated text about nothing at all"))
      .toDF("id", "text")
    val got = Dedup.softDedup(docs, "id", "text", threshold = 0.7)
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((1L, 2L)) && got(2L) == ((1L, 2L)))
    assert(got(9L) == ((9L, 1L)))
  }

  test("incrementalSoftDedup: merge re-weights every sibling, untouched rows verbatim") {
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"soft:$id".getBytes("UTF-8"))
        .take(2).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 10000
    }
    def row(id: Long, cl: Long, sz: Long) =
      (id, cl, sz, 10000L / sz, bucket(id) < 10000L / sz)
    // store: cluster {1,2}, cluster {10,11}, singletons 20, 21
    val stored = Seq(row(1L, 1L, 2L), row(2L, 1L, 2L), row(10L, 10L, 2L),
      row(11L, 10L, 2L), row(20L, 20L, 1L), row(21L, 21L, 1L))
      .toDF("id", "cluster_id", "cluster_size", "weight_bp", "keep")
    // batch: 30 joins via (2, 30); (30, 10) bridges the two clusters;
    // 31 arrives pair-free (singleton)
    val pairs = Seq((2L, 30L), (30L, 10L)).toDF("id1", "id2")
    val batch = Seq(30L, 31L).toDF("id")
    val got = Dedup.incrementalSoftDedup(stored, pairs, batch)
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // merged cluster {1,2,10,11,30} -> label 1, size 5, weight 2000
    for (id <- Seq(1L, 2L, 10L, 11L, 30L))
      assert(got(id) == ((1L, 5L, 2000L, bucket(id) < 2000L)), s"id $id: ${got(id)}")
    // untouched singletons verbatim
    assert(got(20L) == ((20L, 1L, 10000L, true)))
    assert(got(21L) == ((21L, 1L, 10000L, true)))
    // batch singleton at full weight
    assert(got(31L) == ((31L, 1L, 10000L, true)))
    assert(got.size == 8)
  }

  test("incrementalSoftDedup: empty store ≡ batch pass; guards raise") {
    val empty = Seq.empty[(Long, Long, Long, Long, Boolean)]
      .toDF("id", "cluster_id", "cluster_size", "weight_bp", "keep")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val batch = Seq(1L, 2L, 3L, 4L).toDF("id")
    val got = Dedup.incrementalSoftDedup(empty, pairs, batch)
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(1L -> ((1L, 3L)), 2L -> ((1L, 3L)),
      3L -> ((1L, 3L)), 4L -> ((4L, 1L))))
    // re-arrival: a batch id already stored raises
    def row(id: Long, cl: Long, sz: Long) =
      (id, cl, sz, 10000L / sz, true)
    val stored = Seq(row(1L, 1L, 1L))
      .toDF("id", "cluster_id", "cluster_size", "weight_bp", "keep")
    val ex = intercept[Exception] {
      Dedup.incrementalSoftDedup(stored, pairs, batch).collect()
    }
    assert(ex.getMessage.contains("re-arrival") ||
      ex.getMessage.contains("already stored"))
    // orphan endpoint: a pair touching an id neither stored nor batched
    val ex2 = intercept[Exception] {
      Dedup.incrementalSoftDedup(stored,
        Seq((1L, 99L)).toDF("id1", "id2"),
        Seq(50L).toDF("id")).collect()
    }
    assert(ex2.getMessage.contains("neither stored nor in the batch"))
  }

  test("retractSoftDedup: siblings re-weight UP, bridge splits to full-weight singletons") {
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"soft:$id".getBytes("UTF-8"))
        .take(2).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 10000
    }
    def row(id: Long, cl: Long, sz: Long) =
      (id, cl, sz, 10000L / sz, bucket(id) < 10000L / sz)
    // store: chain 1-2-3 (cluster 1, size 3), clique {10,11,12}
    // (cluster 10), singletons 20, 21
    val stored = Seq(row(1L, 1L, 3L), row(2L, 1L, 3L), row(3L, 1L, 3L),
      row(10L, 10L, 3L), row(11L, 10L, 3L), row(12L, 10L, 3L),
      row(20L, 20L, 1L), row(21L, 21L, 1L))
      .toDF("id", "cluster_id", "cluster_size", "weight_bp", "keep")
    val pairs = Seq((1L, 2L), (2L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("id1", "id2")
    // retract the 1-2-3 BRIDGE (2) and one clique member (12) and a
    // singleton (20)
    val retract = Seq(2L, 12L, 20L).toDF("id")
    val got = Dedup.retractSoftDedup(stored, pairs, retract)
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // bridge split: 1 and 3 are isolated full-weight singletons now
    assert(got(1L) == ((1L, 1L, 10000L, true)), s"got ${got(1L)}")
    assert(got(3L) == ((3L, 1L, 10000L, true)), s"got ${got(3L)}")
    // clique survivors re-weight UP: size 3 -> 2
    for (id <- Seq(10L, 11L))
      assert(got(id) == ((10L, 2L, 5000L, bucket(id) < 5000L)), s"id $id: ${got(id)}")
    // untouched singleton verbatim; retracted rows gone
    assert(got(21L) == ((21L, 1L, 10000L, true)))
    assert(!got.contains(2L) && !got.contains(12L) && !got.contains(20L))
    assert(got.size == 5)
    // unknown retract id raises instead of a silent no-op forget
    val ex = intercept[Exception] {
      Dedup.retractSoftDedup(stored, pairs, Seq(99L).toDF("id")).collect()
    }
    assert(ex.getMessage.contains("not stored"))
  }

  test("connectedComponents labels a chain, a clique, and keeps them apart — both paths") {
    // chain 1-2-3-4-5 (diameter forces multiple propagation rounds),
    // triangle 10-11-12, isolated pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("id1", "id2")
    // localThreshold = 0 forces the distributed iteration; the default
    // takes the gated driver-local union-find — they must agree exactly
    val dist = Dedup.connectedComponents(pairs, "id1", "id2", localThreshold = 0)
      .as[(Long, Long)].collect().toMap
    val got = Dedup.connectedComponents(pairs, "id1", "id2")
      .as[(Long, Long)].collect().toMap
    assert(got == dist, "driver-local union-find must equal the distributed fixpoint")
    assert((1L to 5L).forall(got(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(got(_) == 10L))
    assert(got(20L) == 20L && got(21L) == 20L)
    assert(got.size == 10)
  }

  test("connectedComponents is direction- and duplicate-insensitive — both paths") {
    val pairs = Seq((5L, 3L), (3L, 5L), (5L, 3L), (3L, 1L)).toDF("id1", "id2")
    for (thr <- Seq(0L, 100000L)) {
      val got = Dedup.connectedComponents(pairs, "id1", "id2", localThreshold = thr)
        .as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 3L -> 1L, 5L -> 1L))
    }
  }

  test("connectedComponents local ≡ distributed on a random graph") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(300)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(p => p._1 != p._2).toDF("id1", "id2")
    val local = Dedup.connectedComponents(pairs, "id1", "id2")
      .as[(Long, Long)].collect().toSet
    val dist = Dedup.connectedComponents(pairs, "id1", "id2", localThreshold = 0)
      .as[(Long, Long)].collect().toSet
    assert(local == dist)
  }

  test("connectedComponents distributed path handles a six-figure edge set") {
    // above any driver-local gate semantics: ~150k random edges over
    // 40k vertices (supercritical — one giant component plus fringe),
    // distributed fixpoint forced, checked against driver union-find
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(150000)(
      (rnd.nextInt(40000).toLong, rnd.nextInt(40000).toLong))
      .filter(p => p._1 != p._2)
    val pairs = edges.toDF("id1", "id2")
    val dist = Dedup.connectedComponents(pairs, "id1", "id2", localThreshold = 0)
      .as[(Long, Long)].collect()
    val local = Dedup.connectedComponents(pairs, "id1", "id2",
      localThreshold = Long.MaxValue)
      .as[(Long, Long)].collect()
    assert(dist.toSet == local.toSet)
    assert(dist.length == dist.map(_._1).distinct.length, "one label per vertex")
  }

  test("connectedComponents on an empty pair list returns no rows") {
    val pairs = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Dedup.connectedComponents(pairs, "id1", "id2").count() == 0)
  }

  test("editDistanceJoin equals the brute-force cross join, never a cross plan") {
    val qs = Seq("kitten", "sitting", "ktten", "abc", "").toDF("q")
    val dim = Seq("kitten", "mitten", "sitten", "abcd", "x").toDF("name")
    val blocked = Dedup.editDistanceJoin(qs, "q", dim, "name", 2)
    val brute = qs.crossJoin(dim)
      .withColumn("dist", levenshtein(col("q"), col("name")))
      .filter(col("dist") <= 2)
    assert(blocked.select("q", "name", "dist").as[(String, String, Int)]
      .collect().toSet ==
      brute.select("q", "name", "dist").as[(String, String, Int)]
        .collect().toSet)
    val plan = blocked.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"length-band blocking must plan as an equi-join:\n$plan")
  }
  test("prefix-filtered Jaccard equals the full inverted-index join") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
    val full = norm(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5, 3))
    val pref = norm(Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", 0.5, 3))
    assert(pref == full)
    assert(full.nonEmpty) // the comparison must actually exercise pairs
  }

  test("broadcast gates: budget-1 shuffle-hash fallbacks produce identical pairs") {
    // force every gated broadcast (candidate verification in both pair
    // finders, the df table in prefixPostings) onto its shuffle-hash
    // fallback path and pin output equality with the broadcast path
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
    val prefB = norm(Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", 0.5, 3))
    val prefS = norm(Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", 0.5, 3,
      pairBroadcastBudget = 1L))
    assert(prefS == prefB && prefB.nonEmpty)
    val mhB = norm(Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.5))
    val mhS = norm(Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.5,
      pairBroadcastBudget = 1L))
    assert(mhS == mhB && mhB.nonEmpty)
    val inv = Dedup.postingsTable(docs, "doc_id", "text", 3)
    val pB = Dedup.prefixPostings(inv, 0.5)
    val pS = Dedup.prefixPostings(inv, 0.5, dfBroadcastBudget = 1L)
    assert(pS.as[(Long, Int, String)].collect().toSet ==
      pB.as[(Long, Int, String)].collect().toSet)
  }

  test("prefix filter indexes strictly fewer postings than the full index") {
    // hand corpus with a stopword-ish shared shingle: the hot shingle
    // should drop out of most prefixes
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the sleepy dog"),
      (3L, "the quick brown cat sleeps under the lazy dog"),
      (4L, "entirely different text about spark physical plans"))
      .toDF("doc_id", "text")
    val full = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5, 3)
      .as[(Long, Long, Double)].collect().toSet
    val pref = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", 0.5, 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(pref == full)
    // the property in the name: the prefix index holds strictly fewer
    // postings than the full inverted index (|S|−⌈t·|S|⌉+1 < |S| for
    // any doc with ≥ 3 shingles at t = 0.5)
    val inv = Dedup.postingsTable(docs, "doc_id", "text", 3)
    val fullPostings = inv.count()
    val prefPostings = Dedup.prefixPostings(inv, 0.5).count()
    assert(prefPostings < fullPostings,
      s"prefix index ($prefPostings) must be smaller than full ($fullPostings)")
    assert(prefPostings > 0)
  }

  test("exactSubstringDedup: global first occurrence survives, later copies drop") {
    // doc 1 and doc 2 share an exact 5-token span; doc 3 is that span
    // alone (fully covered -> zero kept); doc 4 shares nothing
    val span = "alpha bravo charlie delta echo"
    val docs = Seq(
      (1L, s"intro one two $span tail1"),
      (2L, s"different opening words $span tail2 extra"),
      (3L, span),
      (4L, "entirely unrelated tokens here with no duplicate span at all"))
      .toDF("doc_id", "text")
    val got = Dedup.exactSubstringDedup(docs, "doc_id", "text", L = 5)
      .as[(Long, Int, Long, String)].collect().map(r => r._1 -> r).toMap
    // doc 1 holds the global first occurrence (min id*1e5+pos) -> intact
    assert(got(1L)._3 == got(1L)._2.toLong, s"doc1 must keep all tokens: ${got(1L)}")
    // doc 2 loses exactly the 5 span tokens
    assert(got(2L)._2 - got(2L)._3 == 5, s"doc2 must lose the span: ${got(2L)}")
    // doc 3 is nothing but the span -> zero kept, md5 of empty string
    assert(got(3L)._3 == 0 && got(3L)._4 ==
      java.security.MessageDigest.getInstance("MD5").digest("".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
    // doc 4 untouched
    assert(got(4L)._3 == got(4L)._2.toLong)
  }

  test("exactSubstringDedupVar: overlapping duplicated windows merge into one variable-length span") {
    // doc 1 vs doc 2: a shared 9-token region — with L=5 that is five
    // overlapping duplicated windows, which must merge into ONE span
    // of length 9 in doc 2 (the non-first occurrence). doc 3 carries
    // TWO disjoint copies of a 5-token span -> two spans of 5 each.
    val long9 = "alpha bravo charlie delta echo foxtrot golf hotel india"
    val span5 = "one two three four five"
    val docs = Seq(
      (1L, s"prefix words here $long9 suffix"),
      (2L, s"other opening $long9 closing words"),
      (3L, s"$span5 middle filler tokens go here $span5"),
      (4L, s"start bits $span5 end bits"),
      (5L, "entirely unrelated material with no duplicated span content"))
      .toDF("doc_id", "text")
    val got = Dedup.exactSubstringDedupVar(docs, "doc_id", "text", L = 5)
      .as[(Long, Int, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    // doc 1: global first occurrence of the 9-token region -> no spans
    assert(got(1L)._4 == 0L && got(1L)._5 == 0L, s"doc1 clean: ${got(1L)}")
    // doc 2: the five overlapping windows merged into one span of 9
    assert(got(2L)._4 == 1L, s"doc2 must report ONE merged span: ${got(2L)}")
    assert(got(2L)._5 == 9L, s"doc2 span must be variable length 9: ${got(2L)}")
    assert(got(2L)._2 - got(2L)._3 == 9L)
    // doc 3: first occurrence of span5 lives here (doc 3 < doc 4 never
    // holds — doc 3 IS the first), so only its SECOND copy drops
    assert(got(3L)._4 == 1L && got(3L)._5 == 5L, s"doc3: ${got(3L)}")
    // doc 4: its copy of span5 is a non-first occurrence -> one span
    assert(got(4L)._4 == 1L && got(4L)._5 == 5L, s"doc4: ${got(4L)}")
    // doc 5: untouched, canonical empty markers
    val emptyMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest("".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(5L)._4 == 0L && got(5L)._6 == emptyMd5)
    // n_tokens/n_kept/kept_md5 agree with the fixed pass on every doc
    val fixed = Dedup.exactSubstringDedup(docs, "doc_id", "text", L = 5)
      .as[(Long, Int, Long, String)].collect().map(r => r._1 -> r).toMap
    got.foreach { case (id, v) =>
      assert((v._2, v._3, v._7) == (fixed(id)._2, fixed(id)._3, fixed(id)._4),
        s"var pass must reassemble identically to fixed for doc $id")
    }
    // spans_md5 is the canonical "start:len" list: doc 2's span starts
    // at token 2 ("other opening" = 2 tokens), length 9
    val want2 = java.security.MessageDigest.getInstance("MD5")
      .digest("2:9".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(2L)._6 == want2, s"doc2 spans_md5: ${got(2L)._6}")
  }

  test("exactSubstringDedup: doc longer than posBase tokens fails loud, not silently wrong") {
    // posBase=8 with a 10-token doc: _occ = id*8+pos would collide
    // across documents — the guard must kill the job with a pointed
    // message instead of corrupting global-first attribution
    val docs = Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "short doc here"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.exactSubstringDedup(docs, "doc_id", "text", L = 2, posBase = 8L)
        .collect()
    }
    assert(e.getMessage.contains("exceeds posBase"),
      s"expected the posBase guard message, got: ${e.getMessage}")
    // same data under a sufficient posBase dedups fine
    val ok = Dedup.exactSubstringDedup(docs, "doc_id", "text", L = 2, posBase = 16L)
      .as[(Long, Int, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(ok(1L)._3 == 10L && ok(2L)._3 == 3L)
  }

  test("exactSubstringDedup: non-numeric id fails loud instead of collapsing to one null group") {
    val docs = Seq(("docA", "alpha bravo charlie"), ("docB", "delta echo foxtrot"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.exactSubstringDedup(docs, "doc_id", "text", L = 2).collect()
    }
    assert(e.getMessage.contains("must cast to BIGINT"),
      s"expected the id guard message, got: ${e.getMessage}")
  }

  // ---------------- incremental NEAR-dup (X113) ----------------

  private def ndStoreDocs = Seq(
    (100L, "already ingested content sitting in the corpus store"),
    (101L, "some other historical document about spark engines"))
    .toDF("doc_id", "text")

  test("substring postings retraction: exact forget, shared windows persist, X132 readmits") {
    val spanA = "alpha bravo charlie delta echo"
    val spanB = "zulu yankee xray whiskey victor"
    val store = Seq(
      (1L, s"first doc carrying $spanA today"),
      (2L, s"second doc also carrying $spanA now"),
      (3L, s"third doc solely owning $spanB here"))
      .toDF("doc_id", "text")
    val postings = Dedup.substringStorePostings(store, "doc_id", "text", L = 5)
    def idx(p: org.apache.spark.sql.DataFrame) =
      Dedup.substringIndex(p).as[String].collect().toSet
    // retract ≡ rebuild-without, exactly
    val retract3 = Dedup.retractSubstringPostings(postings,
      Seq(3L).toDF("id"))
    assert(idx(retract3) == idx(Dedup.substringStorePostings(
      store.filter(col("doc_id") =!= 3), "doc_id", "text", L = 5)))
    // forgetting doc 1 keeps spanA's windows alive through doc 2
    val retract1 = Dedup.retractSubstringPostings(postings, Seq(1L).toDF("id"))
    val aWindows = idx(Dedup.substringStorePostings(
      Seq((9L, spanA)).toDF("doc_id", "text"), "doc_id", "text", L = 5))
    assert(aWindows.subsetOf(idx(retract1)),
      "shared windows must persist after a partial retraction")
    // X132 integration: before forgetting, a batch doc made of spanB
    // loses everything; after, the content is admissible again
    val batch = Seq((10L, spanB)).toDF("doc_id", "text")
    val before = Dedup.incrementalSubstringDedup(batch,
      Dedup.substringIndex(postings), "doc_id", "text", L = 5)
      .as[(Long, Int, Long, String)].collect().head
    assert(before._3 == 0L, s"span B must be store-claimed before: $before")
    val after = Dedup.incrementalSubstringDedup(batch,
      Dedup.substringIndex(retract3), "doc_id", "text", L = 5)
      .as[(Long, Int, Long, String)].collect().head
    assert(after._3 == after._2.toLong, s"span B must be readmitted after: $after")
    intercept[IllegalArgumentException] {
      Dedup.retractSubstringPostings(postings.drop("id"), Seq(1L).toDF("id"))
    }
  }

  test("incrementalConnectedComponents: merges, new minima, untouched clusters — equals full CC") {
    // stored graph: {3,5,7} (label 3), {10,12} (label 10), {20,21} (label 20)
    val storedPairs = Seq((3L, 5L), (5L, 7L), (10L, 12L), (20L, 21L))
      .toDF("id1", "id2")
    val stored = Dedup.connectedComponents(storedPairs, "id1", "id2")
    // batch: 1-7 bridges a NEW id that becomes the new minimum of
    // cluster 3; 12-20 merges two stored clusters; 30-31 is a brand-new
    // component; cluster {3,5,7} also gains nothing else
    val newPairs = Seq((1L, 7L), (12L, 20L), (30L, 31L)).toDF("id1", "id2")
    val got = Dedup.incrementalConnectedComponents(stored, newPairs)
      .as[(Long, Long)].collect().toSet
    val full = Dedup.connectedComponents(
      storedPairs.unionByName(newPairs), "id1", "id2")
      .as[(Long, Long)].collect().toSet
    assert(got == full)
    assert(got.contains((3L, 1L)) && got.contains((7L, 1L)))   // new min propagates
    assert(got.contains((10L, 10L)) && got.contains((20L, 10L))) // stored clusters merged
    assert(got.contains((30L, 30L)) && got.contains((31L, 30L))) // fresh component
  }

  test("incrementalConnectedComponents: empty batch is identity; empty store is plain CC") {
    val storedPairs = Seq((3L, 5L), (10L, 12L)).toDF("id1", "id2")
    val stored = Dedup.connectedComponents(storedPairs, "id1", "id2")
    val noPairs = Seq.empty[(Long, Long)].toDF("id1", "id2")
    val idGot = Dedup.incrementalConnectedComponents(stored, noPairs)
      .as[(Long, Long)].collect().toSet
    assert(idGot == stored.as[(Long, Long)].collect().toSet)
    val noStored = Dedup.connectedComponents(noPairs, "id1", "id2")
    val coldGot = Dedup.incrementalConnectedComponents(noStored, storedPairs)
      .as[(Long, Long)].collect().toSet
    assert(coldGot == stored.as[(Long, Long)].collect().toSet)
    intercept[IllegalArgumentException] {
      Dedup.incrementalConnectedComponents(
        stored.withColumnRenamed("cluster_id", "label"), storedPairs)
    }
  }

  test("incrementalConnectedComponents == full CC on a random multi-increment graph") {
    // deterministic pseudo-random edges over 60 ids, split into a
    // store snapshot and a batch; chained twice to exercise the
    // store-append round trip
    val rnd = new scala.util.Random(42)
    val all = Seq.fill(80)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2)
    val (s1, rest) = all.splitAt(all.size / 3)
    val (b1, b2) = rest.splitAt(rest.size / 2)
    val labels1 = Dedup.connectedComponents(s1.toDF("id1", "id2"), "id1", "id2")
    val inc1 = Dedup.incrementalConnectedComponents(labels1, b1.toDF("id1", "id2"))
    val full1 = Dedup.connectedComponents((s1 ++ b1).toDF("id1", "id2"), "id1", "id2")
    assert(inc1.as[(Long, Long)].collect().toSet ==
      full1.as[(Long, Long)].collect().toSet)
    // second increment warm-starts from the FIRST increment's output
    val inc2 = Dedup.incrementalConnectedComponents(inc1, b2.toDF("id1", "id2"))
    val full2 = Dedup.connectedComponents(all.toDF("id1", "id2"), "id1", "id2")
    assert(inc2.as[(Long, Long)].collect().toSet ==
      full2.as[(Long, Long)].collect().toSet)
  }

  test("retractClusterLabels: ghost minimum relabels, bridge removal splits, untouched kept") {
    // {1,2,3} chain (label 1), {10,11,12,13,14} chain (label 10),
    // {20,21} untouched (label 20)
    val pairs = Seq((1L, 2L), (2L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (20L, 21L)).toDF("id1", "id2")
    val labels = Dedup.connectedComponents(pairs, "id1", "id2")
    // retract 1 (the minimum of its cluster — a ghost label without
    // the rerun) and 12 (a bridge — severing it splits the chain)
    val got = Dedup.retractClusterLabels(labels, pairs,
      Seq(1L, 12L).toDF("id"))
      .as[(Long, Long)].collect().toSet
    assert(got == Set(
      (2L, 2L), (3L, 2L),              // ghost min 1 gone, 2 is the new min
      (10L, 10L), (11L, 10L),          // left half of the split
      (13L, 13L), (14L, 13L),          // right half: new component
      (20L, 20L), (21L, 20L)))         // untouched component verbatim
  }

  test("retractClusterLabels == rebuild-without on a random graph; no-ops and guards") {
    val rnd = new scala.util.Random(7)
    val all = Seq.fill(90)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter(p => p._1 != p._2)
    val pairs = all.toDF("id1", "id2")
    val labels = Dedup.connectedComponents(pairs, "id1", "id2")
    val retract = (0L until 50L).filter(_ % 5 == 0)
    val got = Dedup.retractClusterLabels(labels, pairs,
      retract.toDF("id")).as[(Long, Long)].collect().toSet
    val rebuilt = Dedup.connectedComponents(
      all.filter(p => !retract.contains(p._1) && !retract.contains(p._2))
        .toDF("id1", "id2"), "id1", "id2")
      .as[(Long, Long)].collect().toSet
    assert(got == rebuilt, "retract must equal rebuild-without")
    // ids unknown to the store retract as no-ops; an empty retract set
    // is the identity
    val noop = Dedup.retractClusterLabels(labels, pairs,
      Seq(900L, 901L).toDF("id")).as[(Long, Long)].collect().toSet
    assert(noop == labels.as[(Long, Long)].collect().toSet)
    // shuffle-hash fallback (budget 1 — every gated frame exceeds it)
    // produces the identical result
    val gotSh = Dedup.retractClusterLabels(labels, pairs,
      retract.toDF("id"), broadcastBudget = 1L)
      .as[(Long, Long)].collect().toSet
    assert(gotSh == rebuilt)
    intercept[IllegalArgumentException] {
      Dedup.retractClusterLabels(labels.withColumnRenamed("cluster_id", "x"),
        pairs, Seq(1L).toDF("id"))
    }
    intercept[IllegalArgumentException] {
      Dedup.retractClusterLabels(labels, pairs, Seq(1L).toDF("doc"))
    }
  }

  test("retractClusterLabels: drifted pair store fails loud, never silently wrong labels") {
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id1", "id2")
    val labels = Dedup.connectedComponents(pairs, "id1", "id2")
    // pairs appended WITHOUT refreshing labels — the maintenance
    // invariant storedLabels == connectedComponents(storedPairs) no
    // longer holds in two ways: (5,6) endpoints unlabeled, (2,3)
    // endpoints labeled in different clusters
    val drifted = pairs.unionByName(Seq((5L, 6L)).toDF("id1", "id2"))
    val e1 = intercept[IllegalArgumentException] {
      Dedup.retractClusterLabels(labels, drifted, Seq(1L).toDF("id"))
    }
    assert(e1.getMessage.contains("drifted pairs"))
    val bridged = pairs.unionByName(Seq((2L, 3L)).toDF("id1", "id2"))
    val e2 = intercept[IllegalArgumentException] {
      Dedup.retractClusterLabels(labels, bridged, Seq(1L).toDF("id"))
    }
    assert(e2.getMessage.contains("drifted pairs"))
    // the REVERSE drift direction: a label row whose id appears in no
    // stored pair (stale orphan from a shrunk pair store) violates the
    // same invariant and must fail loud too — it would otherwise ride
    // the untouched-component keep path verbatim
    val orphaned = labels.unionByName(
      Seq((99L, 99L)).toDF("id", "cluster_id"))
    val e3 = intercept[IllegalArgumentException] {
      Dedup.retractClusterLabels(orphaned, pairs, Seq(1L).toDF("id"))
    }
    assert(e3.getMessage.contains("orphan labels"))
  }

  test("incrementalSubstringDedup: store windows cover everywhere, fresh dups keep batch-first") {
    val span = "alpha bravo charlie delta echo"
    val store = Seq(
      (1L, s"historic doc with $span inside it"),
      (2L, "another ingested doc entirely distinct"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, s"new doc reusing $span plus fresh words"),  // span covered by STORE (even though 10 is the batch-first)
      (11L, span),                                        // nothing but the stored span -> fully covered
      (12L, "brand new phrase one two three four five six"),  // first of a batch dup -> intact
      (13L, "padding padding phrase one two three four five six"), // repeats doc 12's window -> loses it
      (14L, "totally untouched content"))
      .toDF("doc_id", "text")
    val records = Dedup.substringStoreRecords(store, "doc_id", "text", L = 5)
    val got = Dedup.incrementalSubstringDedup(batch, records, "doc_id", "text", L = 5)
      .as[(Long, Int, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(10L, 11L, 12L, 13L, 14L))
    assert(got(10L)._2 - got(10L)._3 == 5, s"doc10 must lose the stored span: ${got(10L)}")
    assert(got(11L)._3 == 0)
    assert(got(12L)._3 == got(12L)._2.toLong, s"doc12 keeps the batch-first window: ${got(12L)}")
    assert(got(13L)._2 - got(13L)._3 >= 5, s"doc13 loses the repeated window: ${got(13L)}")
    assert(got(14L)._3 == got(14L)._2.toLong)
  }

  test("incrementalSubstringDedup: empty store == exactSubstringDedup; warm == full-corpus pass") {
    val span = "alpha bravo charlie delta echo"
    val storeDocs = Seq(
      (1L, s"first snapshot doc with $span embedded"),
      (2L, "unrelated early doc with its own words"))
      .toDF("doc_id", "text")
    val batchDocs = Seq(
      (10L, s"later doc reusing $span and more"),
      (11L, s"two later docs reusing $span differently"),
      (12L, "completely fresh later doc"))
      .toDF("doc_id", "text")
    val emptyStore = Dedup.substringStoreRecords(
      storeDocs.filter(col("doc_id") < 0), "doc_id", "text", L = 5)
    val viaEmpty = Dedup.incrementalSubstringDedup(
      batchDocs, emptyStore, "doc_id", "text", L = 5)
      .as[(Long, Int, Long, String)].collect().toSet
    val direct = Dedup.exactSubstringDedup(batchDocs, "doc_id", "text", L = 5)
      .as[(Long, Int, Long, String)].collect().toSet
    assert(viaEmpty == direct)
    // warm start: with store ids preceding batch ids, the increment
    // must equal the full-corpus pass restricted to the batch
    val records = Dedup.substringStoreRecords(storeDocs, "doc_id", "text", L = 5)
    val warm = Dedup.incrementalSubstringDedup(
      batchDocs, records, "doc_id", "text", L = 5)
      .as[(Long, Int, Long, String)].collect().toSet
    val full = Dedup.exactSubstringDedup(
      storeDocs.unionByName(batchDocs), "doc_id", "text", L = 5)
      .filter(col("id") >= 10L).as[(Long, Int, Long, String)].collect().toSet
    assert(warm == full && warm.nonEmpty)
    intercept[IllegalArgumentException] {
      Dedup.incrementalSubstringDedup(batchDocs,
        records.withColumnRenamed("gh", "hash"), "doc_id", "text", L = 5)
    }
  }

  test("incrementalNearDup: drops store dups and larger in-batch dup, keeps fresh and empty") {
    val store = Dedup.nearDupStoreRecords(ndStoreDocs, "doc_id", "text")
    val batch = Seq(
      (1L, "already ingested content sitting in the corpus store"), // J=1 vs store -> drop
      (2L, "a genuinely novel document with entirely fresh words"), // fresh
      (3L, "a genuinely novel document with entirely fresh words"), // in-batch dup of 2 -> drop
      (4L, ""),                                                      // zero shingles -> survives
      (5L, null.asInstanceOf[String]))                               // null text -> survives
      .toDF("doc_id", "text")
    val out = Dedup.incrementalNearDup(batch, store, "text", "doc_id",
      threshold = 0.7)
    val got = out.select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(2L, 4L, 5L))
    // survivors carry the full store-append record
    assert(out.columns.contains("shingles") && out.columns.contains("sig") &&
      out.columns.contains("band_keys"))
    val rec = out.filter(col("doc_id") === 2L)
      .select(size(col("sig")), size(col("band_keys"))).as[(Int, Int)].head()
    assert(rec == ((12, 4))) // bands=4 × rowsPerBand=3
    // null/empty text normalizes to the EMPTY shingle set, not null
    val deg = out.filter(col("doc_id").isin(4L, 5L))
      .select(size(col("shingles"))).as[Int].collect()
    assert(deg.toSeq == Seq(0, 0))
  }

  test("incrementalNearDup: store append round-trips — next increment sees survivors") {
    val store = Dedup.nearDupStoreRecords(ndStoreDocs, "doc_id", "text")
    val batch = Seq(
      (1L, "a genuinely novel document with entirely fresh words"),
      (2L, "")).toDF("doc_id", "text")
    val surv = Dedup.incrementalNearDup(batch, store, "text", "doc_id", 0.7)
    val store2 = store.unionByName(
      surv.select(col("doc_id").as("id"), col("shingles"), col("sig")))
    // the same texts under new ids now dup against the UPDATED store;
    // the zero-shingle doc survives again (never enters the band index)
    val batch2 = Seq(
      (10L, "a genuinely novel document with entirely fresh words"),
      (11L, "")).toDF("doc_id", "text")
    val got2 = Dedup.incrementalNearDup(batch2, store2, "text", "doc_id", 0.7)
      .select("doc_id").as[Long].collect().sorted
    assert(got2.toSeq == Seq(11L))
  }

  test("incrementalNearDup: schema/clash/threshold guards fail loud") {
    val store = Dedup.nearDupStoreRecords(ndStoreDocs, "doc_id", "text")
    val batch = Seq((1L, "x y z")).toDF("doc_id", "text")
    assert(intercept[IllegalArgumentException] {
      Dedup.incrementalNearDup(batch, store.drop("sig"), "text", "doc_id", 0.7)
    }.getMessage.contains("id/shingles/sig"))
    assert(intercept[IllegalArgumentException] {
      Dedup.incrementalNearDup(batch.withColumn("sig", lit(1)), store,
        "text", "doc_id", 0.7)
    }.getMessage.contains("collide"))
    assert(intercept[IllegalArgumentException] {
      Dedup.incrementalNearDup(batch, store, "text", "doc_id", 0.0)
    }.getMessage.contains("threshold"))
  }

  test("incremental dedup: bloom auto-sizes from the store; results identical either way") {
    graft.core.Caches.release(spark)
    val store = spark.range(5000)
      .select(TextFunctions.fingerprintMd5(concat(lit("stored doc "), col("id").cast("string"))).as("fp"))
    // derivation: 0 (default) -> store count; positive override wins
    assert(Dedup.bloomKeysFor(store, 0L) == 5000L)
    assert(Dedup.bloomKeysFor(store, 42L) == 42L)
    // WHY it matters: a Bloom sized for 10 keys but fed 5000 marks
    // nearly every FRESH key "maybe" (the prefilter evaporates); sized
    // from the store it stays at ~fpp
    val sat = store.stat.bloomFilter("fp", 10L, 0.01)
    val sized = store.stat.bloomFilter("fp", 5000L, 0.01)
    val fresh = spark.range(2000)
      .select(TextFunctions.fingerprintMd5(concat(lit("fresh doc "), col("id").cast("string"))).as("fp"))
      .as[String].collect()
    val satRate = fresh.count(sat.mightContain).toDouble / fresh.length
    val sizedRate = fresh.count(sized.mightContain).toDouble / fresh.length
    assert(satRate > 0.5, s"under-sized bloom should saturate, maybe-rate $satRate")
    assert(sizedRate < 0.05, s"derived sizing should hold ~fpp, maybe-rate $sizedRate")
    // and the OPERATOR's output is bloom-size-invariant at two store sizes
    for (n <- Seq(50L, 5000L)) {
      val prior = spark.range(n)
        .select(TextFunctions.fingerprintMd5(concat(lit("stored doc "), col("id").cast("string"))).as("fp"))
      val batch = Seq(
        (1L, "stored doc 7"),   // in every store
        (2L, "never stored a"), (3L, "never stored a"), (4L, "never stored b"))
        .toDF("doc_id", "text")
      for (keys <- Seq(0L, 5L)) { // derived vs deliberately saturated
        val got = Dedup.incrementalExactDedup(batch, prior, "text", "doc_id",
          expectedPriorKeys = keys)
          .select("doc_id").as[Long].collect().sorted
        assert(got.toSeq == Seq(2L, 4L), s"store=$n keys=$keys")
      }
    }
    graft.core.Caches.release(spark)
  }

  test("incrementalTtlDedup: store-seeded sessions, observation-advance, readmission, guards") {
    import org.apache.spark.sql.functions.{col => c}
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val ttl = 100L
    // empty store degrades to the batch operator exactly
    val rows = Seq(
      (1L, "alpha", ts(0)), (2L, "alpha", ts(50)), (3L, "alpha", ts(160)),
      (4L, "beta", ts(10)))
      .toDF("doc_id", "text", "ts")
    val emptyStore = Seq.empty[(String, Long)].toDF("fp", "last_ts")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    assert(ids(Dedup.incrementalTtlDedup(rows, emptyStore,
      "text", "doc_id", "ts", ttl)) ==
      ids(Dedup.ttlExactDedup(rows, "text", "doc_id", "ts", ttl)))
    // seeded store: alpha last observed at t=500
    val store = Dedup.ttlStoreRecords(
      Seq((0L, "alpha", ts(500))).toDF("doc_id", "text", "ts"),
      "text", "ts")
    // within-window repeat drops across the store hand-off; a
    // post-expiry re-arrival is readmitted as fresh; a NON-surviving
    // within-window observation still advances the chain (docs 11+12:
    // 12 is > ttl after the STORE obs but only 60s after doc 11)
    val batch = Seq(
      (10L, "alpha", ts(550)),  // gap 50 <= ttl -> drop
      (11L, "alpha", ts(590)),  // gap 40 to obs 550 -> drop
      (12L, "alpha", ts(650)),  // gap 60 to obs 590 -> drop (150 > ttl vs store!)
      (13L, "alpha", ts(800)),  // gap 150 to obs 650 -> readmitted
      (14L, "gamma", ts(5)))    // fresh fp -> survives
      .toDF("doc_id", "text", "ts")
    assert(ids(Dedup.incrementalTtlDedup(batch, store,
      "text", "doc_id", "ts", ttl)) == Set(13L, 14L))
    // batch-then-increment == one-shot over the concatenation
    val all = Seq((0L, "alpha", ts(500))).toDF("doc_id", "text", "ts")
      .unionByName(batch)
    assert(ids(Dedup.incrementalTtlDedup(batch, store,
      "text", "doc_id", "ts", ttl)) + 0L ==
      ids(Dedup.ttlExactDedup(all, "text", "doc_id", "ts", ttl)))
    // out-of-order arrival fails loud (the monotone-chain contract)
    val late = Seq((20L, "alpha", ts(400))).toDF("doc_id", "text", "ts")
    val e = intercept[Exception] {
      Dedup.incrementalTtlDedup(late, store,
        "text", "doc_id", "ts", ttl).count()
    }
    assert(e.getMessage != null && e.getMessage.contains("out-of-order"),
      e.getMessage)
    // equal-micros tie is an in-window repeat, not disorder
    val tie = Seq((21L, "alpha", ts(500))).toDF("doc_id", "text", "ts")
    assert(ids(Dedup.incrementalTtlDedup(tie, store,
      "text", "doc_id", "ts", ttl)).isEmpty)
    // an UNFOLDED append store (multiple rows per fp) folds inside the
    // operator — no fan-out, the max observation wins
    val unfolded = store.unionByName(Dedup.ttlStoreRecords(
      Seq((0L, "alpha", ts(300))).toDF("doc_id", "text", "ts"),
      "text", "ts"))
    assert(ids(Dedup.incrementalTtlDedup(batch, unfolded,
      "text", "doc_id", "ts", ttl)) == Set(13L, 14L))
    intercept[IllegalArgumentException] {
      Dedup.incrementalTtlDedup(batch, store.drop("last_ts"),
        "text", "doc_id", "ts", ttl)
    }
    intercept[IllegalArgumentException] {
      Dedup.incrementalTtlDedup(batch, store, "text", "doc_id", "ts", 0L)
    }
  }

  test("canonicalByScore: fractional score type fails loud (truncation would flip picks)") {
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("id", "cluster_id")
    // 1.9 vs 1.2 would truncate to a 1-vs-1 tie and min-id would pick
    // the LOWER-quality member — the integral gate refuses up front
    val fractional = Seq((1L, 1.2), (2L, 1.9)).toDF("doc_id", "q")
    val e = intercept[IllegalArgumentException] {
      Dedup.canonicalByScore(labels, fractional, "doc_id", "q")
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
    // int scores still pass (the fixed-point encoding path)
    val fixed = Seq((1L, 12L), (2L, 19L)).toDF("doc_id", "q")
    val pick = Dedup.canonicalByScore(labels, fixed, "doc_id", "q")
      .filter(col("is_canonical")).select("id").as[Long].collect().toSeq
    assert(pick == Seq(2L))
  }
}
