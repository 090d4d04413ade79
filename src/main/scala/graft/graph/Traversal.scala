package graft.graph

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.Caches.TrackedPersist

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** Iterative graph-traversal queries the reference's graph store would
  * answer in Cypher (`MATCH (a)-[*..k]->(b)`, community detection) —
  * re-expressed as bounded DataFrame iteration: each superstep is one
  * keyed join + aggregation, exactly the shuffle a Pregel round pays,
  * with the frontier/label set as the only iterated state.
  *
  * Scale shape: every loop is gated on its edge count, like
  * `Ranks.rankTable` and `Dedup.connectedComponents`, with the same
  * 100k-edge threshold (`Ranks.LocalEdgeThreshold`). One bounded
  * `limit(threshold + 1)` collect decides the path. At or under the
  * threshold the driver holds the edge list and runs the rounds as
  * plain collection code, returning a local DataFrame with the
  * distributed path's schema and exactly its rows. A small graph
  * otherwise pays one Catalyst/AQE re-plan and a few near-empty jobs
  * per superstep. Above the threshold the rounds run distributed:
  * per-superstep cost is O(frontier ⋈ edges) with short-key
  * exchanges, and the driver sees only per-round convergence counts
  * and maxima, never vertex data. Rounds are explicitly bounded
  * (maxHops / iters / rounds) or checkpointed per round, so plan depth
  * stays fixed. `localThreshold = 0` forces the distributed path for
  * any non-empty edge list (specs pin local ≡ distributed).
  */
object Traversal {

  /** The small-graph gate every loop shares. ONE bounded action
    * collects at most `threshold + 1` rows of the projected edge list
    * `proj`. `Some(rows)` means the whole list fits and the loop runs on
    * the driver; `None` means the distributed supersteps run and the
    * gate's rows are dropped. Two more cases take the distributed path,
    * whose join and sort semantics are the definition the local cores
    * mirror: rows with a null column (a null key never joins, but it
    * can still group), and key types whose Spark equality or order is
    * not the JVM's (floating point, binary, collated strings). */
  private def smallGraph(proj: DataFrame, threshold: Long): Option[Array[Row]] = {
    val keyable = proj.schema.forall(f => f.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case t => t == StringType
    })
    if (!keyable) return None
    val rows = proj.limit(math.min(threshold, Int.MaxValue - 1L).toInt + 1).collect()
    if (rows.length <= threshold && !rows.exists(_.anyNull)) Some(rows) else None
  }

  /** A driver-local result with `like`'s schema. `like` is the
    * distributed plan's shape, analysed but never run, so both paths
    * agree on column types and nullability. */
  private def localFrame(like: DataFrame, rows: Seq[Row]): DataFrame =
    like.sparkSession.createDataFrame(rows.asJava, like.schema)

  /** Seeds coerced to the vertex type `vt` as the distributed union
    * coerces them (a malformed seed throws the same cast error). The
    * cast runs on a local relation, so it launches no job. */
  private def castSeeds(seeded: DataFrame, vt: DataType): Seq[Any] =
    seeded.select(col("name").cast(vt)).collect().map(_.get(0)).toSeq

  /** Spark's ascending order on a gated key type: UTF-8 byte order for
    * strings (UTF-16 `compareTo` differs above U+E000), numeric
    * otherwise. */
  private def keyOrdering(vt: DataType): Ordering[Any] =
    if (vt == StringType) Ordering.by((v: Any) => UTF8String.fromString(v.asInstanceOf[String]))
    else Ordering.by((v: Any) => v.asInstanceOf[Number].longValue)

  /** Both directions of every edge. */
  private def undirected(edges: Array[Row]): Array[(Any, Any)] =
    edges.flatMap(r => Seq(r.get(0) -> r.get(1), r.get(1) -> r.get(0)))

  /** Unweighted BFS hop distance from `seeds` along directed edges,
    * bounded at `maxHops`. Returns (name, hop) for every vertex
    * reached, hop = first-reach level (deterministic regardless of
    * partitioning: set semantics per level). Early-exits when a
    * frontier drains before the bound. */
  def hopDistance(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Seq[String], maxHops: Int,
      localThreshold: Long = Ranks.LocalEdgeThreshold): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val spark = edges.sparkSession
    import spark.implicits._
    val seeded = seeds.toDF("name").withColumn("hop", lit(0))
    if (maxHops == 0) return seeded
    val proj = edges.select(col(srcCol).as("_s"), col(dstCol).as("_d"))
    // the result's shape: seeds widened with the reached vertices
    val like = seeded.unionByName(proj.select(col("_d").as("name"), lit(1).as("hop")))
    val vt = like.schema("name").dataType
    val small = smallGraph(proj.select(col("_s").cast(vt), col("_d").cast(vt)),
      localThreshold)
    if (small.isDefined)
      return localFrame(like, hopsLocal(small.get, castSeeds(seeded, vt), maxHops))
    val e = proj.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    var dist = seeded
    var frontier = dist
    var k = 0
    var drained = false
    while (k < maxHops && !drained) {
      k += 1
      val next = frontier.join(e, col("name") === col("_s"))
        .select(col("_d").as("name")).distinct()
        .join(dist, Seq("name"), "left_anti")
        .withColumn("hop", lit(k))
        .persistTracked()
      drained = next.isEmpty // the one action per superstep
      dist = dist.unionByName(next)
      frontier = next
    }
    e.unpersist()
    dist
  }

  /** [[hopDistance]] on the driver: set-at-a-time BFS levels, seeds
    * (duplicates kept, as the distributed union keeps them) at hop 0. */
  private def hopsLocal(edges: Array[Row], seeds: Seq[Any], maxHops: Int): Seq[Row] = {
    val adj = edges.groupMap(_.get(0))(_.get(1))
    val seen = mutable.HashSet[Any](seeds: _*)
    val out = mutable.ArrayBuffer[Row](seeds.map(Row(_, 0)): _*)
    var frontier = seeds.distinct
    var k = 0
    while (k < maxHops && frontier.nonEmpty) {
      k += 1
      frontier = frontier.flatMap(adj.getOrElse(_, Array.empty[Any])).filter(seen.add)
      out ++= frontier.map(Row(_, k))
    }
    out.toSeq
  }

  /** Synchronous label propagation (community detection), `iters` fixed
    * rounds over the UNDIRECTED view of the edges. Every vertex starts
    * with its own name as label; each round it adopts the most frequent
    * label among its neighbours, ties broken by smallest label — the
    * deterministic variant of classic LPA (async/random tie-breaks
    * would never hash-verify). Returns (name, community). */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, localThreshold: Long = Ranks.LocalEdgeThreshold): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val und0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .unionByName(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct()
    // the result's shape: every vertex its own community (iters = 0)
    val like = und0.select(col("a").as("name")).distinct()
      .withColumn("community", col("name"))
    val vt = like.schema("name").dataType
    val small = smallGraph(edges.select(col(srcCol).cast(vt), col(dstCol).cast(vt)),
      localThreshold)
    if (small.isDefined)
      return localFrame(like, labelsLocal(small.get, iters, keyOrdering(vt)))
    val und = und0.persistTracked()
    var labels = und.select(col("a").as("name")).distinct()
      .withColumn("label", col("name"))
    val w = Window.partitionBy(col("a"))
      .orderBy(col("_n").desc, col("label").asc)
    for (_ <- 1 to iters) {
      labels = und
        .join(labels.withColumnRenamed("name", "b"), Seq("b"))
        .groupBy(col("a"), col("label")).agg(count(lit(1)).as("_n"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("a").as("name"), col("label"))
        // per-round lineage truncation (same policy as shortestPath /
        // connectedComponents). Checkpoint blocks are RDD-level
        // (invisible to CacheManager — CheckpointProbeSpec pins this),
        // so superseded rounds are reclaimed by the ContextCleaner
        // once this loop drops their frame reference: category 3 of
        // the cache-hygiene policy — eager unpersist is impossible
        // (no CacheManager entry) AND unsafe (no lineage to recompute
        // a checkpointed frame from).
        .localCheckpoint()
    }
    // labels is localCheckpoint()ed each round, so after >= 1 round
    // the undirected-edge cache is releasable here (same policy as
    // shortestPath); at iters = 0 labels still reads through `und`,
    // so leave that degenerate case to Caches.release
    if (iters > 0) und.unpersist()
    labels.withColumnRenamed("label", "community")
  }

  /** [[labelPropagation]] on the driver: each round every vertex takes
    * its neighbours' most frequent label, ties to the smallest. */
  private def labelsLocal(edges: Array[Row], iters: Int, ord: Ordering[Any]): Seq[Row] = {
    val nbrs = undirected(edges).distinct.groupMap(_._1)(_._2)
    val byCountThenLabel = Ordering.Tuple2(Ordering.Long.reverse, ord)
    var label: Map[Any, Any] = nbrs.map { case (v, _) => v -> v }
    for (_ <- 1 to iters)
      label = nbrs.map { case (v, bs) =>
        v -> bs.groupMapReduce(label)(_ => 1L)(_ + _)
          .minBy { case (l, n) => (n, l) }(byCountThenLabel)._1
      }
    label.iterator.map { case (v, l) => Row(v, l) }.toSeq
  }

  /** k-core membership (X125): iteratively peel vertices whose
    * UNDIRECTED degree is < k until a fixpoint; returns the k-core's
    * vertices with their within-core degree. Peeling is monotone, so
    * an early-stopped run equals any longer bound — which is what lets
    * a fixed-round chained-CTE oracle verify an early-exit loop.
    *
    * Scale shape: each round is one degree partial-agg + two semi-joins
    * on the edge list (all key-only shuffles — no vertex data rides
    * along), with per-round `localCheckpoint` lineage truncation (the
    * labelPropagation policy). Rounds are data-dependent but bounded
    * by the peel depth, which is ≤ the degeneracy ordering's length —
    * on real graphs tens of rounds, and each round strictly shrinks
    * the edge set or exits. The early-exit count probe reads a
    * checkpointed frame — O(1) result, no recompute. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 1000,
      localThreshold: Long = Ranks.LocalEdgeThreshold): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val und0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .unionByName(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
    val like = coreDegrees(und0)
    val vt = like.schema("name").dataType
    val small = smallGraph(edges.select(col(srcCol).cast(vt), col(dstCol).cast(vt)),
      localThreshold)
    if (small.isDefined) return localFrame(like, coreLocal(small.get, k, maxRounds))
    var und = und0.localCheckpoint()
    var prev = und.count()
    var round = 0
    var converged = prev == 0L
    while (!converged && round < maxRounds) {
      // shuffle-hash pinned: the survivor vertex set is graph-sized —
      // never a broadcast assumption from small-SF stats
      val keep = und.groupBy(col("a")).agg(count(lit(1)).as("_d"))
        .filter(col("_d") >= k).select(col("a"))
      val next = und.join(keep.hint("shuffle_hash"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("a", "b").hint("shuffle_hash"),
          Seq("b"), "left_semi")
        .select("a", "b")
        .localCheckpoint()
      val n = next.count()
      converged = n == prev
      prev = n
      und = next
      round += 1
    }
    requireFixpoint(converged, maxRounds)
    coreDegrees(und)
  }

  private def coreDegrees(und: DataFrame): DataFrame =
    und.groupBy(col("a")).agg(count(lit(1)).as("core_degree"))
      .withColumnRenamed("a", "name")

  // fail-loud, not silent truncation: a maxRounds exit before the
  // fixpoint would return vertices with degree < k still present —
  // rounds needed scale with the peel depth, so the bound must be
  // raised, never quietly absorbed (repo require() convention)
  private def requireFixpoint(converged: Boolean, maxRounds: Int): Unit =
    require(converged,
      s"kCore: no fixpoint within maxRounds=$maxRounds rounds " +
        "(peel depth exceeds the bound) — raise maxRounds")

  /** [[kCore]] on the driver: the same peel rounds and fixpoint test
    * over the symmetric, self-loop-free edge set. */
  private def coreLocal(edges: Array[Row], k: Int, maxRounds: Int): Seq[Row] = {
    var und = undirected(edges).filter(p => p._1 != p._2).distinct
    var prev = und.length
    var round = 0
    var converged = prev == 0
    while (!converged && round < maxRounds) {
      val deg = und.groupMapReduce(_._1)(_ => 1)(_ + _)
      und = und.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
      converged = und.length == prev
      prev = und.length
      round += 1
    }
    requireFixpoint(converged, maxRounds)
    und.groupMapReduce(_._1)(_ => 1L)(_ + _).iterator
      .map { case (v, d) => Row(v, d) }.toSeq
  }

  /** HITS hubs & authorities (X126) in EXACT integer arithmetic:
    * authority(v) = Σ hub(u) over in-edges u→v, hub(u) = Σ authority(v)
    * over out-edges, L∞-normalized after each half-step by integral
    * division floor(x·SCALE / max) — BIGINT sums and `div` only, so
    * every engine computes bit-identical scores (a float HITS would
    * hash-drift on sum order; the L∞ norm specifically because max is
    * order-free where an L1/L2 norm would be an unordered float sum).
    * Fixed `iters` full rounds (Kleinberg's power iteration, the
    * deterministic bounded form — same policy as the PageRank delta
    * series); vertices missing a side score 0 on it. Exact while
    * n·SCALE² < 2⁶³ (n < 9·10⁶ at SCALE 10⁶ — drop SCALE a decade per
    * decade of vertices beyond that).
    *
    * Scale shape: at or under `localThreshold` edges (the gate shared
    * with Ranks and CC, 100k by default) the half-steps run on the
    * driver over collected edges: the same BIGINT sums and `div`, with
    * `Math.addExact`/`multiplyExact` so an overflow throws as the ANSI
    * distributed path does. Above it, per half-step one edge-keyed
    * partial-agg shuffle (scores ride as one BIGINT per vertex) and
    * one O(1)-result max action; scores re-enter the plan by join, not
    * literals, so the driver never holds the vertex set. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, scale: Long = 1000000L,
      localThreshold: Long = Ranks.LocalEdgeThreshold): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col(srcCol).as("_s"), col(dstCol).as("_d"))
      .filter(col("_s") =!= col("_d")).distinct()
    val verts = e.select(col("_s").as("name"))
      .unionByName(e.select(col("_d").as("name"))).distinct()
    // the result's shape, and the empty result (no edges -> no vertices)
    val like = verts.withColumn("authority", lit(0L)).withColumn("hub", lit(0L))
    val vt = like.schema("name").dataType
    val small = smallGraph(edges.select(col(srcCol).cast(vt), col(dstCol).cast(vt)),
      localThreshold)
    if (small.isDefined) return localFrame(like, hitsLocal(small.get, iters, scale))
    e.persistTracked()
    verts.persistTracked()
    // the max() below would read NULL off an empty aggregate
    if (e.isEmpty) return like
    def normalized(raw0: DataFrame, scoreName: String): DataFrame = {
      // materialize the edge-join + partial agg ONCE (r21, guide §1.2):
      // checkpointing the NORMALIZED frame after the max action computed
      // the same join+agg twice per half-step — checkpoint the RAW
      // scores instead, read the max off the checkpointed rows, and let
      // the vertex-sized normalize join pipeline into the next
      // half-step's job. Halves the per-iteration shuffle work; the
      // per-round lineage truncation the checkpoint exists for is
      // unchanged (raw is the only frame the next step references).
      val raw = raw0.localCheckpoint()
      // O(1)-result action; non-null because e is non-empty and hub
      // scores start positive
      val mx = raw.agg(max(col("_raw"))).first().getLong(0)
      // shuffle-hash pinned: both sides are vertex-sized
      verts.join(raw.hint("shuffle_hash"), Seq("name"), "left")
        .select(col("name"),
          coalesce(expr(s"_raw * ${scale}L div ${mx}L"), lit(0L)).as(scoreName))
    }
    var hub = verts.withColumn("hub", lit(scale))
    // assigned on the first half-step (iters >= 1) — only hubs seed
    // in Kleinberg's iteration; there is no authority seed
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      auth = normalized(
        e.join(hub.withColumnRenamed("name", "_s").hint("shuffle_hash"), Seq("_s"))
          .groupBy(col("_d").as("name")).agg(sum(col("hub")).as("_raw")),
        "authority")
      hub = normalized(
        e.join(auth.withColumnRenamed("name", "_d").hint("shuffle_hash"), Seq("_d"))
          .groupBy(col("_s").as("name")).agg(sum(col("authority")).as("_raw")),
        "hub")
    }
    auth.join(hub, Seq("name"))
  }

  /** [[hits]] on the driver over the distinct non-self-loop edges. */
  private def hitsLocal(edges: Array[Row], iters: Int, scale: Long): Seq[Row] = {
    val pairs = edges.map(r => (r.get(0), r.get(1))).filter(p => p._1 != p._2).distinct
    if (pairs.isEmpty) return Nil
    val verts = (pairs.map(_._1) ++ pairs.map(_._2)).distinct
    val id = verts.zipWithIndex.toMap
    val src = pairs.map(p => id(p._1))
    val dst = pairs.map(p => id(p._2))
    val n = verts.length
    // one half-step: sum `from` along edges from -> to, then
    // raw·scale div max over the vertices that received a sum; the
    // rest score 0 (the distributed left join's coalesce)
    def halfStep(from: Array[Long], in: Array[Int], to: Array[Int]): Array[Long] = {
      val raw = new Array[Long](n)
      val got = new Array[Boolean](n)
      var i = 0
      while (i < in.length) {
        raw(to(i)) = Math.addExact(raw(to(i)), from(in(i)))
        got(to(i)) = true
        i += 1
      }
      val mx = raw.indices.filter(got).map(raw).max
      Array.tabulate(n)(v => if (got(v)) Math.multiplyExact(raw(v), scale) / mx else 0L)
    }
    var hub = Array.fill(n)(scale)
    var auth: Array[Long] = null
    for (_ <- 1 to iters) {
      auth = halfStep(hub, src, dst)
      hub = halfStep(auth, dst, src)
    }
    verts.indices.map(v => Row(verts(v), auth(v), hub(v)))
  }

  /** Weighted shortest path from `seeds` — bounded Bellman–Ford:
    * `rounds` synchronous relaxation supersteps over directed edges
    * with non-negative integer weights, so the result is the exact
    * min-cost distance among paths of ≤ `rounds` edges. Fixed round
    * count (no early exit) keeps the computation a pure function of
    * (edges, seeds, rounds) — the same recurrence an oracle can chase
    * CTE-by-CTE. BIGINT min-sums all the way: nothing to round, any
    * engine agrees bit-for-bit.
    *
    * Scale shape: each superstep is one frontier ⋈ edges equi-join +
    * one min-agg keyed by vertex — exactly a Pregel round's shuffle;
    * state is one (vertex, dist) row per reached vertex. Unreached
    * vertices never materialize. */
  def shortestPath(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: Seq[String], rounds: Int,
      localThreshold: Long = Ranks.LocalEdgeThreshold): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val seeded = seeds.toDF("name").withColumn("dist", lit(0L))
    if (rounds == 0) return seeded
    val proj = edges.select(col(srcCol).as("_s"), col(dstCol).as("_d"),
      col(weightCol).cast("long").as("_w"))
    val like = relax(seeded, proj)
    val vt = like.schema("name").dataType
    val small = smallGraph(
      proj.select(col("_s").cast(vt), col("_d").cast(vt), col("_w")), localThreshold)
    if (small.isDefined)
      return localFrame(like, pathsLocal(small.get, castSeeds(seeded, vt), rounds))
    val e = proj.persist(StorageLevel.MEMORY_AND_DISK)
    var dist = seeded
    for (_ <- 1 to rounds) {
      dist = relax(dist, e)
        // truncate lineage per round (same policy as
        // Dedup.connectedComponents): without it the nested
        // join+agg plan deepens every round and Catalyst/AQE re-plan
        // the whole history each superstep. Superseded rounds'
        // checkpoint blocks are RDD-level and ContextCleaner-reclaimed
        // (category 3 — see labelPropagation / CheckpointProbeSpec).
        .localCheckpoint()
    }
    // dist is localCheckpoint()ed each round, so the projected-edge
    // cache is safe to release here (hopDistance does the same) —
    // callers outside Bench's clearCache would otherwise leak it
    e.unpersist()
    dist
  }

  /** One synchronous Bellman–Ford superstep over (_s, _d, _w) edges. */
  private def relax(dist: DataFrame, e: DataFrame): DataFrame = {
    val relaxed = dist.join(e, col("name") === col("_s"))
      .select(col("_d").as("name"), (col("dist") + col("_w")).as("dist"))
    dist.unionByName(relaxed).groupBy(col("name")).agg(min(col("dist")).as("dist"))
  }

  /** [[shortestPath]] on the driver: each round relaxes every edge out
    * of the previous round's distances, `Math.addExact` for ANSI's
    * overflow error. */
  private def pathsLocal(edges: Array[Row], seeds: Seq[Any], rounds: Int): Seq[Row] = {
    val es = edges.map(r => (r.get(0), r.get(1), r.getLong(2)))
    var dist: Map[Any, Long] = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val next = mutable.HashMap.from(dist)
      for ((s, d, w) <- es; ds <- dist.get(s)) {
        val c = Math.addExact(ds, w)
        if (next.get(d).forall(c < _)) next(d) = c
      }
      dist = next.toMap
    }
    dist.iterator.map { case (v, d) => Row(v, d) }.toSeq
  }
}
