package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.graph.Traversal

class TraversalSpec extends SparkSpec {
  import spark.implicits._

  test("hopDistance: chain graph gets exact levels, bound truncates") {
    // a -> b -> c -> d, plus e unreachable
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("e", "e2"))
      .toDF("src", "dst")
    val full = Traversal.hopDistance(edges, "src", "dst", Seq("a"), 5)
      .as[(String, Int)].collect().toMap
    assert(full == Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3))
    val bounded = Traversal.hopDistance(edges, "src", "dst", Seq("a"), 2)
      .as[(String, Int)].collect().toMap
    assert(bounded == Map("a" -> 0, "b" -> 1, "c" -> 2))
  }

  test("hopDistance: first-reach wins when paths of different length exist") {
    // a -> b directly AND a -> x -> b: b must report hop 1
    val edges = Seq(("a", "b"), ("a", "x"), ("x", "b")).toDF("src", "dst")
    val got = Traversal.hopDistance(edges, "src", "dst", Seq("a"), 4)
      .as[(String, Int)].collect().toMap
    assert(got == Map("a" -> 0, "b" -> 1, "x" -> 1))
  }

  test("labelPropagation: two cliques over a bridge keep distinct communities") {
    // 4-cliques: three in-clique neighbours outvote the one bridge
    // label by round 2 (in a 3-clique the round-1 counts tie and the
    // min tie-break lets the bridge label leak — inherent to any
    // deterministic tie-break, not a bug)
    def clique(p: String) = for {
      i <- 1 to 4; j <- (i + 1) to 4
    } yield (s"$p$i", s"$p$j")
    val edges = (clique("a") ++ clique("b") :+ ("a1" -> "b1"))
      .toDF("src", "dst")
    val got = Traversal.labelPropagation(edges, "src", "dst", 3)
      .as[(String, String)].collect().toMap
    assert((1 to 4).map(i => got(s"a$i")).toSet == Set("a1"))
    assert((1 to 4).map(i => got(s"b$i")).toSet == Set("b1"))
  }

  test("labelPropagation is deterministic across runs") {
    val edges = graft.SparkEntry
      .nationTradeEdges(spark, "/root/testdata/sf0.001")
    def run() = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("src_nation").orderBy(desc("amount"), asc("dst_nation"))
      val top3 = edges.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= 3).select(col("src_nation"), col("dst_nation"))
      Traversal.labelPropagation(top3, "src_nation", "dst_nation", 3)
        .as[(String, String)].collect().toMap
    }
    assert(run() == run())
  }

  test("shortestPath prefers a cheap long path over a costly direct edge") {
    // s -> t direct costs 10; s -> a -> b -> t costs 3
    val edges = Seq(
      ("s", "t", 10L), ("s", "a", 1L), ("a", "b", 1L), ("b", "t", 1L))
      .toDF("src", "dst", "w")
    val got = Traversal.shortestPath(edges, "src", "dst", "w", Seq("s"), 5)
      .as[(String, Long)].collect().toMap
    assert(got == Map("s" -> 0L, "a" -> 1L, "b" -> 2L, "t" -> 3L))
    // with only 1 relaxation round the direct edge is the best ≤1-hop path
    val r1 = Traversal.shortestPath(edges, "src", "dst", "w", Seq("s"), 1)
      .as[(String, Long)].collect().toMap
    assert(r1("t") == 10L)
  }

  test("shortestPath with unit weights equals BFS hop distance") {
    val edges = graft.SparkEntry
      .nationTradeEdges(spark, "/root/testdata/sf0.001")
      .select(col("src_nation"), col("dst_nation"), lit(1L).as("w"))
    val hops = Traversal.hopDistance(edges, "src_nation", "dst_nation",
      Seq("NATION_0"), maxHops = 3)
      .as[(String, Int)].collect().toMap
    val sp = Traversal.shortestPath(edges, "src_nation", "dst_nation", "w",
      Seq("NATION_0"), rounds = 3)
      .as[(String, Long)].collect().toMap
    assert(sp == hops.map { case (k, v) => k -> v.toLong })
  }

  test("kCore: cascading peel reaches the exact core") {
    // 4-clique with a hanging tail: at k=3 the tail peels in cascade
    // (f first, then e), the clique survives at within-core degree 3
    val edges = Seq(
      ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
      ("d", "e"), ("e", "f"))
      .toDF("src", "dst")
    val got = Traversal.kCore(edges, "src", "dst", k = 3)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    // a 5-cycle at k=2 survives whole; a path peels to empty
    val cyc = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("4", "5"), ("5", "1"))
      .toDF("src", "dst")
    val got2 = Traversal.kCore(cyc, "src", "dst", 2)
      .as[(String, Long)].collect().toMap
    assert(got2.keySet.size == 5 && got2.values.forall(_ == 2L))
    val path = Seq(("1", "2"), ("2", "3"), ("3", "4")).toDF("src", "dst")
    assert(Traversal.kCore(path, "src", "dst", 2).count() == 0)
    intercept[IllegalArgumentException] {
      Traversal.kCore(path, "src", "dst", 0)
    }
    // fail-loud on a maxRounds exit before the fixpoint: a 3-deep
    // cascade (tail f, then e, then the empty check) cannot finish in
    // one round — a silent non-fixpoint would leave degree-<k vertices
    // in the "core"
    val noFix = intercept[IllegalArgumentException] {
      Traversal.kCore(edges, "src", "dst", k = 3, maxRounds = 1)
    }
    assert(noFix.getMessage.contains("no fixpoint"))
  }

  test("hits: pure hubs and pure authorities separate, integer-exact and deterministic") {
    // h1, h2 point at a1, a2; nothing points at hubs, authorities
    // point nowhere -> hubs have authority 0, authorities have hub 0
    val edges = Seq(
      ("h1", "a1"), ("h1", "a2"), ("h2", "a1"))
      .toDF("src", "dst")
    val got = Traversal.hits(edges, "src", "dst", iters = 4)
      .as[(String, Long, Long)].collect()
      .map { case (n, a, h) => n -> ((a, h)) }.toMap
    // a1 has in-degree 2 vs a2's 1 -> max authority; h1 links both
    // top authorities -> max hub
    assert(got("a1")._1 == 1000000L && got("a2")._1 < 1000000L && got("a2")._1 > 0L)
    assert(got("h1")._2 == 1000000L && got("h2")._2 < 1000000L && got("h2")._2 > 0L)
    assert(got("a1")._2 == 0L && got("a2")._2 == 0L)
    assert(got("h1")._1 == 0L && got("h2")._1 == 0L)
    // deterministic across runs
    val again = Traversal.hits(edges, "src", "dst", iters = 4)
      .as[(String, Long, Long)].collect()
      .map { case (n, a, h) => n -> ((a, h)) }.toMap
    assert(again == got)
  }

  /** The default (driver-local, for these small graphs) path and the
    * distributed one (`localThreshold = 0`) return the same schema and
    * exactly the same rows. `local` must really be the local path. */
  private def sameOnBothPaths(name: String)(run: Long => DataFrame): Unit = {
    val local = run(graft.graph.Ranks.LocalEdgeThreshold)
    val dist = run(0L)
    assert(local.queryExecution.analyzed.isInstanceOf[LocalRelation],
      s"$name: the default path did not run on the driver")
    assert(!dist.queryExecution.analyzed.isInstanceOf[LocalRelation],
      s"$name: localThreshold = 0 did not force the distributed path")
    assert(local.schema == dist.schema, s"$name: schema")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(local) == rows(dist), s"$name: rows")
  }

  /** Every loop, both paths, over one edge list (src, dst, w). */
  private def allLoopsAgree(tag: String, e: DataFrame, seeds: Seq[String]): Unit = {
    sameOnBothPaths(s"$tag hopDistance")(t =>
      Traversal.hopDistance(e, "src", "dst", seeds, maxHops = 3, localThreshold = t))
    sameOnBothPaths(s"$tag labelPropagation")(t =>
      Traversal.labelPropagation(e, "src", "dst", iters = 3, localThreshold = t))
    for (k <- Seq(1, 2, 3))
      sameOnBothPaths(s"$tag kCore k=$k")(t =>
        Traversal.kCore(e, "src", "dst", k = k, localThreshold = t))
    sameOnBothPaths(s"$tag hits")(t =>
      Traversal.hits(e, "src", "dst", iters = 3, localThreshold = t))
    sameOnBothPaths(s"$tag shortestPath")(t =>
      Traversal.shortestPath(e, "src", "dst", "w", seeds, rounds = 4, localThreshold = t))
  }

  test("local ≡ distributed: every loop on the sf0.001 nation graph and its top-3 backbone") {
    val edges = graft.SparkEntry.nationTradeEdges(spark, "/root/testdata/sf0.001")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src_nation").orderBy(desc("amount"), asc("dst_nation"))
    val top3 = edges.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= 3)
      .select(col("src_nation").as("src"), col("dst_nation").as("dst"),
        col("_rn").cast("long").as("w"))
      .localCheckpoint()
    allLoopsAgree("top3", top3, Seq("NATION_0"))
    val full = edges.select(col("src_nation").as("src"), col("dst_nation").as("dst"),
      lit(1L).as("w")).localCheckpoint()
    sameOnBothPaths("full hits")(t =>
      Traversal.hits(full, "src", "dst", iters = 4, localThreshold = t))
    sameOnBothPaths("full shortestPath")(t =>
      Traversal.shortestPath(full, "src", "dst", "w", Seq("NATION_3"), 3, localThreshold = t))
  }

  // duplicate edges, self-loops, a 3-clique (round-1 label ties), a
  // tie between labels whose UTF-16 and UTF-8 orders disagree, a
  // 2-cycle, and a seed with no edges
  private val handEdges = Seq(
    ("a", "b", 1L), ("a", "b", 1L), ("b", "b", 2L), ("b", "c", 5L),
    ("c", "a", 1L), ("a", "c", 9L), ("c", "d", 1L), ("d", "e", 3L),
    ("e", "d", 3L), ("x", "\uFF21", 2L), ("x", "\uD83D\uDE00", 2L))

  test("local ≡ distributed: self-loops, duplicate edges, label ties, an edgeless seed") {
    val e = handEdges.toDF("src", "dst", "w")
    allLoopsAgree("hand", e, Seq("a", "z"))
    // the tie at x goes to the smaller label in UTF-8 byte order
    val lp = Traversal.labelPropagation(e, "src", "dst", iters = 1)
      .as[(String, String)].collect().toMap
    assert(lp("x") == "\uFF21")
  }

  test("local ≡ distributed: non-string vertex columns keep their type") {
    val ids = handEdges.flatMap(t => Seq(t._1, t._2)).distinct.zipWithIndex.toMap
    val asLong = handEdges.map { case (s, d, w) => (ids(s).toLong, ids(d).toLong, w) }
      .toDF("src", "dst", "w")
    // "01" and "0" both name vertex 0 once cast; "99" has no edges
    allLoopsAgree("long", asLong, Seq("0", "01", "99"))
    val asInt = handEdges.map { case (s, d, w) => (ids(s), ids(d), w.toInt) }
      .toDF("src", "dst", "w")
    allLoopsAgree("int", asInt, Seq("2"))
    assert(Traversal.hits(asInt, "src", "dst", 2).schema("name").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("local ≡ distributed: kCore's fixpoint check and HITS overflow throw on both paths") {
    val e = handEdges.toDF("src", "dst", "w")
    for (t <- Seq(graft.graph.Ranks.LocalEdgeThreshold, 0L)) {
      val noFix = intercept[IllegalArgumentException] {
        Traversal.kCore(e, "src", "dst", k = 2, maxRounds = 1, localThreshold = t)
      }
      assert(noFix.getMessage.contains("no fixpoint"), s"threshold $t")
      // hub seeds of 2^62: the first raw·scale product leaves BIGINT
      val err = intercept[Exception] {
        Traversal.hits(e, "src", "dst", iters = 1, scale = 1L << 62,
          localThreshold = t).collect()
      }
      val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage).toLowerCase)
      assert(msgs.exists(_.contains("overflow")), s"threshold $t: $err")
    }
  }
}
