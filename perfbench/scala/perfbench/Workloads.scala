package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, round}

import graft.SparkEntry
import graft.graph.Ranks

/** One pipeline step: `build` returns the step's DataFrame (running any
  * eager jobs the engine needs to construct it); the harness then writes
  * it. `module` names the layer the step's time is charged to, and
  * `oracle` the `SparkEntry.oracleSql` key its output is checked
  * against. */
final case class Step(name: String, module: String, oracle: String,
    build: Pipeline => DataFrame)

/** A workload: the input tables it reads, opened during set-up, and
  * the steps one run executes in order. */
final case class Workload(tables: Seq[String], steps: Seq[Step])

object Workloads {
  private def gate(name: String, module: String): Step =
    Step(name, module, name, p => SparkEntry.queries(name)(p.spark, p.dir))

  /** The paper's own program: nation trade-edge ETL over lineitem, then
    * PageRank/ArticleRank and HITS on the trade graph. Most of the work
    * is the scan and driver-side superstep loops over a 25-vertex graph;
    * dedup, similarity and streaming are untouched, so a graph-iteration
    * rewrite should move this workload and no other. */
  val tradeGraph = Workload(Seq("lineitem", "orders", "customer", "supplier", "nation"), Seq(
    // q_trade_ranks, with the ETL and the ranking in spans of their own
    // so that scan time and graph time are split.
    Step("trade_ranks", "graph", "q_trade_ranks", p => {
      val edges = p.span("etl.nationTradeEdges", "tables") {
        SparkEntry.nationTradeEdges(p.spark, p.dir).localCheckpoint()
      }
      p.span("graph.rankTable", "graph") {
        Ranks.rankTable(edges, "src_nation", "dst_nation")
          .select(col("name"), round(col("pagerank"), 6).as("pagerank"),
            round(col("articlerank"), 6).as("articlerank"))
      }
    }),
    gate("q_hits", "graph")))

  /** LLM-corpus curation and retrieval: MinHash soft dedup and hybrid
    * BM25 + embedding search as batch reads, then the same Dedup
    * operators used incrementally — bootstrap stores written
    * concurrently (`Caches.runConcurrently`) and a streaming micro-batch
    * that maintains each near-dup cluster's canonical pick against them.
    * No graph. The only workload that exercises dedup, similarity,
    * streaming and the store sinks, so a rewrite of those moves this
    * workload and leaves trade_graph alone. */
  val corpus = Workload(Seq("documents", "embeddings"), Seq(
    gate("q_soft_dedup", "dedup"),
    gate("q_hybrid_search", "similarity"),
    gate("q_stream_canonical", "dedup")))

  val all: Map[String, Workload] = Map(
    "trade_graph" -> tradeGraph,
    "corpus" -> corpus)
}
