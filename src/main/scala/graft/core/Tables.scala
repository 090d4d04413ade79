package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver's synthetic parquet tables
  * (`/root/testdata/sf*`, schemas in FIXTURES.md §B).
  *
  * Every load is a `spark.read.parquet` of the table path, so Catalyst
  * keeps full pushdown/pruning freedom — at 100 TB these would be
  * partitioned tables behind a catalog; nothing here assumes
  * single-file inputs. Spark infers a parquet schema with a one-task
  * job per read, so [[load]] keeps a per-session schema memo: the
  * first load of a path infers, later loads pass Spark's own inferred
  * schema back (`spark.read.schema(s).parquet`) and plan without a
  * job. The memo key is the path, a fingerprint of its file listing
  * (name, length, modification time of every file) and the session's
  * parquet-read settings (every `spark.sql.parquet.*` /
  * `spark.sql.legacy.parquet.*` value, `spark.sql.caseSensitive`,
  * partition-column type inference) — rewritten files or a changed
  * setting re-infer instead of going stale.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** (session, path, read settings) → (file-listing fingerprint,
    * inferred schema); one entry per path and settings, replaced when
    * the listing changes. Stopped sessions' entries are swept on
    * insert, as in [[Caches.memoizedArtifact]]. */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Seq[(String, String)]), (Seq[(String, Long, Long)], StructType)]()

  /** `spark.read.parquet` of the table with the schema inferred once
    * per session (see the header). A path that cannot be listed takes
    * the plain read, so a missing table still raises Spark's own
    * `PATH_NOT_FOUND`. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val listing =
      try {
        val root = new org.apache.hadoop.fs.Path(path)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // plain listStatus: `listFiles` builds LocatedFileStatus, whose
        // permission copy forks a shell per file on the local file system
        def walk(p: org.apache.hadoop.fs.Path): Seq[(String, Long, Long)] =
          fs.listStatus(p).toSeq.flatMap(f =>
            if (f.isDirectory) walk(f.getPath)
            else Seq((f.getPath.toString, f.getLen, f.getModificationTime)))
        Some(walk(root).sorted)
      } catch { case _: java.io.IOException => None }
    listing match {
      case None => spark.read.parquet(path)
      case Some(files) =>
        val settings = spark.conf.getAll.toSeq.filter { case (k, _) =>
          k.startsWith("spark.sql.parquet.") ||
          k.startsWith("spark.sql.legacy.parquet.") ||
          k == "spark.sql.caseSensitive" ||
          k == "spark.sql.sources.partitionColumnTypeInference.enabled"
        }.sorted
        val key = (spark, path, settings)
        Option(schemaMemo.get(key)) match {
          case Some((`files`, schema)) => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            schemaMemo.keySet.removeIf(_._1.sparkContext.isStopped)
            schemaMemo.put(key, (files, df.schema))
            df
        }
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** The events parquet's `ts` physical type has varied across driver
    * generations — TIMESTAMP(NANOS) (Spark 4 rejects by default; read
    * as long via the legacy conf and integer-divide to micros, no
    * double rounding), TIMESTAMP(MICROS) without UTC adjustment (reads
    * as TIMESTAMP_NTZ; cast re-types it under the session zone — UTC
    * everywhere in this repo — so downstream event-time code sees one
    * type), or a plain UTC-adjusted timestamp. Normalize all three to
    * TimestampType here so no consumer branches on the source. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Widen a frame to the session's parallelism ONLY when its plan
    * yields fewer partitions than that (guide §2.4/§2.5): small
    * single-file bench inputs arrive as one scan split, which would
    * serialize per-row-heavy kernels on one core — those still get the
    * round-robin widening. A 100 TB input already carries thousands of
    * scan splits, and the old unconditional `repartition(parallelism)`
    * forced a full corpus round-robin exchange (plus Spark's
    * sort-before-repartition pass) that did nothing but REDUCE
    * parallelism to the core count.
    *
    * The probe must not run jobs, which constrains it to NARROW plans:
    * `df.rdd` under AQE materializes every intermediate query stage of
    * a plan containing exchanges (AdaptiveSparkPlanExec executes them
    * to pick the final plan — measured +10 silently-run jobs on
    * q_ingest_full when this probe was unconditional), and executing
    * the NON-adaptive `sparkPlan` instead trips planner edges AQE
    * normally papers over (a 1-vs-32 zip in a non-adaptive
    * shuffled-join under a bloom-split union). So: plans made of only
    * a leaf + narrow operators (project/filter/generate) — the raw
    * table scans that matter at 100 TB — are probed via `.rdd` (no
    * stages exist, nothing materializes) and skip the exchange when
    * already wide; anything containing a shuffle keeps the pre-r21
    * unconditional widening (its input is already
    * shuffle-partitioned, so the round-robin there is
    * parallelism-neutral, and probing it is what was unsafe). Results
    * are identical either way: every downstream consumer is
    * partitioning-agnostic (partial aggs, deterministic tie-breaks). */
  def spreadIfNarrow(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical
    val target = df.sparkSession.sparkContext.defaultParallelism
    // streaming plans cannot be partition-probed (`.rdd` throws) and a
    // single-file micro-batch arrives as one split — keep the
    // pre-r21 unconditional widening for every streaming caller,
    // present or future (r22, ADVICE item; the guard previously lived
    // only in Multimodal.spreadIds)
    if (df.isStreaming) return df.repartition(target)
    def narrowOnly(p: logical.LogicalPlan): Boolean = p match {
      case _: logical.LeafNode => true
      case _: logical.Project | _: logical.Filter | _: logical.Generate |
          _: logical.SubqueryAlias =>
        narrowOnly(p.children.head)
      // a union of narrow subtrees is itself exchange-free: probing its
      // .rdd materializes nothing, and skipping the round-robin when it
      // is already wide removes the one remaining shape on which a wide
      // non-trivial input silently paid a full corpus shuffle (r22,
      // VERDICT item 5)
      case u: logical.Union => u.children.forall(narrowOnly)
      case _ => false
    }
    if (narrowOnly(df.queryExecution.analyzed)) {
      if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
    } else df.repartition(target)
  }
}
