package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.SparkInternals
import org.apache.spark.sql.SparkSession

import graft.core.{Caches, Tables}
import graft.SparkEntry

/** One measured run of a workload in this JVM, as a pipeline job runs:
  * a fresh local[4] session, one driver thread, every step built and
  * then written to `<out>/<step>`. Writes the run's figures as JSON to
  * `<result>`; correctness is checked afterwards by the launcher.
  *
  * Arguments: --workload W --data DIR --out DIR --result FILE
  * --trace 0|1 --spawn-ns EPOCH_NS (when the launcher started the JVM).
  */
object Harness {
  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = Workloads.all(opts("workload"))
    val (dir, out, traced) = (opts("data"), opts("out"), opts("trace") == "1")

    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        Paths.get(System.getProperty("java.io.tmpdir"), "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    workload.tables.foreach(Tables.load(spark, dir, _))
    val setupS = (epochNs() - opts("spawn-ns").toLong) / 1e9

    val tracer = if (traced) Some(new Tracer(out)) else None
    tracer.foreach(_.install(spark))
    val p = new Pipeline(spark, dir)
    val memory = ManagementFactory.getMemoryMXBean
    var heapPeak, probeNs, probeCpuNs = 0L
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val stepRows = workload.steps.map { step =>
      val jobs0 = SparkInternals.jobsSubmitted(spark.sparkContext)
      val error = try {
        p.span(step.name, step.module) {
          val df = p.span("build", step.module, "build")(step.build(p))
          p.span("run", step.module, "run") {
            df.write.mode("overwrite").parquet(s"$out/${step.name}")
          }
        }
        ""
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${step.name} FAILED: $e")
          String.valueOf(e.getMessage).take(300)
      }
      val row = Map[String, Any]("name" -> step.name, "module" -> step.module,
        "oracle" -> step.oracle, "error" -> error,
        "jobs" -> (SparkInternals.jobsSubmitted(spark.sparkContext) - jobs0)) ++
        (if (!traced) Map.empty else Map(
          "tracked" -> Caches.trackedCount(spark),
          "storage_bytes" -> spark.sparkContext.getRDDStorageInfo
            .map(i => i.memSize + i.diskSize).sum))
      // Live driver heap at the step boundary, after full collections and
      // with no listener events queued: unlike raw occupancy it does not
      // depend on when the collector or the listeners last ran. The
      // second collection takes what Spark's cleaner released after the
      // first. The probe is not part of the pipeline's time.
      val (g0, c0) = (System.nanoTime(), os.getProcessCpuTime)
      SparkInternals.drainListeners(spark.sparkContext)
      System.gc()
      Thread.sleep(200)
      System.gc()
      heapPeak = math.max(heapPeak, memory.getHeapMemoryUsage.getUsed)
      probeNs += System.nanoTime() - g0
      probeCpuNs += os.getProcessCpuTime - c0
      Caches.release(spark)
      spark.catalog.clearCache()
      row
    }
    val pipelineS = (System.nanoTime() - t0 - probeNs) / 1e9
    val cpuS = (os.getProcessCpuTime - cpu0 - probeCpuNs) / 1e9

    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("setup_s", setupS)
    result.put("pipeline_s", pipelineS)
    result.put("cpu_s", cpuS)
    result.put("heap_peak_mb", heapPeak / 1e6)
    result.put("oracle_sql", workload.steps.map(s => s.oracle -> SparkEntry.oracleSql.getOrElse(s.oracle, ""))
      .toMap.asJava)
    tracer.foreach { t =>
      SparkInternals.drainListeners(spark.sparkContext)
      result.put("layers", Layers(t, p.spans.toSeq, stepRows, pipelineS).asJava)
    }
    result.put("steps", stepRows.map(_.asJava).asJava)
    result.put("spans", p.spans.map { s =>
      Map[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "module" -> s.module, "phase" -> s.phase,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "jobs" -> tracer.flatMap(_.bySpan.get(s.id)).map(_.jobs).getOrElse(-1L)).asJava
    }.asJava)
    Files.writeString(Paths.get(opts("result")), new ObjectMapper().writeValueAsString(result))
    spark.stop()
  }
}
