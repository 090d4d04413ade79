package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** A timed interval of the run. `parent` is the enclosing span's id
  * (-1 at the top); `phase` is "build" or "run" on a step's two phase
  * spans and empty elsewhere. */
final case class Span(id: Int, parent: Int, name: String, module: String,
    phase: String, startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What a step sees: the session, the generated input directory, and
  * `span`, which times a block and tags every Spark job it starts with
  * the span's id through a local property of the benchmark's own. Local
  * properties are inherited by threads the block starts (streaming
  * executions, concurrent materialization pools), and unlike the job
  * group they are not overwritten by streaming executions. */
final class Pipeline(val spark: SparkSession, val dir: String) {
  val spans = ArrayBuffer.empty[Span]
  private var current = -1

  def span[T](name: String, module: String, phase: String = "")(body: => T): T = {
    val sc = spark.sparkContext
    val s = Span(spans.size, current, name, module, phase, System.nanoTime())
    spans += s
    val outer = current
    current = s.id
    sc.setLocalProperty(Pipeline.SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      current = outer
      sc.setLocalProperty(Pipeline.SpanKey, if (outer < 0) null else outer.toString)
    }
  }
}

object Pipeline {
  val SpanKey = "perfbench.span"
}
