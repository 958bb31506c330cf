package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. Spans of one pipeline
  * run share `run`; `parent` is the enclosing span (0 for a run's root).
  * `codegenNs` is the whole-JVM code-generation compile time that
  * elapsed inside the span.
  */
final case class Span(run: Int, id: Int, parent: Int, name: String,
    layer: String, startNs: Long, endNs: Long, codegenNs: Long) {
  def durNs: Long = endNs - startNs
  def json: String =
    s"""{"run":$run,"id":$id,"parent":$parent,"name":"$name","layer":"$layer",""" +
      s""""start_ns":$startNs,"end_ns":$endNs,"codegen_ns":$codegenNs}"""
}

/** Records spans in memory. Each span also sets the Spark job group to
  * its layer, so the listeners below can charge jobs and tasks to it.
  * Spans must nest: the benchmark calls the layers one after another
  * from one thread.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val JobGroup = "spark.jobGroup.id"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def span[T](run: Int, name: String, layer: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    val prevGroup = Option(sc.getLocalProperty(JobGroup))
    sc.setJobGroup(layer, name)
    stack = id :: stack
    val c0 = CodeGenerator.compileTime
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val c1 = CodeGenerator.compileTime
      stack = stack.tail
      prevGroup match {
        case Some(g) => sc.setJobGroup(g, g)
        case None => sc.clearJobGroup()
      }
      spans += Span(run, id, parent, name, layer, t0, t1, c1 - c0)
    }
  }

  def runSpans(run: Int): Seq[Span] = spans.filter(_.run == run).toSeq

  /** Self time and self codegen time of each span of `run`: its own
    * figure minus what its child spans cover.
    */
  def selfTimes(run: Int): Seq[(Span, Long, Long)] = {
    val rs = runSpans(run)
    val kids = rs.groupBy(_.parent)
    rs.map { s =>
      val ch = kids.getOrElse(s.id, Seq.empty)
      (s, s.durNs - ch.map(_.durNs).sum, s.codegenNs - ch.map(_.codegenNs).sum)
    }
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, spans.map(_.json).mkString("", "\n", "\n"))
  }
}

/** Spark work charged to one layer. */
final class LayerCounters {
  val jobs, tasks, cpuNs, shuffleBytes, spillBytes, resultBytes = new AtomicLong
}

/** Charges every job and task to the job group it ran under, the layer
  * a [[Tracer]] span named, and counts SQL query executions with the
  * time their analysis, optimization and planning phases took.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val layers = new ConcurrentHashMap[String, LayerCounters]()
  val queries = new AtomicLong
  val planNs = new AtomicLong

  def layer(name: String): LayerCounters =
    layers.computeIfAbsent(name, _ => new LayerCounters)

  def reset(): Unit = {
    stageGroup.clear()
    layers.clear()
    queries.set(0)
    planNs.set(0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("untraced")
    e.stageIds.foreach(stageGroup.put(_, g))
    layer(g).jobs.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = layer(stageGroup.getOrDefault(e.stageId, "untraced"))
    c.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.resultBytes.addAndGet(m.resultSize)
    }
  }

  private val PlanPhases = Set("analysis", "optimization", "planning")

  private def record(qe: QueryExecution): Unit = {
    queries.incrementAndGet()
    planNs.addAndGet(qe.tracker.phases.collect {
      case (p, s) if PlanPhases(p) => s.durationMs * 1000000L
    }.sum)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}
