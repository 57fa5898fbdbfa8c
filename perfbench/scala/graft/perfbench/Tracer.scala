package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans around calls into the program's modules, kept in memory and
  * written once at the end of a run.
  *
  * A span has a name, a layer, start and end (seconds since the tracer
  * was created), its parent span and the run id. Each span counts, over
  * its own interval: process CPU, GC time, JIT compile time and Spark
  * codegen compiles (JVM-wide MXBeans and `CodegenMetrics`), and the
  * cached bytes resident when it started. A registered
  * `SparkListener` attributes task CPU, tasks, shuffle and spill bytes
  * to the innermost open span through the job group each span sets. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val runId: String = s"${ProcessHandle.current().pid()}-${System.currentTimeMillis()}"
  private val t0 = System.nanoTime()

  final class Span(val id: String, val name: String, val layer: String,
                   val parent: Option[Span]) {
    val start: Double = now
    var end: Double = Double.NaN
    val cachedMbStart: Double = cachedMb
    private val startCounters = jvmCounters
    var counters: Array[Double] = Array.empty // cpu, gc, jit, codegen over the span
    def close(): Unit = {
      end = now
      counters = jvmCounters.zip(startCounters).map { case (a, b) => a - b }
    }
  }

  /** Listener counters per span id: task cpu s, tasks, shuffle bytes, spill bytes. */
  private val taskCounters = new ConcurrentHashMap[String, Array[Double]]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => e.stageIds.foreach(s => stageSpan.put(s, g)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).zip(Option(e.taskMetrics)).foreach { case (g, m) =>
        val shuffle = m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        val spill = m.memoryBytesSpilled + m.diskBytesSpilled
        val add = Array(m.executorCpuTime / 1e9, 1.0, shuffle.toDouble, spill.toDouble)
        taskCounters.merge(g, add, (a, b) => a.zip(b).map { case (x, y) => x + y })
      }
  })

  private val opened = mutable.ArrayBuffer.empty[Span]
  private var open: Option[Span] = None

  private def now: Double = (System.nanoTime() - t0) / 1e9

  private def jvmCounters: Array[Double] = Array(
    Harness.processCpuS,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)

  private def cachedMb: Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)

  /** Run `body` inside a span; Spark jobs it starts on this thread are
    * attributed to the span through the job group. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val s = new Span(s"$runId-${opened.size}", name, layer, open)
    opened += s
    open = Some(s)
    sc.setJobGroup(s.id, name, interruptOnCancel = false)
    try body
    finally {
      s.close()
      open = s.parent
      s.parent.fold(sc.clearJobGroup())(p => sc.setJobGroup(p.id, p.name, interruptOnCancel = false))
    }
  }

  /** Wait until the listener bus has delivered every event, so task
    * counters are complete. The bus accessor is package-private in
    * Scala but public in bytecode. */
  private def drainListenerBus(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** The spans, for the result file; self values are a span's own
    * minus its direct children's. */
  def spans: Seq[Map[String, Any]] = {
    drainListenerBus()
    val children = opened.groupBy(_.parent.map(_.id).orNull)
    opened.toSeq.map { s =>
      val kids = children.getOrElse(s.id, Seq.empty)
      val self = s.counters.indices.map(i => s.counters(i) - kids.map(_.counters(i)).sum)
      val task = Option(taskCounters.get(s.id)).getOrElse(Array(0.0, 0.0, 0.0, 0.0))
      Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent.map(_.id).orNull, "run_id" -> runId,
        "start" -> s.start, "end" -> s.end,
        "self_s" -> (s.end - s.start - kids.map(k => k.end - k.start).sum),
        "cpu_s" -> self(0), "gc_s" -> self(1), "jit_s" -> self(2),
        "codegen_compiles" -> self(3), "task_cpu_s" -> task(0), "tasks" -> task(1),
        "shuffle_bytes" -> task(2), "spill_bytes" -> task(3),
        "cached_mb_start" -> s.cachedMbStart)
    }
  }

  /** Work counts, summed over the run (`knn.pairs_scored`, ...). */
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def count(key: String, n: Double): Unit = counts(key) = counts.getOrElse(key, 0.0) + n

  /** Dispatch context, one value per span name (`knn.kernel`, ...). */
  val labels: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
}
