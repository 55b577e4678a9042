package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One timed call into a graft module. `group` is the Spark job group the
  * span's jobs ran under (its own id, or a stream run id for `tail`).
  */
final case class Span(
    id: Long,
    layer: String,
    name: String,
    startNs: Long,
    endNs: Long,
    parent: Long,
    runId: String,
    group: String)

/** Engine counters summed over the tasks of one job group. */
final class GroupCounters {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  /** stage id -> task durations (ms) */
  val stageTaskMs = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: GroupCounters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs; gcMs += o.gcMs
    inputRecords += o.inputRecords; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords; spillBytes += o.spillBytes
    o.stageTaskMs.foreach { case (s, ts) => stageTaskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ts }
  }

  /** (task count, max ÷ median task time) of the stage with the most task
    * time — the heaviest stage's parallelism and skew.
    */
  def heaviestStage: (Int, Double) =
    if (stageTaskMs.isEmpty) (0, 0.0)
    else {
      val ts = stageTaskMs.values.maxBy(_.sum).sorted
      val med = math.max(1L, ts(ts.size / 2))
      (ts.size, ts.last.toDouble / med)
    }
}

/** Benchmark-side listener: attributes task time, GC, input records,
  * shuffle writes and spill to the job group active when each job started.
  * Only registered in a traced run. Jobs without a group (those of untraced
  * units) cost it one lookup per event.
  */
final class SpanListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = mutable.HashMap.empty[String, GroupCounters]

  private def counters(g: String): GroupCounters = groups.getOrElseUpdate(g, new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      e.stageIds.foreach(s => stageGroup.put(s, g))
      synchronized { val c = counters(g); c.jobs += 1 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    if (g == null) return
    val m = e.taskMetrics
    synchronized {
      val c = counters(g)
      c.tasks += 1
      c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.inputRecords += m.inputMetrics.recordsRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def snapshot(): Map[String, GroupCounters] = synchronized {
    groups.map { case (g, c) => val n = new GroupCounters; n.add(c); g -> n }.toMap
  }
}

/** Span recorder. Disabled, `span` is a plain call; enabled, it times the
  * call, runs its Spark jobs under the span's own job group, and keeps the
  * span in memory until [[Tracer.write]] at the end of the run.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, String)]] { override def initialValue() = Nil }
  val listener = new SpanListener

  /** Register the listener; done once, before the first measured unit. */
  def attach(): Unit = spark.sparkContext.addSparkListener(listener)

  def enable(): Unit = enabled = true

  def disable(): Unit = enabled = false

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val group = s"span-$id"
      timed(layer, name, id, group)(body)
    }

  /** Record a span whose jobs run under a group the caller does not own
    * (a streaming query's run id).
    */
  def record(layer: String, name: String, startNs: Long, endNs: Long, group: String): Unit =
    if (enabled) {
      val parent = stack.get.headOption.map(_._1).getOrElse(0L)
      spans.add(Span(ids.incrementAndGet(), layer, name, startNs, endNs, parent, runId, group))
    }

  private def timed[T](layer: String, name: String, id: Long, group: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = stack.get
    val parent = outer.headOption.map(_._1).getOrElse(0L)
    stack.set((id, group) :: outer)
    sc.setJobGroup(group, s"$layer.$name", interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(outer)
      outer.headOption match {
        case Some((_, g)) => sc.setJobGroup(g, "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans.add(Span(id, layer, name, t0, t1, parent, runId, group))
    }
  }

  def all: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    spans.asScala.toSeq.sortBy(_.startNs)
  }

  /** Engine counters per span, after the listener bus has drained. A
    * span's counters cover its own job group only; [[inclusive]] adds its
    * descendants'.
    */
  def counters(): Map[String, GroupCounters] = {
    org.apache.spark.graftbench.BusAccess.drain(spark.sparkContext)
    listener.snapshot()
  }

  def inclusive(span: Span, byGroup: Map[String, GroupCounters]): GroupCounters = {
    val kids = all.groupBy(_.parent)
    val out = new GroupCounters
    def walk(s: Span): Unit = {
      byGroup.get(s.group).foreach(out.add)
      kids.getOrElse(s.id, Nil).foreach(walk)
    }
    walk(span)
    out
  }

  /** Write every span as one JSON line: name, start, end, parent, run id. */
  def write(path: java.nio.file.Path, byGroup: Map[String, GroupCounters]): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      val c = byGroup.getOrElse(s.group, new GroupCounters)
      sb ++= s"""{"id":${s.id},"layer":"${s.layer}","name":"${Json.esc(s.name)}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"run_id":"${s.runId}","group":"${Json.esc(s.group)}",""" +
        s""""jobs":${c.jobs},"tasks":${c.tasks},"task_ms":${c.taskMs},"gc_ms":${c.gcMs},""" +
        s""""input_records":${c.inputRecords},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
        s""""shuffle_write_records":${c.shuffleWriteRecords},"spill_bytes":${c.spillBytes}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}
