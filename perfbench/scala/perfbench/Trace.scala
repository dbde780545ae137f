package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Listener for the traced run: per-task executor metrics, job and
  * stage counts, Catalyst phase times of finished SQL executions and
  * the bytes held by persisted RDD blocks. Stages are attributed to the
  * program's modules by the source file of the innermost program frame
  * in their call site.
  */
final class Recorder extends SparkListener {
  import Recorder.Task

  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val stageModule = mutable.Map.empty[Int, String]
  private var jobs = 0
  private var stages = 0
  private val catalystMs = mutable.Map.empty[String, Long]
  private val blocks = mutable.Map.empty[String, Long]
  private var stored = 0L
  private var peakStored = 0L

  def reset(): Unit = synchronized {
    tasks.clear(); jobs = 0; stages = 0; catalystMs.clear()
    stageModule.clear(); execModule.clear()
    peakStored = stored
  }

  def jobCount: Int = synchronized(jobs)

  /** module of each SQL execution, from the call site that started it */
  private val execModule = mutable.Map.empty[Long, String]

  /** Stages run by a SQL execution (including the broadcast and
    * adaptive stages Spark submits from its own threads) take the
    * module of the execution's root call site; other jobs take their
    * own call site's.
    */
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.root.id"))
      .orElse(Option(p.getProperty("spark.sql.execution.id"))))
      .flatMap(_.toLongOption).flatMap(execModule.get)
    val mod = exec.getOrElse(e.stageInfos.headOption
      .map(si => Recorder.moduleOf(si.details)).getOrElse("other"))
    e.stageIds.foreach(id => stageModule.getOrElseUpdate(id, mod))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, e.taskInfo.launchTime,
      e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled, m.resultSize, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      stored -= blocks.getOrElse(id, 0L)
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      if (size > 0) blocks(id) = size else blocks.remove(id)
      stored += size
      peakStored = math.max(peakStored, stored)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case start: SparkListenerSQLExecutionStart => synchronized {
      execModule(start.executionId) = Recorder.moduleOf(start.details)
    }
    case end: SparkListenerSQLExecutionEnd =>
      val ph = org.apache.spark.sql.perfbench.QeShim.phases(end)
      synchronized(ph.foreach { case (k, v) =>
        catalystMs(k) = catalystMs.getOrElse(k, 0L) + v })
    case _ => ()
  }

  /** Totals since the last reset, over a wall window of `wallMs` on
    * `cores` cores.
    */
  def summary(wallMs: Long, cores: Int): Map[String, Double] = synchronized {
    val mb = 1024.0 * 1024.0
    val busyMs = Recorder.unionLength(tasks.map(t => (t.launch, t.finish)).toSeq)
    val byStage = tasks.groupBy(_.stage)
    val widest = if (byStage.isEmpty) Seq.empty[Task] else byStage.values.maxBy(_.size).toSeq
    val durs = widest.map(t => (t.finish - t.launch).toDouble).sorted
    val skew = if (durs.isEmpty) 0.0
      else durs.last / math.max(1.0, durs(durs.size / 2))
    val taskMs = tasks.iterator.map(t => t.finish - t.launch).sum
    val base = Map(
      "exec.jobs" -> jobs.toDouble,
      "exec.stages" -> stages.toDouble,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.run_s" -> tasks.iterator.map(_.runMs).sum / 1000.0,
      "exec.cpu_s" -> tasks.iterator.map(_.cpuNs).sum / 1e9,
      "exec.shuffle_read_mb" -> tasks.iterator.map(_.shuffleRead).sum / mb,
      "exec.shuffle_write_mb" -> tasks.iterator.map(_.shuffleWrite).sum / mb,
      "exec.spill_mb" -> tasks.iterator.map(_.spill).sum / mb,
      "exec.result_mb" -> tasks.iterator.map(_.result).sum / mb,
      "exec.input_mb" -> tasks.iterator.map(_.input).sum / mb,
      "exec.output_mb" -> tasks.iterator.map(_.output).sum / mb,
      "exec.driver_only_s" -> math.max(0L, wallMs - busyMs) / 1000.0,
      "exec.core_busy_share" -> taskMs.toDouble / math.max(1L, wallMs * cores),
      "exec.task_skew" -> skew,
      "catalyst.analysis_s" -> catalystMs.getOrElse("analysis", 0L) / 1000.0,
      "catalyst.optimization_s" -> catalystMs.getOrElse("optimization", 0L) / 1000.0,
      "catalyst.planning_s" -> catalystMs.getOrElse("planning", 0L) / 1000.0,
      "plans.snapshot_stored_mb" -> peakStored / mb)
    val perModule = Recorder.modules.map { mod =>
      s"module.$mod.exec_s" -> tasks.iterator
        .filter(t => stageModule.getOrElse(t.stage, "other") == mod)
        .map(_.runMs).sum / 1000.0
    }
    base ++ perModule
  }
}

object Recorder {
  final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long,
                        cpuNs: Long, shuffleRead: Long, shuffleWrite: Long,
                        spill: Long, result: Long, input: Long, output: Long)

  /** Source file of a program frame -> module name. */
  private val files: Seq[(String, String)] = Seq(
    "Snapshot.scala" -> "plans", "DagClosure.scala" -> "plans",
    "MergeSink.scala" -> "operators", "Consolidator.scala" -> "operators",
    "AnnotMerge.scala" -> "operators",
    "PipelineRunner.scala" -> "runner",
    "AnnotationPipeline.scala" -> "gaf",
    "GafReader.scala" -> "sources",
    "Tables.scala" -> "util", "Tuning.scala" -> "util")

  val modules: Seq[String] =
    Seq("plans", "operators", "runner", "gaf", "sources", "util", "bench", "other")

  /** The innermost frame of a long-form call site that belongs to the
    * program or to the benchmark decides the module.
    */
  def moduleOf(callSite: String): String =
    Option(callSite).toSeq.flatMap(_.split("\n")).iterator.map { frame =>
      files.collectFirst { case (f, m) if frame.contains(s"($f:") => m }
        .orElse(if (frame.contains("perfbench.")) Some("bench") else None)
    }.collectFirst { case Some(m) => m }.getOrElse("other")

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.perfbench.BusShim.drain(sc)
}

/** Spans recorded by the benchmark around its calls into the program:
  * name, start, end and parent, kept in memory and written with the
  * trace.
  */
final class Spans {
  import Spans.Span
  val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def apply[T](name: String)(body: => T): T = {
    val s = Span(all.size, stack.headOption.getOrElse(-1), name,
      System.currentTimeMillis())
    all += s
    stack = s.id :: stack
    try body
    finally { s.endMs = System.currentTimeMillis(); stack = stack.tail }
  }

  /** Total seconds spent in spans of this name. */
  def seconds(name: String): Double =
    all.iterator.filter(_.name == name).map(s => s.endMs - s.startMs).sum / 1000.0

  def toJson: String = all.map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs}}""")
    .mkString("[", ",", "]")
}

object Spans {
  final case class Span(id: Int, parent: Int, name: String, startMs: Long,
                        var endMs: Long = -1L)
}

/** Host state around a timed run: CPU cores used by other processes
  * over the run's window (from /proc/stat, minus this process's own
  * ticks) and the 1-minute load average at its start and end.
  */
object Host {
  final case class Mark(wallNs: Long, hostBusy: Long, selfTicks: Long, load: Double)

  private def read(path: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    catch { case _: Throwable => "" }

  def mark(): Mark = {
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    // user nice system idle iowait irq softirq steal: busy = all but idle+iowait
    val busy = if (cpu.length >= 8) cpu.take(8).sum - cpu(3) - cpu(4) else 0L
    val self = read("/proc/self/stat").split("\\) ").lastOption
      .map(_.split(" ")).filter(_.length > 12)
      .map(f => f(11).toLong + f(12).toLong).getOrElse(0L)
    val load = read("/proc/loadavg").split(" ").headOption
      .flatMap(_.toDoubleOption).getOrElse(-1.0)
    Mark(System.nanoTime(), busy, self, load)
  }

  /** (foreign cores, load at start, load at end) between two marks;
    * /proc/stat counts in USER_HZ = 100 ticks per second.
    */
  def between(a: Mark, b: Mark): (Double, Double, Double) = {
    val secs = math.max(1e-9, (b.wallNs - a.wallNs) / 1e9)
    val foreign = ((b.hostBusy - a.hostBusy) - (b.selfTicks - a.selfTicks)) / 100.0 / secs
    (math.max(0.0, foreign), a.load, b.load)
  }

  /** Peak resident set (VmHWM) of this process in MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** CPU seconds (user + system) of this process. */
  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
  }
}
