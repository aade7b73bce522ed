package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-layer accounting for the traced run, observed from outside the
  * program: harness timers around each query call, a `SparkListener`, and a
  * local property naming the span (`pass|query|phase`) that every job
  * submitted from the query's thread inherits. `phase` is `call` while the
  * query function runs (eager staging, loop rounds, analysis) and `exec`
  * while the returned plan is materialized.
  */
final class Tracer(spark: SparkSession, cores: Int, tmp: Path) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val moduleOf: Map[String, String] = Modules.flatMap { case (m, mod) =>
    mod.queries.keys.map(_ -> m)
  }.toMap

  private final class Job(val span: String, val start: Long) { var end = -1L }
  private final class Tasks {
    var n = 0L; var cpuNs = 0L; var runMs = 0L
    var shuffleWrite = 0L; var input = 0L; var spill = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val tasks = mutable.Map.empty[String, Tasks]
  private val callNs = mutable.Map.empty[(Int, String), Long].withDefaultValue(0L)
  private val execNs = mutable.Map.empty[(Int, String), Long].withDefaultValue(0L)
  private val passes = mutable.Map.empty[Int, Map[String, Double]]
  private var passStartMs = 0L
  private var gc0 = 0L
  private var tmp0 = (0L, 0L)

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("")
    jobs(e.jobId) = new Job(span, e.time)
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = tasks.getOrElseUpdate(stageSpan.getOrElse(e.stageId, ""), new Tasks)
      t.n += 1
      t.cpuNs += m.executorCpuTime
      t.runMs += m.executorRunTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.input += m.inputMetrics.bytesRead
      t.spill += m.diskBytesSpilled
    }
  }

  def begin(pass: Int): Unit = {
    gc0 = gcMs()
    tmp0 = tmpUsage()
    passStartMs = System.currentTimeMillis()
  }

  def span(pass: Int, query: String, phase: String): Unit =
    sc.setLocalProperty(SpanKey, s"$pass|$query|$phase")

  def clear(): Unit = sc.setLocalProperty(SpanKey, null)

  def timed(pass: Int, query: String, call: Long, exec: Long): Unit = {
    callNs((pass, query)) += call
    execNs((pass, query)) += exec
  }

  /** Close pass `pass`: drain the listener bus so every job and task of the
    * pass has been seen, then fold them into the pass's metrics.
    */
  def end(pass: Int, wallS: Double): Unit = {
    val endMs = System.currentTimeMillis()
    ListenerBus.drain(sc)
    val gcS = (gcMs() - gc0) / 1e3
    val (bytes1, dirs1) = tmpUsage()
    synchronized {
      val prefix = s"$pass|"
      val passJobs = jobs.values.filter(_.span.startsWith(prefix)).toSeq
      val passTasks = tasks.filter(_._1.startsWith(prefix))
      def sumTasks(f: Tasks => Long) = passTasks.values.map(f).sum
      def queryOf(span: String) = span.split('|')(1)
      val m = mutable.LinkedHashMap.empty[String, Double]
      ModuleNames.foreach { mod =>
        def inMod(q: String) = moduleOf.get(q).contains(mod)
        m(s"$mod.call_s") = callNs.collect { case ((`pass`, q), v) if inMod(q) => v }.sum / 1e9
        m(s"$mod.exec_s") = execNs.collect { case ((`pass`, q), v) if inMod(q) => v }.sum / 1e9
        m(s"$mod.jobs") = passJobs.count(j => inMod(queryOf(j.span))).toDouble
        m(s"$mod.cpu_s") = passTasks.collect { case (s, t) if inMod(queryOf(s)) => t.cpuNs }.sum / 1e9
      }
      val durations = passJobs.filter(_.end >= 0).map(j => (j.end - j.start).toDouble)
      m("spark.jobs") = passJobs.size.toDouble
      m("spark.tasks") = sumTasks(_.n).toDouble
      m("spark.job_p50_ms") = if (durations.isEmpty) 0.0 else Main.median(durations)
      m("driver.gap_s") = math.max(0.0, wallS - busyMs(passJobs, passStartMs, endMs) / 1e3)
      m("executor.cpu_s") = sumTasks(_.cpuNs) / 1e9
      m("executor.gc_s") = gcS
      m("executor.busy") = sumTasks(_.runMs) / 1e3 / (wallS * cores)
      m("shuffle.write_mb") = sumTasks(_.shuffleWrite) / MB
      m("scan.input_mb") = sumTasks(_.input) / MB
      m("spill_mb") = sumTasks(_.spill) / MB
      m("Scratch.write_mb") = math.max(0L, bytes1 - tmp0._1) / MB
      m("Scratch.dirs") = math.max(0L, dirs1 - tmp0._2).toDouble
      passes(pass) = m.toMap
      // Per-pass state is folded; drop it so a long window stays flat.
      jobs.filterInPlace((_, j) => !j.span.startsWith(prefix))
      tasks.filterInPlace((s, _) => !s.startsWith(prefix))
    }
  }

  /** Every metric twice: `.cold` from pass 0, `.warm` as the median over
    * the warm passes.
    */
  def report(nPasses: Int): Seq[(String, Double)] = {
    val keys = passes(0).keys.toSeq.sorted
    keys.map(k => s"$k.cold" -> passes(0)(k)) ++
      keys.map(k => s"$k.warm" -> Main.median((1 until nPasses).map(passes(_)(k))))
  }

  /** Milliseconds of [from, to] covered by at least one job. */
  private def busyMs(js: Seq[Job], from: Long, to: Long): Double = {
    val iv = js.map(j => (math.max(j.start, from), math.min(if (j.end < 0) to else j.end, to)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    (covered + curB - curA).toDouble
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** (bytes of all files, number of top-level directories) under tmp. */
  private def tmpUsage(): (Long, Long) = {
    def safely[T](zero: T)(f: => T): T =
      try f catch { case _: java.io.IOException | _: java.io.UncheckedIOException => zero }
    val bytes = safely(0L) {
      val walk = Files.walk(tmp)
      try walk.iterator().asScala.map(p => safely(0L)(
        if (Files.isRegularFile(p)) Files.size(p) else 0L)).sum
      finally walk.close()
    }
    val dirs = safely(0L) {
      val list = Files.list(tmp)
      try list.iterator().asScala.count(Files.isDirectory(_)).toLong finally list.close()
    }
    (bytes, dirs)
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  val MB = 1024.0 * 1024.0
  /** The modules whose queries the workloads run; each gets its own
    * call/exec/jobs/cpu metrics.
    */
  val Modules: Seq[(String, graft.QueryModule)] = Seq(
    "Relational" -> graft.operators.Relational, "Joins" -> graft.operators.Joins,
    "Events" -> graft.operators.Events, "Graph" -> graft.operators.Graph,
    "Text" -> graft.operators.Text, "Stats" -> graft.operators.Stats,
    "Similarity" -> graft.operators.Similarity, "ml" -> graft.ml.Pipelines)
  val ModuleNames: Seq[String] = Modules.map(_._1)
}
