package perfbench

import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One interval of a run. Times are epoch milliseconds with a fraction. */
final class Span(val id: Int, val parent: Int, val kind: String,
                 val name: String, val start: Double) {
  var end: Double = Double.NaN
  var selfMs: Double = Double.NaN
  val attrs = mutable.LinkedHashMap[String, Any]()
  def ms: Double = end - start
  def contains(t: Double): Boolean = start <= t && t <= end
}

/** All spans of a run. The harness opens run, pass, query and phase spans;
  * [[Tracer.resolve]] adds job and stage spans under them. */
final class Spans {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  val all = ArrayBuffer[Span]()

  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def begin(parent: Int, kind: String, name: String): Span =
    add(parent, kind, name, now())

  def end(s: Span): Unit = s.end = now()

  def add(parent: Int, kind: String, name: String, start: Double): Span = {
    val s = new Span(all.size, parent, kind, name, start)
    all += s
    s
  }

  /** Fills in every span's self time: its duration minus the part of it
    * that its children cover. */
  def computeSelf(): Unit = {
    val kids = all.groupBy(_.parent)
    all.foreach { s =>
      val iv = kids.getOrElse(s.id, ArrayBuffer.empty)
        .map(c => (c.start max s.start, c.end min s.end))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curB.isNaN || a > curB) {
          if (!curB.isNaN) covered += curB - curA
          curA = a
          curB = b
        } else curB = curB max b
      }
      if (!curB.isNaN) covered += curB - curA
      s.selfMs = s.ms - covered
    }
  }

  def toJson: Seq[Map[String, Any]] = all.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
    "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> s.selfMs,
    "attrs" -> s.attrs))
}

/** One SparkListener that the benchmark registers on its own context. It
  * records jobs, stages and tasks, the planning phases of every SQL
  * execution, and the progress of every stream micro-batch. Events are kept
  * in memory and assigned to spans after the run.
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  private val progress = new ConcurrentLinkedQueue[ProgRec]()
  private val pendingJobs = new AtomicInteger()
  private val lastEvent = new AtomicLong()
  private val sqlEndCount = new AtomicInteger()
  private val unreadableCount = new AtomicInteger()

  /** SQL execution ends seen, and those whose execution could not be read. */
  def sqlEnds: Int = sqlEndCount.get
  def unreadable: Int = unreadableCount.get

  private def touch(): Unit = lastEvent.set(System.nanoTime())

  private def stage(id: Int, attempt: Int): StageRec =
    stages.computeIfAbsent((id, attempt), _ => new StageRec)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val key = Option(e.properties).map(_.getProperty(Main.SpanProp)).orNull
      jobs.put(e.jobId, new JobRec(e.jobId, e.time.toDouble, key, e.stageIds))
      pendingJobs.incrementAndGet()
      touch()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) {
        j.end = e.time.toDouble
        pendingJobs.decrementAndGet()
      }
      touch()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      s.submit = i.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
      s.complete = i.completionTime.map(_.toDouble).getOrElse(Double.NaN)
      touch()
    }
    // Stream progress and SQL execution ends reach every SparkListener,
    // whichever session ran them; the engine runs its streams in sessions
    // of their own, whose session-scoped listeners this one could not see.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent =>
        recordProgress(p.progress)
      case end: SparkListenerSQLExecutionEnd =>
        sqlEndCount.incrementAndGet()
        executionOf(end) match {
          case Some(qe) => recordPlanning(qe)
          case None => unreadableCount.incrementAndGet()
        }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stage(e.stageId, e.stageAttemptId)
      s.tasks += 1
      s.maxTaskMs = s.maxTaskMs max e.taskInfo.duration.toDouble
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuMs += m.executorCpuTime / 1e6
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        val read = m.shuffleReadMetrics.totalBytesRead
        s.shuffleRead += read
        s.reads += read
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillMem += m.memoryBytesSpilled
        s.spillDisk += m.diskBytesSpilled
        s.scanBytes += m.inputMetrics.bytesRead
        s.scanRows += m.inputMetrics.recordsRead
        s.sinkBytes += m.outputMetrics.bytesWritten
        s.sinkRecords += m.outputMetrics.recordsWritten
      }
      touch()
    }
  }

  private def recordPlanning(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) {
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      qes.add(QeRec(ph.values.map(_.startTimeMs).min.toDouble,
        ms("analysis"), ms("optimization"), ms("planning")))
    }
    touch()
  }

  private def recordProgress(p: StreamingQueryProgress): Unit = {
    val d = p.durationMs
    def get(k: String) =
      Option(d.get(k)).map(_.longValue.toDouble).getOrElse(0.0)
    if (d.containsKey("addBatch"))
      progress.add(ProgRec(p.runId.toString, p.batchId,
        Instant.parse(p.timestamp).toEpochMilli.toDouble,
        get("triggerExecution"), get("addBatch"),
        get("commitOffsets") + get("walCommit"),
        p.stateOperators.map(_.numRowsTotal).sum.toDouble,
        p.stateOperators.map(_.memoryUsedBytes).sum.toDouble))
    touch()
  }

  def attach(): Unit = sc.addSparkListener(jobListener)

  /** Waits until the listener bus has delivered this pass's events, then
    * removes the listener. */
  def detach(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() < deadline &&
      (pendingJobs.get > 0 || System.nanoTime() - lastEvent.get < 250000000L))
      Thread.sleep(20)
    sc.removeSparkListener(jobListener)
  }

  /** Adds a job span per job and a stage span per stage under the phase
    * span that ran it, then returns the layer counters of each pass, keyed
    * by the pass span's id. A job is placed by the span key the harness set
    * as a local property on the driver thread; a job from another thread,
    * such as a stream's, is placed by its start time. Planning phases and
    * stream batches are placed by their start time. */
  def resolve(spans: Spans): Map[Int, mutable.Map[String, Double]] = {
    val harness = spans.all.toVector
    val byKey = harness.flatMap(s => s.attrs.get("key").map(_.toString -> s))
      .toMap
    val depth = mutable.Map[Int, Int]()
    def depthOf(s: Span): Int = depth.getOrElseUpdate(s.id,
      if (s.parent < 0) 0 else depthOf(harness(s.parent)) + 1)
    def at(t: Double): Option[Span] =
      harness.filter(_.contains(t)).maxByOption(depthOf)
    def passOf(s: Span): Option[Span] =
      if (s.kind == "pass") Some(s)
      else if (s.parent < 0) None
      else passOf(spans.all(s.parent))

    val out = mutable.Map[Int, mutable.Map[String, Double]]()
    val skew = mutable.Map[Int, Double]()
    val batchMs = mutable.Map[Int, ArrayBuffer[Double]]()
    def bump(pass: Span, k: String, v: Double): Unit = {
      val m = out.getOrElseUpdate(pass.id, mutable.Map[String, Double]())
      m(k) = m.getOrElse(k, 0.0) + v
    }

    val attempts = stages.asScala.toSeq.groupBy(_._1._1)
    val seenStages = mutable.Set[(Int, Int)]()
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      val home = Option(j.key).flatMap(byKey.get).orElse(at(j.start))
      for (h <- home; pass <- passOf(h) if !j.end.isNaN) {
        val js = spans.add(h.id, "job", s"job ${j.id}", j.start)
        js.end = j.end
        bump(pass, "scheduler.jobs", 1)
        for (sid <- j.stageIds; ((id, att), st) <- attempts.getOrElse(sid, Nil)
             if !seenStages((id, att)) && !st.submit.isNaN &&
               !st.complete.isNaN) {
          seenStages += ((id, att))
          val ss = spans.add(js.id, "stage", s"stage $id.$att", st.submit)
          ss.end = st.complete
          ss.attrs ++= Seq("tasks" -> st.tasks, "run_ms" -> st.runMs,
            "shuffle_read_bytes" -> st.shuffleRead)
          bump(pass, "scheduler.stages", 1)
          bump(pass, "scheduler.tasks", st.tasks)
          bump(pass, "scheduler.overhead_ms",
            ((st.complete - st.submit) - st.maxTaskMs) max 0.0)
          bump(pass, "executor.run_ms", st.runMs)
          bump(pass, "executor.cpu_ms", st.cpuMs)
          bump(pass, "executor.gc_ms", st.gcMs)
          bump(pass, "shuffle.write_mb", st.shuffleWrite / MB)
          bump(pass, "shuffle.read_mb", st.shuffleRead / MB)
          bump(pass, "shuffle.fetch_wait_ms", st.fetchWaitMs)
          bump(pass, "spill.disk_mb", st.spillDisk / MB)
          bump(pass, "spill.mem_mb", st.spillMem / MB)
          bump(pass, "scan.read_mb", st.scanBytes / MB)
          bump(pass, "scan.rows", st.scanRows)
          bump(pass, "sink.write_mb", st.sinkBytes / MB)
          bump(pass, "sink.records", st.sinkRecords)
          val reads = st.reads.sorted
          if (reads.size >= 2 && reads(reads.size / 2) > 0)
            skew(pass.id) = skew.getOrElse(pass.id, 1.0) max
              (reads.last.toDouble / reads(reads.size / 2))
        }
      }
    }
    qes.asScala.foreach { q =>
      for (h <- at(q.start); pass <- passOf(h)) {
        bump(pass, "planner.executions", 1)
        bump(pass, "planner.analysis_ms", q.analysisMs)
        bump(pass, "planner.optimization_ms", q.optimizationMs)
        bump(pass, "planner.planning_ms", q.planningMs)
      }
    }
    val lastBatch = mutable.Map[(Int, String), ProgRec]()
    progress.asScala.foreach { p =>
      for (h <- at(p.start); pass <- passOf(h)) {
        bump(pass, "streaming.batches", 1)
        bump(pass, "streaming.add_batch_ms", p.addBatchMs)
        bump(pass, "streaming.commit_ms", p.commitMs)
        batchMs.getOrElseUpdate(pass.id, ArrayBuffer()) += p.triggerMs
        val k = (pass.id, p.runId)
        if (lastBatch.get(k).forall(_.batchId < p.batchId)) lastBatch(k) = p
      }
    }
    lastBatch.foreach { case ((pass, _), p) =>
      bump(spans.all(pass), "streaming.state_rows", p.stateRows)
      bump(spans.all(pass), "streaming.state_mem_mb", p.stateMemBytes / MB)
    }
    skew.foreach { case (p, v) =>
      out.getOrElseUpdate(p, mutable.Map())("shuffle.skew") = v }
    batchMs.foreach { case (p, v) =>
      out.getOrElseUpdate(p, mutable.Map())("streaming.batch_ms_p50") =
        Stats.median(v.toSeq) }
    out.toMap
  }
}

object Tracer {
  val MB: Double = 1024.0 * 1024.0

  /** The execution an end event carries. Spark keeps that field private
    * to its SQL package, so it is read by reflection; an event without one
    * is skipped. */
  private def executionOf(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    scala.util.Try(e.getClass.getMethod("qe").invoke(e)).toOption
      .collect { case q: QueryExecution => q }

  final class JobRec(val id: Int, val start: Double, val key: String,
                     val stageIds: Seq[Int]) {
    @volatile var end: Double = Double.NaN
  }

  final class StageRec {
    @volatile var submit: Double = Double.NaN
    @volatile var complete: Double = Double.NaN
    var tasks = 0
    var maxTaskMs = 0.0
    var runMs = 0.0
    var cpuMs = 0.0
    var gcMs = 0.0
    var shuffleWrite = 0.0
    var shuffleRead = 0.0
    val reads = ArrayBuffer[Long]()
    var fetchWaitMs = 0.0
    var spillMem = 0.0
    var spillDisk = 0.0
    var scanBytes = 0.0
    var scanRows = 0.0
    var sinkBytes = 0.0
    var sinkRecords = 0.0
  }

  final case class QeRec(start: Double, analysisMs: Double,
                         optimizationMs: Double, planningMs: Double)

  final case class ProgRec(runId: String, batchId: Long, start: Double,
                           triggerMs: Double, addBatchMs: Double,
                           commitMs: Double, stateRows: Double,
                           stateMemBytes: Double)
}

object Stats {
  def median(v: Seq[Double]): Double =
    if (v.isEmpty) Double.NaN
    else {
      val s = v.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
