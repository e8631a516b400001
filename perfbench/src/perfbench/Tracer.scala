package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds (fractional for the
  * benchmark's own spans, which are measured with nanoTime). */
final case class Span(id: Long, name: String, layer: String,
    start: Double, var end: Double, var parent: Long, op: String)

/** One Spark job; `gen` tells apart sessions, whose job ids restart at 0. */
final class JobRec(val gen: Int, val id: Int, val start: Double,
    val stageIds: Seq[Int]) {
  var end: Double = start
}

/** Task metrics summed over one stage attempt. */
final class StageAgg {
  var submit = 0.0; var complete = 0.0; var tasks = 0
  var taskMs = 0.0; var runMs = 0.0; var cpuNs = 0.0; var gcMs = 0.0
  var deserMs = 0.0; var inputBytes = 0.0; var shuffleWrite = 0.0
  var shuffleRead = 0.0; var fetchWaitMs = 0.0; var spillBytes = 0.0
  var outputBytes = 0.0
}

final case class BlockWrite(time: Double, block: String, bytes: Double)

/** One streaming trigger: its start and its phase durations (ms). */
final case class Trigger(start: Double, durations: Map[String, Double])

/** Records spans in memory: the benchmark's own calls (nanoTime pairs,
  * kept only while `on`) and, while attached, Spark's job, stage, task,
  * block, query-execution and streaming-progress events. The end-to-end runs never attach, so
  * they run with no extra listener. */
final class Tracer {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  @volatile var on = false
  @volatile var currentOp = ""
  private var nextId = 0L
  private var gen = 0
  private var session: SparkSession = null
  private val stack = ArrayBuffer.empty[Span]
  private val spans = ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[(Int, Int), JobRec]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int, Int), StageAgg]
  private val phases = ArrayBuffer.empty[Span]
  private val blocks = ArrayBuffer.empty[BlockWrite]
  private val held = mutable.Map.empty[String, Double]
  private val triggers = ArrayBuffer.empty[Trigger]

  private def newId(): Long = synchronized { nextId += 1; nextId }

  /** Time `body` as a span of `layer`, nested under the open span. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(newId(), name, layer, nowMs, 0.0,
        stack.lastOption.map(_.id).getOrElse(0L), currentOp)
      stack += s
      try body
      finally {
        s.end = nowMs
        stack.remove(stack.size - 1)
        synchronized(spans += s)
      }
    }

  private def stage(id: Int, attempt: Int): StageAgg =
    stages.getOrElseUpdate((gen, id, attempt), new StageAgg)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        jobs((gen, e.jobId)) = new JobRec(gen, e.jobId, e.time.toDouble, e.stageIds)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobs.get((gen, e.jobId)).foreach(_.end = e.time.toDouble)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        val a = stage(i.stageId, i.attemptNumber())
        a.submit = i.submissionTime.getOrElse(0L).toDouble
        a.complete = i.completionTime.getOrElse(0L).toDouble
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        val a = stage(e.stageId, e.stageAttemptId)
        a.tasks += 1
        a.taskMs += e.taskInfo.finishTime - e.taskInfo.launchTime
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime; a.deserMs += m.executorDeserializeTime
          a.inputBytes += m.inputMetrics.bytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      Tracer.this.synchronized {
        val i = e.blockUpdatedInfo
        if (i.blockId.isRDD) {
          val k = s"$gen/${i.blockId.name}"
          val bytes = (i.memSize + i.diskSize).toDouble
          if (bytes > 0 && i.storageLevel.isValid) {
            if (!held.contains(k)) blocks += BlockWrite(nowMs, k, bytes)
            held(k) = bytes
          } else held.remove(k)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += Span(0L, s"catalyst.$name", "catalyst",
          p.startTimeMs.toDouble, p.endTimeMs.toDouble, 0L, "")
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        triggers += Trigger(
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap)
      }
  }

  def attach(spark: SparkSession): Unit = {
    if (spark ne session) synchronized {
      gen += 1
      held.clear() // the previous session's blocks died with it
    }
    session = spark
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def detach(): Unit = if (on) {
    drain()
    on = false
    session.sparkContext.removeSparkListener(sparkListener)
    session.listenerManager.unregister(qeListener)
    session.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(session.sparkContext)

  private def stagesOf(j: JobRec): Seq[(Int, StageAgg)] =
    stages.toSeq.collect {
      case ((g, id, _), a) if g == j.gen && j.stageIds.contains(id) => id -> a }

  /** All spans for the record: benchmark spans, then jobs, stages,
    * catalyst phases and streaming triggers. A job, phase or trigger is
    * parented to the innermost benchmark
    * span that contains its start, a stage to its job; each inherits its
    * parent's op id. */
  def allSpans(): Seq[Span] = synchronized {
    val bench = spans.sortBy(s => (s.start, -s.end)).toSeq
    var id = nextId
    def fresh(): Long = { id += 1; id }
    def under(s: Span): Span =
      bench.filter(b => b.start <= s.start && s.start <= b.end)
        .sortBy(b => b.end - b.start).headOption match {
        case Some(p) => s.copy(id = fresh(), parent = p.id, op = p.op)
        case None => s.copy(id = fresh())
      }
    val jobSpans = jobs.values.toSeq.map { j =>
      val js = under(Span(0L, s"job ${j.id}", "scheduler", j.start, j.end, 0L, ""))
      js +: stagesOf(j).filter(_._2.complete > 0).map { case (sid, a) =>
        Span(fresh(), s"stage $sid", "executor", a.submit, a.complete,
          js.id, js.op)
      }
    }
    val triggerSpans = triggers.toSeq.map(t => under(Span(0L, "trigger",
      "streaming.trigger", t.start,
      t.start + t.durations.getOrElse("triggerExecution", 0.0), 0L, "")))
    bench ++ jobSpans.flatten ++ phases.toSeq.map(under) ++ triggerSpans
  }

  /** Layer totals over a pass's timed intervals (epoch ms; the untimed
    * output checks between ops fall outside them) on `cores` task slots. */
  def passStats(iv: Seq[(Double, Double)], cores: Int): Map[String, Double] =
    synchronized {
      def in(t: Double) = iv.exists { case (a, b) => t >= a && t <= b }
      val js = jobs.values.filter(j => in(j.start)).toSeq
      val st = js.flatMap(stagesOf).map(_._2)
      // union of job intervals: the time some job was running
      val active = js.map(j => (j.start, math.max(j.end, j.start)))
        .sortBy(_._1).foldLeft((0.0, Double.MinValue)) {
          case ((acc, reach), (a, b)) =>
            if (b <= reach) (acc, reach)
            else (acc + b - math.max(a, reach), b)
        }._1
      val ph = phases.filter(p => in(p.start)).toSeq
      def phase(n: String) = ph.filter(_.name == s"catalyst.$n")
        .map(p => p.end - p.start).sum / 1e3
      val mb = 1024.0 * 1024.0
      val tg = triggers.filter(t => in(t.start)).toSeq
      def trig(keys: String*) =
        tg.map(t => keys.map(t.durations.getOrElse(_, 0.0)).sum).sum / 1e3
      val bw = blocks.filter(b => in(b.time)).toSeq
      // per benchmark layer: span time, and the jobs and output bytes of
      // the jobs whose innermost enclosing span is of that layer
      val bench = spans.filter(b => in(b.start)).toSeq
      def layerOf(t: Double): Option[String] =
        bench.filter(b => b.start <= t && t <= b.end)
          .sortBy(b => b.end - b.start).headOption.map(_.layer)
          .filter(_ != "bench")
      val byLayer = js.groupBy(j => layerOf(j.start))
      val layerStats = bench.map(_.layer).filter(_ != "bench").distinct.flatMap { l =>
        val lj = byLayer.getOrElse(Some(l), Nil)
        Seq(s"$l.span_s" -> bench.filter(_.layer == l)
            .map(b => b.end - b.start).sum / 1e3,
          s"$l.jobs" -> lj.size.toDouble,
          s"$l.output_mb" -> lj.flatMap(stagesOf).map(_._2.outputBytes).sum / mb)
      }.toMap
      layerStats ++ Map(
        "catalyst.analysis_s" -> phase("analysis"),
        "catalyst.optimization_s" -> phase("optimization"),
        "catalyst.planning_s" -> phase("planning"),
        "scheduler.jobs" -> js.size.toDouble,
        "scheduler.stages" -> st.size.toDouble,
        "scheduler.tasks" -> st.map(_.tasks).sum.toDouble,
        "scheduler.driver_gap_s" ->
          math.max(0.0, iv.map(x => x._2 - x._1).sum - active) / 1e3,
        "scheduler.idle_core_s" ->
          math.max(0.0, cores * active - st.map(_.taskMs).sum) / 1e3,
        "executor.run_s" -> st.map(_.runMs).sum / 1e3,
        "executor.cpu_s" -> st.map(_.cpuNs).sum / 1e9,
        "executor.gc_s" -> st.map(_.gcMs).sum / 1e3,
        "executor.deser_s" -> st.map(_.deserMs).sum / 1e3,
        "executor.input_mb" -> st.map(_.inputBytes).sum / mb,
        "shuffle.write_mb" -> st.map(_.shuffleWrite).sum / mb,
        "shuffle.read_mb" -> st.map(_.shuffleRead).sum / mb,
        "shuffle.fetch_wait_s" -> st.map(_.fetchWaitMs).sum / 1e3,
        "shuffle.spill_mb" -> st.map(_.spillBytes).sum / mb,
        "storage.rdd_blocks_written" -> bw.size.toDouble,
        "storage.rdd_mb_written" -> bw.map(_.bytes).sum / mb,
        "streaming.triggers" -> tg.size.toDouble,
        "streaming.trigger_s" -> trig("triggerExecution"),
        "streaming.add_batch_s" -> trig("addBatch"),
        "streaming.plan_s" -> trig("queryPlanning"),
        "streaming.offsets_s" -> trig("latestOffset", "getBatch", "setOffsetRange"),
        "streaming.wal_commit_s" -> trig("walCommit", "commitOffsets"))
    }

  def heldMb: Double = synchronized(held.values.sum) / (1024.0 * 1024.0)
}
