package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** What the benchmark keeps of Spark's listener events: plain records, so
  * the arithmetic over them can be checked on a canned sequence. Times are
  * epoch milliseconds as Spark stamps them. */
final case class JobRec(job: Int, start: Long, end: Long, stages: Seq[Int])
final case class StageRec(stage: Int, submit: Long, complete: Long)
final case class TaskRec(
    stage: Int, runMs: Long, gcMs: Long, shuffleWriteB: Long, shuffleReadRecords: Long,
    fetchWaitMs: Long, spillB: Long)

/** The benchmark's own listener: records jobs, stages and tasks. */
final class StageListener extends SparkListener {
  private val jobStarts = new ConcurrentLinkedQueue[(Int, Long, Seq[Int])]
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]
  private val stageRecs = new ConcurrentLinkedQueue[StageRec]
  private val taskRecs = new ConcurrentLinkedQueue[TaskRec]
  @volatile private var lastEvent = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.add((e.jobId, e.time, e.stageIds)); lastEvent = System.nanoTime()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobEnds.add((e.jobId, e.time)); lastEvent = System.nanoTime()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stageRecs.add(StageRec(i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
    lastEvent = System.nanoTime()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) taskRecs.add(TaskRec(e.stageId, m.executorRunTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.recordsRead,
      m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled))
    lastEvent = System.nanoTime()
  }

  /** Waits until every started job has ended and no event came for
    * 100 ms (at most 5 s). Spark posts all of a job's events before the
    * action returns but delivers them asynchronously; a listener removed
    * earlier would miss the tail of the pass. */
  def awaitQuiet(): Unit = {
    val until = System.nanoTime() + 5000000000L
    while ((jobStarts.size != jobEnds.size || System.nanoTime() - lastEvent < 100000000L) &&
      System.nanoTime() < until) Thread.sleep(10)
  }

  def jobs: Vector[JobRec] = {
    val ends = jobEnds.asScala.toMap
    jobStarts.asScala.toVector.map { case (id, t, st) => JobRec(id, t, ends.getOrElse(id, t), st) }
  }
  def stages: Vector[StageRec] = stageRecs.asScala.toVector
  def tasks: Vector[TaskRec] = taskRecs.asScala.toVector
}

/** Per-pass stage metrics of the `graft.pipeline` layer, from listener
  * records. A stage whose tasks read shuffle output is a stitch stage;
  * every other stage scans input and (in this pipeline) extracts. */
object StageStats {

  private val Ms = 1000000L // ms -> ns

  def isStitch(stage: Int, tasks: Seq[TaskRec]): Boolean =
    tasks.exists(t => t.stage == stage && t.shuffleReadRecords > 0)

  /** max task time / median task time of a stage's tasks (1 for < 2). */
  def skew(tasks: Seq[TaskRec]): Double =
    if (tasks.size < 2) 1.0
    else {
      val med = TraceMath.median(tasks.map(_.runMs.toDouble))
      if (med <= 0) 1.0 else tasks.map(_.runMs).max / med
    }

  /** Metrics averaged over `passes` (epoch-ns windows). Stages and tasks
    * count toward the pass whose window holds the stage's submission. */
  def summarize(passes: Seq[(Long, Long)], stages: Seq[StageRec], tasks: Seq[TaskRec]): Map[String, Double] = {
    val n = math.max(1, passes.size)
    val tasksByStage = tasks.groupBy(_.stage)
    def inPass(p: (Long, Long))(s: StageRec) = s.submit * Ms >= p._1 && s.submit * Ms <= p._2
    val perPass = passes.map { p =>
      val ss = stages.filter(inPass(p))
      val union = TraceMath.unionLen(ss.map(s => (s.submit * Ms, s.complete * Ms)), p._1, p._2)
      val (stitch, scan) = ss.partition(s => isStitch(s.stage, tasks))
      def heaviestSkew(xs: Seq[StageRec]): Double =
        if (xs.isEmpty) 1.0
        else skew(tasksByStage.getOrElse(xs.maxBy(s => tasksByStage.getOrElse(s.stage, Nil).map(_.runMs).sum).stage, Nil))
      (p._2 - p._1, union, ss.map(_.stage).toSet, heaviestSkew(scan), heaviestSkew(stitch),
        stitch.map(_.stage).toSet)
    }
    val passStages = perPass.flatMap(_._3).toSet
    val ts = tasks.filter(t => passStages.contains(t.stage))
    val stitchStages = perPass.flatMap(_._6).toSet
    val (stitchTasks, scanTasks) = ts.partition(t => stitchStages.contains(t.stage))
    val wall = perPass.map(_._1).sum.toDouble
    val covered = perPass.map(_._2).sum.toDouble
    val run = ts.map(_.runMs).sum.toDouble
    Map(
      "stage.scan_extract.busy_s" -> scanTasks.map(_.runMs).sum / 1e3 / n,
      "stage.scan_extract.skew" -> TraceMath.median(perPass.map(_._4)),
      "stage.gc_frac" -> (if (run > 0) ts.map(_.gcMs).sum / run else 0.0),
      "stage.exchange.write_mb" -> ts.map(_.shuffleWriteB).sum / 1e6 / n,
      "stage.exchange.fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3 / n,
      "stage.stitch.busy_s" -> stitchTasks.map(_.runMs).sum / 1e3 / n,
      "stage.stitch.skew" -> TraceMath.median(perPass.map(_._5)),
      "stage.spill_mb" -> ts.map(_.spillB).sum / 1e6 / n,
      "stage.driver_s" -> (wall - covered) / 1e9 / n,
      "stage.cover_frac" -> (if (wall > 0) covered / wall else 0.0))
  }

  /** Job and stage spans for the trace: each job under the pass whose
    * window holds its start, each stage under its job. */
  def spans(tracer: Tracer, passes: Seq[(Long, Long, Long)], jobs: Seq[JobRec], stages: Seq[StageRec]): Unit = {
    val stageJob = jobs.flatMap(j => j.stages.map(_ -> j.job)).toMap
    val jobSpan = jobs.map { j =>
      val parent = passes.find(p => j.start * Ms >= p._2 && j.start * Ms <= p._3).map(_._1).getOrElse(0L)
      val id = tracer.newId()
      tracer.record(id, parent, "job", j.start * Ms, j.end * Ms)
      j.job -> id
    }.toMap
    stages.foreach { s =>
      tracer.record(tracer.newId(), stageJob.get(s.stage).flatMap(jobSpan.get).getOrElse(0L),
        "stage", s.submit * Ms, s.complete * Ms)
    }
  }
}
