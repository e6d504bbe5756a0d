package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.storage.StorageLevel

/** One timed call into a layer. Times are epoch milliseconds, so they line
  * up with Spark's listener events; `iter` is the tick or round.
  */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Spans around the benchmark's calls into the engine, and the Spark
  * events those calls caused.
  *
  * With tracing off, [[span]] only runs its body. With tracing on, each
  * span tags the jobs it submits (`SparkContext.addJobTag`, inherited by
  * the threads Spark and `ops.Par` start), and listeners record jobs,
  * stages, tasks and SQL executions. Everything stays in memory until
  * [[layers]] aggregates it at the end of the run.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {

  private val sc = spark.sparkContext
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  var iter = 0

  private val tagPrefix = "perfbench-span-"

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val tag = tagPrefix + id
      sc.addJobTag(tag)
      stack = id :: stack
      val s = nowMs
      try f
      finally {
        val e = nowMs
        stack = stack.tail
        sc.removeJobTag(tag)
        spans += Span(id, name, parent, iter, s, e)
      }
    }

  // ---------------------------------------------------------- events

  final class StageRec(val stageId: Int) {
    var submitMs = 0.0
    var endMs = 0.0
    var cachedRdds: Seq[Int] = Nil
    var runMs = 0.0
    var cpuMs = 0.0
    var waitMs = 0.0
    var shuffleBytes = 0L
    var spillBytes = 0L
    var outputBytes = 0L
  }
  final case class JobRec(jobId: Int, span: Int, execId: Long, stageIds: Seq[Int])
  final case class QueryRec(execId: Long, startMs: Double, planMs: Double,
      output: Option[String])

  private val lock = new Object
  private val jobTagsKey = "spark.job.tags"
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = mutable.Map.empty[Int, StageRec]
  private val stageSubmit = mutable.Map.empty[Int, Double]
  private val queries = new ConcurrentLinkedQueue[QueryRec]()
  private val execTimes = mutable.Map.empty[Long, (Double, Double)]

  private def stage(id: Int): StageRec = stages.getOrElseUpdate(id, new StageRec(id))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val tags = props.flatMap(p => Option(p.getProperty(jobTagsKey)))
        .map(_.split(",").toSeq).getOrElse(Nil)
      val span = tags.filter(_.startsWith(tagPrefix))
        .map(_.stripPrefix(tagPrefix).toInt).maxOption.getOrElse(-1)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption).getOrElse(-1L)
      jobs.add(JobRec(e.jobId, span, exec, e.stageIds))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.map(_.toDouble).getOrElse(0.0)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      val r = stage(i.stageId)
      r.submitMs = i.submissionTime.map(_.toDouble).getOrElse(0.0)
      r.endMs = i.completionTime.map(_.toDouble).getOrElse(r.submitMs)
      r.cachedRdds = i.rddInfos.filter(_.storageLevel != StorageLevel.NONE).map(_.id)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val r = stage(e.stageId)
      val sub = stageSubmit.getOrElse(e.stageId, e.taskInfo.launchTime.toDouble)
      r.waitMs += math.max(0.0, e.taskInfo.launchTime - sub)
      val m = e.taskMetrics
      if (m != null) {
        r.runMs += m.executorRunTime
        r.cpuMs += m.executorCpuTime / 1e6
        r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        r.outputBytes += m.outputMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        execTimes(s.executionId) = (s.time.toDouble, Double.NaN)
      }
      case s: SparkListenerSQLExecutionEnd =>
        lock.synchronized {
          execTimes.get(s.executionId).foreach { case (st, _) =>
            execTimes(s.executionId) = (st, s.time.toDouble)
          }
        }
        PerfbenchAccess.queryExecution(s).foreach(qe => queries.add(query(s.executionId, qe)))
      case _ =>
    }
  }

  /** Plan time (the query's planning phases) and, for a file write, the
    * output path, which names the report table it publishes.
    */
  private def query(execId: Long, qe: org.apache.spark.sql.execution.QueryExecution): QueryRec = {
    val phases = qe.tracker.phases.values.toSeq
    val start = if (phases.isEmpty) Double.NaN else phases.map(_.startTimeMs).min.toDouble
    val plan = phases.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    val out = qe.logical.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }
    QueryRec(execId, start, plan, out)
  }

  if (enabled) sc.addSparkListener(listener)

  def close(): Unit = if (enabled) {
    PerfbenchAccess.drain(sc)
    sc.removeSparkListener(listener)
  }

  // ------------------------------------------------------ aggregation

  /** A span's id and its ancestors' ids. */
  private def lineage(byId: Map[Int, Span])(id: Int): Set[Int] =
    Iterator.iterate(id)(i => byId.get(i).map(_.parent).getOrElse(-1)).takeWhile(_ >= 0).toSet

  /** Stage id -> span of the first job that listed the stage. */
  private def stageSpans(): Map[Int, Int] = {
    val m = mutable.Map.empty[Int, Int]
    jobs.asScala.toSeq.sortBy(_.jobId).foreach(j => j.stageIds.foreach(s => m.getOrElseUpdate(s, j.span)))
    m.toMap
  }

  /** Per-layer metrics for `names` (each a span name), plus the virtual
    * `parse` layer and the report families under `gold.publish`.
    * Values are per span instance: a per-tick or per-round figure.
    */
  def layers(names: Seq[String], familyOf: String => Option[String],
      families: Seq[String], cores: Int, opName: String): Map[String, Double] = {
    PerfbenchAccess.drain(sc)
    val all = spans.toSeq
    val ancestors = lineage(all.map(s => s.id -> s).toMap) _
    val jobList = jobs.asScala.toSeq
    val stageSpan = stageSpans()
    val stageRecs = lock.synchronized(stages.values.toSeq)
    val execs = lock.synchronized(execTimes.toMap)
    val qs = queries.asScala.toSeq

    // The deepest span whose window holds time t.
    def innermost(t: Double): Int = {
      val hits = all.filter(s => s.startMs <= t && t < s.endMs)
      if (hits.isEmpty) -1 else hits.maxBy(s => ancestors(s.id).size).id
    }

    val out = mutable.LinkedHashMap.empty[String, Double]
    def put(k: String, v: Double): Unit = out(k) = if (v.isNaN) 0.0 else v

    // Report families: each gold write inside a gold.publish span, by its
    // output path's table name.
    val publishIds = all.filter(_.name == "gold.publish").map(_.id).toSet
    val byFamily = qs.filter(q => publishIds.contains(innermost(q.startMs)))
      .flatMap(q => q.output.flatMap(p => familyOf(p.split('/').last)).map(_ -> q))
      .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2) }
    def execInterval(q: QueryRec): Option[(Double, Double)] =
      execs.get(q.execId).filterNot(_._2.isNaN)
    val familyIntervals = byFamily.values.flatten.flatMap(execInterval).toSeq

    names.foreach { name =>
      val inst = all.filter(_.name == name)
      val n = inst.size.toDouble
      val ids = inst.map(_.id).toSet
      val myJobs = jobList.filter(j => ids.contains(j.span))
      val myStages = stageRecs.filter(r => stageSpan.get(r.stageId).exists(ids.contains))
      def per(v: Double) = if (n == 0) 0.0 else v / n
      put(s"$name.s", per(inst.map(_.durMs).sum) / 1000)
      // gold.publish's children are its report-family writes.
      put(s"$name.self_s", per(inst.map { s =>
        Stats.uncovered(s.startMs, s.endMs,
          all.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)) ++
            (if (name == "gold.publish") familyIntervals else Nil))
      }.sum) / 1000)
      put(s"$name.jobs", per(myJobs.size))
      put(s"$name.stages", per(myStages.size))
      put(s"$name.plan_ms", per(qs.filter(q => ids.contains(innermost(q.startMs))).map(_.planMs).sum))
      put(s"$name.driver_gap_ms", per(inst.map { s =>
        val sub = stageRecs.filter(r => stageSpan.get(r.stageId).exists(sp => ancestors(sp).contains(s.id)))
        Stats.uncovered(s.startMs, s.endMs, sub.map(r => (r.submitMs, r.endMs)))
      }.sum))
      put(s"$name.task_wait_ms", per(myStages.map(_.waitMs).sum))
      put(s"$name.exec_cpu_ms", per(myStages.map(_.cpuMs).sum))
      put(s"$name.shuffle_bytes", per(myStages.map(_.shuffleBytes.toDouble).sum))
      put(s"$name.spill_bytes", per(myStages.map(_.spillBytes.toDouble).sum))
    }

    // parse: fused into the cached silver frames, so it has no call of
    // its own; its stages are the ones that materialized those caches
    // inside the pipeline's spans.
    val pipelineIds = all.filter(s => s.name == "gold.publish" || s.name == "pipeline.run").map(_.id).toSet
    val nRuns = all.count(_.name == "gold.publish").toDouble
    def perRun(v: Double) = if (nRuns == 0) 0.0 else v / nRuns
    // A cached RDD appears in the rddInfos of every stage that reads it;
    // the earliest such stage is the one that materialized it.
    val inPipeline = stageRecs.filter(r =>
      stageSpan.get(r.stageId).exists(sp => ancestors(sp).exists(pipelineIds.contains)))
    val parseStages = inPipeline.flatMap(r => r.cachedRdds.map(_ -> r))
      .groupBy(_._1).values.map(_.map(_._2).minBy(_.submitMs)).toSeq.distinct
    val parseStageIds = parseStages.map(_.stageId).toSet
    val parseS = perRun(Stats.unionLength(parseStages.map(r => (r.submitMs, r.endMs)))) / 1000
    put("parse.s", parseS)
    put("parse.self_s", parseS)
    put("parse.jobs", perRun(jobList.count(_.stageIds.exists(parseStageIds.contains))))
    put("parse.stages", perRun(parseStages.size))
    put("parse.plan_ms", 0.0)
    put("parse.driver_gap_ms", 0.0)
    put("parse.task_wait_ms", perRun(parseStages.map(_.waitMs).sum))
    put("parse.exec_cpu_ms", perRun(parseStages.map(_.cpuMs).sum))
    put("parse.shuffle_bytes", perRun(parseStages.map(_.shuffleBytes.toDouble).sum))
    put("parse.spill_bytes", perRun(parseStages.map(_.spillBytes.toDouble).sum))

    families.foreach { f =>
      val fq = byFamily.getOrElse(f, Nil)
      val ex = fq.map(_.execId).toSet
      put(s"reports.$f.s", perRun(fq.flatMap(execInterval).map(i => i._2 - i._1).sum) / 1000)
      put(s"reports.$f.jobs", perRun(jobList.count(j => ex.contains(j.execId))))
    }

    // Slot utilization over the operations themselves.
    val ops = all.filter(_.name == opName)
    val opIds = ops.map(_.id).toSet
    val opRun = stageRecs.filter(r => stageSpan.get(r.stageId).exists(sp => ancestors(sp).exists(opIds.contains)))
      .map(_.runMs).sum
    put("spark.slot_util", if (ops.isEmpty) 0.0 else opRun / (ops.map(_.durMs).sum * cores))
    out.toMap
  }

  /** Output bytes of the stages under spans named `name`, per instance. */
  def outputBytes(name: String): Double = {
    PerfbenchAccess.drain(sc)
    val inst = spans.filter(_.name == name)
    if (inst.isEmpty) return 0.0
    val ids = inst.map(_.id).toSet
    val ancestors = lineage(spans.map(s => s.id -> s).toMap) _
    val stageSpan = stageSpans()
    lock.synchronized(stages.values.toSeq)
      .filter(r => stageSpan.get(r.stageId).exists(sp => ancestors(sp).exists(ids.contains)))
      .map(_.outputBytes.toDouble).sum / inst.size
  }

  /** Share of each `opName` span's wall time covered by its child spans. */
  def coverage(opName: String): Double = {
    val ops = spans.filter(_.name == opName)
    if (ops.isEmpty) 0.0
    else {
      val covered = ops.map { o =>
        Stats.unionLength(Stats.clip(spans.filter(_.parent == o.id).map(c => (c.startMs, c.endMs)).toSeq,
          o.startMs, o.endMs))
      }.sum
      covered / ops.map(_.durMs).sum
    }
  }
}
