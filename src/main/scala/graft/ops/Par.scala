package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}

import org.apache.spark.sql.SparkSession

/** Overlap INDEPENDENT Spark actions from driver threads (guide §2.6):
  * actions are only sequential because driver code calls them
  * sequentially, so a commit that must land several parquet trees can
  * submit each write from its own thread and let the scheduler back-fill
  * executors freed by one job's straggler tail with the next job's tasks.
  * Wall clock for a commit drops from Σ(writes) toward max(writes).
  *
  * Contract: the thunks must be independent (no thunk reads what another
  * writes) and every shared upstream frame must already be materialized
  * (eager checkpoint or a prior action) — two concurrent jobs racing to
  * materialize one lazy cache duplicate its compute (the r18 SetSimJoin
  * lesson).
  *
  * At most `defaultParallelism` thunks run at once: more concurrent jobs
  * than cores only add driver and memory pressure. Workers are fresh
  * threads, so they inherit the caller's local properties (job tags, job
  * group, scheduler pool); each also carries one tag unique to this call.
  * On the first failure no further thunk starts and every sibling job
  * still running is cancelled through that tag — never through a job
  * group, which would overwrite the caller's. All workers are joined
  * before returning; the first failure is rethrown with later ones
  * attached via `addSuppressed`, so a caller's commit-marker write stays
  * strictly after every tree landed or not at all.
  */
object Par {

  private val calls = new AtomicLong

  def jobs(thunks: (() => Unit)*): Unit = {
    if (thunks.sizeIs <= 1) { thunks.foreach(_()); return }
    val work = thunks.toIndexedSeq
    val sc = SparkSession.active.sparkContext
    val tag = s"graft-par-${calls.incrementAndGet()}"
    val next = new AtomicInteger
    val first = new AtomicReference[Throwable]
    val later = new ConcurrentLinkedQueue[Throwable]

    def worker(): Unit = {
      sc.addJobTag(tag)
      var i = next.getAndIncrement()
      while (i < work.size && first.get == null) {
        try work(i)() catch { case e: Throwable =>
          if (first.compareAndSet(null, e)) sc.cancelJobsWithTag(tag, s"sibling of $tag failed")
          else later.add(e): Unit
        }
        i = next.getAndIncrement()
      }
    }

    val ts = (0 until math.min(work.size, sc.defaultParallelism)).map { i =>
      val th = new Thread(() => worker(), s"$tag-$i")
      th.setDaemon(true)
      th.start()
      th
    }
    ts.foreach(_.join())
    val e = first.get
    if (e != null) { later.forEach(e.addSuppressed(_)); throw e }
  }
}
