package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** What one workload run measured; [[Main]] turns it into metrics. */
final case class Outcome(
    setupS: Double,
    ops: Seq[Double],
    items: Long,
    reads: Seq[Double],
    attempted: Int,
    failed: Int,
    counts: Map[String, Double],
    details: Seq[(String, Any)])

/** Everything a workload needs from the harness. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val seed: Long,
    val seconds: Double,
    val cores: Int,
    val work: Path,
    val goldRefs: Map[Long, Map[String, String]]) {

  /** 1-minute loadavg at the start of each timed step, as host context. */
  val loads: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty

  /** Times `f` in seconds, recording the loadavg at its start. */
  def timed[T](f: => T): (T, Double) = {
    loads += Host.load1()
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Runs `f` for every operation while the measuring window is open;
    * always at least `min` times.
    */
  def closedLoop(min: Int)(f: Int => Unit): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 1
    while (i <= min || System.nanoTime() < deadline) {
      tracer.iter = i
      f(i)
      i += 1
    }
  }
}

/** The benchmark's JVM entry point:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  * --refs FILE`. Prints a detail line and then, as the last line, the
  * result object. Exits non-zero when an operation or a correctness check
  * failed.
  *
  * `perfbench.Main --digests FIRST-LAST --work DIR` prints the reference
  * digest lines of [[GoldDigests]] for those seeds instead.
  */
object Main {

  val workloads: Seq[String] = Seq("osrs_refresh", "osrs_backfill", "corpus_ingest")

  /** Span names reported as per-layer metrics, in output order. */
  val spanLayers: Seq[String] = Seq("streaming.merge", "pipeline.run", "gold.publish",
    "dedup.screen", "index.build", "index.maintain", "index.compact", "index.refit",
    "index.probe")

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors
    if (opts.contains("digests")) return digests(opt("digests"), cores, work)
    val workload = opt("workload")
    require(workloads.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val refs = GoldDigests.load(Paths.get(opt("refs")))

    val canary = Host.canary()
    val load0 = Host.load1()

    val t0 = System.nanoTime()
    val spark = session(workload, cores, work)
    warmUp(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, tracer, seed, seconds, cores, work, refs)
    val gc0 = Host.gcMs()
    Host.resetHeapPeak()
    val out = workload match {
      case "osrs_refresh" => OsrsWorkloads.refresh(ctx)
      case "osrs_backfill" => OsrsWorkloads.backfill(ctx)
      case "corpus_ingest" => CorpusWorkload.ingest(ctx)
    }
    val gcMs = Host.gcMs() - gc0
    val heapMb = Host.heapPeakMb()

    val ops = Stats.summary(out.ops)
    val reads = Stats.summary(out.reads)
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", sessionS + out.setupS, "s"),
      ("op_s.p50", ops.p50, "s"),
      ("op_s.tail", ops.tail, "s"),
      ("items_per_s", out.items / out.ops.sum, "1/s"),
      ("read_s.p50", reads.p50, "s"),
      ("read_s.tail", reads.tail, "s"))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) e2e
      else {
        val layers = tracer.layers(spanLayers, OsrsWorkloads.familyOf,
          OsrsWorkloads.families, cores, "op")
        val counts = out.counts ++ Map("jvm.heap_peak_mb" -> heapMb, "jvm.gc_ms" -> gcMs)
        perLayerNames.map(n => (n, layers.getOrElse(n, counts.getOrElse(n, 0.0)), unitOf(n)))
      }
    tracer.close()

    val detail = Seq[(String, Any)](
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "session_s" -> sessionS, "workload_setup_s" -> out.setupS,
      "ops_n" -> ops.n, "op_tail_pct" -> ops.tailPct,
      "reads_n" -> reads.n, "read_tail_pct" -> reads.tailPct,
      "op_s" -> out.ops, "read_s" -> out.reads,
      "canary_1t_s" -> canary, "load1_start" -> load0,
      "load1_at_steps" -> ctx.loads.toSeq) ++
      (if (trace) Seq("span_coverage_of_op" -> tracer.coverage("op"),
        "traced_op_s_p50" -> ops.p50) ++
        TraceOverhead.compare(work.getParent, workload, ops.p50)
      else TraceOverhead.record(work.getParent, workload, ops.p50)) ++
      out.details
    println(Json.obj(detail))

    val correct = out.failed == 0
    println(Json.obj(Seq(
      "correct" -> correct,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
      })))))
    spark.stop()
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private def session(name: String, cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Prints the reference digest lines for the seeds `first-last`. */
  private def digests(range: String, cores: Int, work: Path): Unit = {
    val Array(first, last) = range.split('-').map(_.toLong)
    val spark = session("digests", cores, work)
    val tracer = new Tracer(spark, false)
    println(s"# seed\ttable\tdigest: osrs_refresh gold after tick 1 (see GoldDigests)")
    (first to last).foreach { seed =>
      val ctx = new Ctx(spark, tracer, seed, 0, cores, work, Map.empty)
      GoldDigests.lines(seed, OsrsWorkloads.refreshDigests(ctx)).foreach(println)
    }
    tracer.close()
    spark.stop()
  }

  /** Per-layer metric names, in output order. */
  val perLayerNames: Seq[String] = {
    val fields = Seq("s", "self_s", "jobs", "stages", "plan_ms", "driver_gap_ms",
      "task_wait_ms", "exec_cpu_ms", "shuffle_bytes", "spill_bytes")
    (spanLayers :+ "parse").flatMap(s => fields.map(f => s"$s.$f")) ++
      OsrsWorkloads.families.flatMap(f => Seq(s"reports.$f.s", s"reports.$f.jobs")) ++
      Seq("streaming.write_amp", "parse.match_frac", "parse.deadletter_rows",
        "gold.bytes_written", "gold.files_written", "dedup.candidates",
        "dedup.precision", "dedup.recall", "index.live_rows", "index.tombstones",
        "index.bytes_written", "index.refits", "index.recall_at_10",
        "spark.slot_util", "jvm.heap_peak_mb", "jvm.gc_ms")
  }

  def unitOf(name: String): String = name.split('.').last match {
    case "s" | "self_s" => "s"
    case "plan_ms" | "driver_gap_ms" | "task_wait_ms" | "exec_cpu_ms" | "gc_ms" => "ms"
    case "shuffle_bytes" | "spill_bytes" | "bytes_written" => "bytes"
    case "heap_peak_mb" => "MB"
    case "write_amp" | "match_frac" | "precision" | "recall" | "recall_at_10" | "slot_util" => "ratio"
    case _ => "count"
  }

  /** One-time session costs the user pays before the first operation:
    * classloading and JIT of the scan, parse, aggregate, window and write
    * paths, on tiny data.
    */
  private def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.expressions.Window
    val tiny = spark.range(2000).select(col("id"),
      concat_ws(" ", lit("w"), (col("id") % 97).cast("string")).as("s"))
    tiny.select(col("id"), explode(split(col("s"), " ")).as("t"))
      .select(col("id"), md5(col("t")).as("h"), regexp_extract(col("t"), "(\\d+)", 1).as("d"))
      .groupBy("id").agg(min("h").as("h"), max("d").as("d"))
      .withColumn("r", row_number().over(Window.partitionBy(col("id") % 7).orderBy(col("h"))))
      .filter(col("r") <= 3).count()
  }
}

/** Tracing overhead: the traced run's median operation time minus that of
  * the last untraced run of the same workload in this checkout.
  */
object TraceOverhead {
  private def file(root: Path, workload: String) = root.resolve(s"untraced_$workload.txt")

  def record(root: Path, workload: String, p50: Double): Seq[(String, Any)] = {
    Files.writeString(file(root, workload), p50.toString)
    Nil
  }

  def compare(root: Path, workload: String, p50: Double): Seq[(String, Any)] = {
    val f = file(root, workload)
    if (!Files.exists(f)) Seq("trace_overhead_s" -> "no untraced run recorded")
    else {
      val base = Files.readString(f).trim.toDouble
      Seq("untraced_op_s_p50" -> base, "trace_overhead_s" -> (p50 - base),
        "trace_overhead_frac" -> (p50 - base) / base)
    }
  }
}

/** Minimal JSON writer for the result lines. */
object Json {
  final case class Raw(s: String)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case Raw(s) => s
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}
