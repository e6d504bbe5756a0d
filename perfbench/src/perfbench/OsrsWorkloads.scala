package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.OsrsPipeline
import graft.parse.ParseEngine
import graft.streaming.StreamingOsrsGold
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The two OSRS workloads, both driven through
  * [[graft.streaming.StreamingOsrsGold]] only:
  *
  *  - `osrs_refresh`: a store preloaded with seeded history takes one
  *    15-minute delta per tick (new messages plus the re-delivered
  *    10-minute overlap) and republishes the full report set;
  *  - `osrs_backfill`: one cold `applyBatch` of a large seeded log into an
  *    empty store.
  *
  * After every tick or backfill the dashboard reads the live report set
  * (`readTable` for every table, collected): the read side of the
  * blue/green gold layer.
  */
object OsrsWorkloads {

  /** Seeded history in the refresh store. */
  val refreshHistory = 20000L
  /** Seeded log of the cold backfill. */
  val backfillRows = 200000L

  val families: Seq[String] = Seq("leaderboard", "detailed", "timeseries", "clog", "pb", "recent")

  private val cfg0 = OsrsPipeline.Config()

  /** Report family of a published table; None for the metadata tables. */
  def familyOf(table: String): Option[String] =
    if (cfg0.leaderboards.exists(_.reportName == table)) Some("leaderboard")
    else if (cfg0.detailed.exists(d => table.startsWith(d.reportNamePrefix))) Some("detailed")
    else if (cfg0.timeseries.exists(_.reportName == table)) Some("timeseries")
    else if (table == "collection_log_summary") Some("clog")
    else if (table == "personal_bests_summary") Some("pb")
    else if (table == "recent_achievements") Some("recent")
    else None

  private val rawSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false),
    StructField("raw_content", StringType, nullable = false)))

  private def frame(spark: SparkSession, msgs: Seq[OsrsGen.Msg], slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(msgs.map(m =>
      Row(m.id, java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(m.tsMicros * 1000)), m.text)),
      slices), rawSchema)

  /** Lands generated messages as parquet, the way the fetcher hands them
    * over; returns the frame over the landed files and their size.
    */
  def land(spark: SparkSession, msgs: Seq[OsrsGen.Msg], path: Path, slices: Int): (DataFrame, Long) = {
    frame(spark, msgs, slices).write.mode("overwrite").parquet(path.toString)
    (spark.read.parquet(path.toString), dirBytes(path)._1)
  }

  /** (bytes, data files) under a directory. */
  def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
          !f.getFileName.toString.startsWith("_")).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }

  private def tableNames(spark: SparkSession, cfg: OsrsPipeline.Config): Seq[String] = {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], rawSchema)
    OsrsPipeline.run(empty, OsrsGen.runTime, cfg).keys.toSeq.sorted
  }

  /** One `applyBatch`. Traced, it makes the same public calls in the same
    * order as `applyBatch` itself, each inside its layer's span.
    */
  private def applyBatch(ctx: Ctx, store: StreamingOsrsGold, batch: DataFrame, id: Long,
      cfg: OsrsPipeline.Config, names: Seq[String]): Unit = {
    val tr = ctx.tracer
    if (!tr.enabled) store.applyBatch(batch, id)
    else tr.span("op") {
      store.rawStore.withWriteLock {
        tr.span("streaming.merge")(store.rawStore.mergeBatch(batch, id))
        store.rawStore.read(ctx.spark).foreach { stored =>
          val raw = stored.select("id", "timestamp", "raw_content")
          val tables = tr.span("pipeline.run")(OsrsPipeline.run(raw, OsrsGen.runTime, cfg))
          tr.span("gold.publish")(store.sink.publish(names.map(n => n -> tables(n)).toMap))
        }
      }
    }
  }

  /** The dashboard's view: every live report table, collected. */
  private def read(ctx: Ctx, store: StreamingOsrsGold, names: Seq[String]): Map[String, Array[Row]] =
    names.map(n => n -> store.readTable(ctx.spark, n).get.collect()).toMap

  /** A table as a multiset of rows. */
  private def bag(rows: Array[Row]): Map[Row, Int] = rows.groupBy(identity).map(e => e._1 -> e._2.length)

  /** Runs the jobs on `threads` driver threads; the check is untimed, and
    * its small queries leave most cores idle when run one at a time.
    */
  private def parallel[T](threads: Int)(jobs: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try jobs.map(j => pool.submit(() => j())).map(_.get())
    finally pool.shutdown()
  }

  final case class Check(failures: Seq[String], counts: Map[String, Double])

  /** One `OsrsPipeline.run` over `raw`, every table collected on `threads`
    * driver threads.
    */
  private def runCollected(raw: DataFrame, cfg: OsrsPipeline.Config, names: Seq[String],
      threads: Int): Map[String, Array[Row]] = {
    val tables = OsrsPipeline.run(raw, OsrsGen.runTime, cfg)
    parallel(threads)(names.map(n => () => n -> tables(n).collect())).toMap
  }

  /** Frees the cached silver frames of a finished pipeline run and turns
    * its tables into multisets of rows.
    */
  private def bags(ctx: Ctx, tables: Map[String, Array[Row]]): Map[String, Map[Row, Int]] = {
    ctx.spark.catalog.clearCache()
    tables.map { case (n, rows) => n -> bag(rows) }
  }

  /** The oracle: one `OsrsPipeline.run` over the generator's deduplicated
    * message set, every table collected as a multiset of rows.
    */
  private def oracle(ctx: Ctx, expected: Seq[OsrsGen.Msg], cfg: OsrsPipeline.Config,
      names: Seq[String]): Map[String, Map[Row, Int]] =
    bags(ctx, runCollected(frame(ctx.spark, expected, ctx.cores), cfg, names, 2 * ctx.cores))

  /** Untimed correctness: every published table, as the dashboard last
    * read it, equals its oracle table as a multiset of rows, the store holds
    * exactly the expected messages, and the dead-letter count equals the
    * planted count.
    */
  private def check(ctx: Ctx, store: StreamingOsrsGold, gold: Map[String, Array[Row]],
      want: Map[String, Map[Row, Int]], expected: Seq[OsrsGen.Msg],
      cfg: OsrsPipeline.Config): Check = {
    val spark = ctx.spark
    val bad = want.keys.toSeq.sorted.filter(n => !gold.get(n).map(bag).contains(want(n)))
    val stored = store.rawStore.read(spark).get.select("id", "timestamp", "raw_content")
    val parsed = ParseEngine.parse(stored, cfg.parse)
    val raw = stored.count()
    val dead = parsed.unparsed.count()
    val matched = parsed.chat.count() + parsed.broadcasts.count()
    val planted = expected.count(_.junk).toLong
    val failures =
      bad.map(n => s"gold table $n differs from the oracle run") ++
        (if (raw != expected.size) Seq(s"store holds $raw rows, expected ${expected.size}") else Nil) ++
        (if (dead != planted) Seq(s"dead-letter rows $dead, planted $planted") else Nil)
    Check(failures, Map("parse.match_frac" -> matched.toDouble / raw,
      "parse.deadletter_rows" -> dead.toDouble))
  }

  private def goldCounts(store: StreamingOsrsGold): Map[String, Double] = {
    val (b, f) = dirBytes(java.nio.file.Paths.get(store.sink.liveDir.get))
    Map("gold.bytes_written" -> b.toDouble, "gold.files_written" -> f.toDouble)
  }

  private def liveStoreBytes(root: Path): Long = {
    val ptr = root.resolve("raw_store/current")
    if (!Files.exists(ptr)) 0L
    else dirBytes(root.resolve("raw_store").resolve(Files.readString(ptr).trim).resolve("data"))._1
  }

  private def fresh(p: Path): Path = {
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    Files.createDirectories(p)
  }

  /** The reference digests of seed `ctx.seed`: the refresh store's gold
    * after tick 1, from one `OsrsPipeline.run`.
    */
  def refreshDigests(ctx: Ctx): Map[String, String] = {
    val cfg = OsrsGen.config(ctx.seed)
    val log = new OsrsGen.Log(ctx.seed, refreshHistory)
    val rows = runCollected(frame(ctx.spark, log.preload ++ log.tickNew(1), ctx.cores), cfg,
      tableNames(ctx.spark, cfg), 2 * ctx.cores)
    ctx.spark.catalog.clearCache()
    rows.map { case (n, r) => n -> GoldDigests.table(r) }
  }

  def refresh(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val cfg = OsrsGen.config(ctx.seed)
    val names = tableNames(spark, cfg)
    val log = new OsrsGen.Log(ctx.seed, refreshHistory)
    val history = log.preload
    val (histDf, histBytes) = land(spark, history, ctx.work.resolve("history"), ctx.cores)

    // Set-up: the history lands in the store, then one cold
    // OsrsPipeline.run over the state after tick 1 warms the JVM the way a
    // stream's first trigger does, its tables collected one after another
    // as publish writes them. They are also the check's oracle, so the
    // timed ticks run warm and the check costs no extra run.
    val root = fresh(ctx.work.resolve("refresh_store"))
    val store = new StreamingOsrsGold(root.toString, OsrsGen.runTime, cfg, names)
    val mergeS = ctx.timed(store.rawStore.mergeBatch(histDf, 0L))._2
    val warmDf = frame(spark, history ++ log.tickNew(1), ctx.cores)
    val (warmRows, warmS) = ctx.timed(runCollected(warmDf, cfg, names, 1))
    var want = bags(ctx, warmRows)

    val ops = Seq.newBuilder[Double]
    val reads = Seq.newBuilder[Double]
    var delivered = 0L
    var ticks = 0
    var failed = 0
    var writeAmp = List.empty[Double]
    var gold = Map.empty[String, Array[Row]]
    ctx.closedLoop(min = 1) { k =>
      val batch = log.tickDelivery(k)
      val (delta, deltaBytes) = land(spark, batch, ctx.work.resolve(s"tick_$k"), 1)
      try {
        ops += ctx.timed(applyBatch(ctx, store, delta, k.toLong, cfg, names))._2
        delivered += batch.size
        ticks = k
        writeAmp ::= liveStoreBytes(root).toDouble / deltaBytes
        val (rows, readS) = ctx.timed(read(ctx, store, names))
        reads += readS
        gold = rows
      } catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] tick $k failed: $e")
      }
    }
    val expected = history ++ (1 to ticks).flatMap(log.tickNew)
    val c0 = System.nanoTime()
    if (ticks != 1) want = oracle(ctx, expected, cfg, names)
    val chk0 = check(ctx, store, gold, want, expected, cfg)
    // The reference digests hold the state after tick 1.
    val ref = if (ticks == 1) ctx.goldRefs.get(ctx.seed) else None
    val chk = chk0.copy(failures = chk0.failures ++ ref.toSeq.flatMap(r =>
      GoldDigests.mismatches(r, gold).map(n => s"gold table $n differs from its reference digest")))
    val checkS = (System.nanoTime() - c0) / 1e9
    chk.failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))
    val opsSeq = ops.result()
    Outcome(
      setupS = mergeS + warmS,
      ops = opsSeq,
      items = delivered,
      reads = reads.result(),
      attempted = opsSeq.size + failed + 1,
      failed = failed + (if (chk.failures.nonEmpty) 1 else 0),
      counts = chk.counts ++ goldCounts(store) ++
        Map("streaming.write_amp" -> (if (writeAmp.isEmpty) 0.0 else writeAmp.sum / writeAmp.size)),
      details = Seq("preload_rows" -> history.size, "preload_bytes" -> histBytes,
        "merge_s" -> mergeS, "warm_s" -> warmS,
        "ticks" -> ticks, "delivered_rows" -> delivered, "store_rows" -> expected.size,
        "tables" -> names.size, "reference_digests" -> ref.fold("none for this seed")(r => s"${r.size} tables"),
        "check_s" -> checkS, "check_failures" -> chk.failures))
  }

  def backfill(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val cfg = OsrsGen.config(ctx.seed)
    val names = tableNames(spark, cfg)
    val log = new OsrsGen.Log(ctx.seed, backfillRows)
    val msgs = (0L until backfillRows).map(log.history)
    val (df, bytes) = land(spark, msgs, ctx.work.resolve("backfill_log"), ctx.cores)

    val ops = Seq.newBuilder[Double]
    val reads = Seq.newBuilder[Double]
    var failed = 0
    var store: StreamingOsrsGold = null
    var writeAmp = 0.0
    var gold = Map.empty[String, Array[Row]]
    ctx.closedLoop(min = 1) { i =>
      val root = fresh(ctx.work.resolve("backfill_store"))
      store = new StreamingOsrsGold(root.toString, OsrsGen.runTime, cfg, names)
      try {
        ops += ctx.timed(applyBatch(ctx, store, df, 0L, cfg, names))._2
        writeAmp = liveStoreBytes(root).toDouble / bytes
        val (rows, readS) = ctx.timed(read(ctx, store, names))
        reads += readS
        gold = rows
      } catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] backfill $i failed: $e")
      }
    }
    val c0 = System.nanoTime()
    val chk = check(ctx, store, gold, oracle(ctx, msgs, cfg, names), msgs, cfg)
    val checkS = (System.nanoTime() - c0) / 1e9
    chk.failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))
    val opsSeq = ops.result()
    Outcome(
      setupS = 0.0,
      ops = opsSeq,
      items = backfillRows * opsSeq.size,
      reads = reads.result(),
      attempted = opsSeq.size + failed + 1,
      failed = failed + (if (chk.failures.nonEmpty) 1 else 0),
      counts = chk.counts ++ goldCounts(store) ++ Map("streaming.write_amp" -> writeAmp),
      details = Seq("log_rows" -> backfillRows, "log_bytes" -> bytes,
        "tables" -> names.size, "check_s" -> checkS, "check_failures" -> chk.failures))
  }
}
