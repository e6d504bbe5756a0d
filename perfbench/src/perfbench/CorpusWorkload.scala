package perfbench

import java.nio.file.Path

import scala.collection.mutable

import graft.ml.{KMeans, Pq}
import graft.ops.{Dedup, PqIndex, Similarity}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** `corpus_ingest`: a curation driver keeping an IVF-PQ index of an LLM
  * corpus fresh while serving similarity probes from it.
  *
  * Set-up builds the index (coarse k-means, PQ codebooks, `PqIndex.write`).
  * Each round then, in one closed loop:
  *   1. screens the arriving batch against the live corpus with
  *      `Dedup.md5MinHashCandidatesAgainst` and drops near-duplicates;
  *   2. applies the survivors, the round's deletes and (on even rounds)
  *      updates through `PqIndex.applyMaintenanceBatch`, then reads
  *      `meanQuantizationError`;
  *   3. runs `PqIndex.refit` once the error passes 1.2x its value at the
  *      last build or refit, and otherwise `PqIndex.compact` on odd rounds.
  *      Update rounds compact inside the maintenance batch, so the
  *      standalone compaction folds the tombstones of a delete-only round;
  *   4. probes with `PqIndex.topK` (k = 10), timed on its own.
  */
object CorpusWorkload {
  import CorpusGen._

  val m = 8
  val pqK = 32
  val nlist = 16
  val iterations = 1
  val nprobe = 4
  val candidateK = 100
  val topK = 10
  val tau = 0.5
  val compactEvery = 2
  val refitRatio = 1.2

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))
  private val vecSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("vec", ArrayType(DoubleType, containsNull = false), nullable = false)))
  private val opSchema = StructType(vecSchema.fields :+
    StructField("op", StringType, nullable = false))

  private def texts(spark: SparkSession, docs: Seq[Doc], slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      docs.map(d => Row(d.id, d.text)), slices), docSchema)

  private def vecs(spark: SparkSession, rows: Seq[(Long, Array[Double])], slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (i, v) => Row(i, v.toSeq) }, slices), vecSchema)

  /** Lands a frame as parquet and returns the frame over the files. */
  private def land(df: DataFrame, p: Path, mode: String = "overwrite"): DataFrame = {
    df.write.mode(mode).parquet(p.toString)
    df.sparkSession.read.parquet(p.toString)
  }

  def ingest(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val gen = new CorpusGen(ctx.seed)
    val corpusVecs = land(vecs(spark, gen.initial.map(d => d.id -> d.vec), ctx.cores),
      ctx.work.resolve("corpus_vecs"))
    val textPath = ctx.work.resolve("corpus_text")
    land(texts(spark, gen.initial, ctx.cores), textPath)

    // Set-up: the index build and its reference quantization error.
    val path = ctx.work.resolve("pq_index").toString
    val (err0, buildS) = ctx.timed(tr.span("index.build") {
      val coarse = KMeans.fit(corpusVecs, "doc_id", "vec", nlist, iterations)
      val model = Pq.fit(corpusVecs, "doc_id", "vec", dims, m, pqK, iterations)
      PqIndex.write(spark, path, corpusVecs, "doc_id", "vec",
        KMeans.centroidFrame(corpusVecs, coarse), model)
      PqIndex.meanQuantizationError(spark, path)
    })
    var baseErr = err0
    // Warm-up probe: the first topK in a JVM pays code generation, which a
    // serving index pays once at start, not per batch.
    val warmS = ctx.timed(PqIndex.topK(spark, path, vecs(spark, gen.probes(0), 1),
      "doc_id", "vec", topK, candidateK, nprobe).collect())._2

    // Ground truth the checks use: the live vectors, deleted ids, families.
    val live = mutable.LinkedHashMap.empty[Long, Array[Double]]
    gen.initial.foreach(d => live(d.id) = d.vec)
    val deleted = mutable.Set.empty[Long]
    val familyOf = mutable.Map.empty[Long, Long]
    gen.initial.foreach(d => familyOf(d.id) = d.id)

    val ops = Seq.newBuilder[Double]
    val reads = Seq.newBuilder[Double]
    var ingested = 0L
    var failed = 0
    var planted = 0
    var caught = 0
    var candidates = 0L
    var truePairs = 0L
    var refits = 0
    var hits = 0L
    var probed = 0L
    var leaked = 0L
    var rounds = 0
    val errs = mutable.ArrayBuffer(baseErr)
    ctx.closedLoop(min = 2) { r =>
      val rd = gen.round(r)
      val batch = land(texts(spark, rd.arrivals, 1), ctx.work.resolve(s"arrivals_$r"))
      val deletedDf = spark.createDataFrame(spark.sparkContext.parallelize(
        deleted.toSeq.map(Row(_)), 1), StructType(Seq(docSchema.head)))
      val corpusText = spark.read.parquet(textPath.toString).join(deletedDf, Seq("doc_id"), "left_anti")
      try {
        var cands: Array[Row] = null
        var survivors: Seq[Doc] = Nil
        ops += ctx.timed(tr.span("op") {
          cands = tr.span("dedup.screen") {
            Dedup.md5MinHashCandidatesAgainst(batch, corpusText, "doc_id", "text").collect()
          }
          val dups = cands.filter(_.getDouble(2) >= tau).map(_.getLong(0)).toSet
          survivors = rd.arrivals.filterNot(d => dups.contains(d.id))
          val rows = survivors.map(d => (d.id, d.vec, "add")) ++
            rd.deletes.filter(live.contains).map(id => (id, Array.empty[Double], "delete")) ++
            rd.updates.flatMap(u => Seq((u.id, Array.empty[Double], "delete"), (u.id, u.vec, "add")))
          val opBatch = spark.createDataFrame(spark.sparkContext.parallelize(
            rows.map { case (i, v, o) => Row(i, v.toSeq, o) }, 1), opSchema)
          val err = tr.span("index.maintain") {
            PqIndex.applyMaintenanceBatch(spark, path, opBatch, "doc_id", "vec", "op")
            PqIndex.meanQuantizationError(spark, path)
          }
          errs += err
          if (err > refitRatio * baseErr) {
            tr.span("index.refit")(PqIndex.refit(spark, path, iterations))
            baseErr = PqIndex.meanQuantizationError(spark, path)
            refits += 1
          } else if (r % compactEvery == 1) tr.span("index.compact")(PqIndex.compact(spark, path))
        })._2

        // Untimed bookkeeping: the live text corpus and the ground truth.
        land(texts(spark, survivors, 1), textPath, "append")
        survivors.foreach { d =>
          live(d.id) = d.vec
          familyOf(d.id) = d.source.map(familyOf).getOrElse(d.id)
        }
        rd.deletes.foreach { id => if (live.remove(id).isDefined) deleted += id }
        rd.updates.foreach(u => live(u.id) = u.vec)
        ingested += rd.arrivals.size + rd.deletes.size + rd.updates.size
        val plantedNow = rd.arrivals.filter(_.source.isDefined)
        planted += plantedNow.size
        caught += plantedNow.count(d => cands.exists(c => c.getLong(0) == d.id &&
          c.getDouble(2) >= tau && familyOf.get(c.getLong(1)).contains(familyOf(d.source.get))))
        candidates += cands.length
        truePairs += cands.count(c => rd.arrivals.find(_.id == c.getLong(0)).flatMap(_.source)
          .exists(s => familyOf.get(c.getLong(1)).contains(familyOf(s))))

        // The read side: one probe batch, materialized.
        val probes = vecs(spark, rd.probes, 1)
        val (got, probeS) = ctx.timed(tr.span("index.probe") {
          PqIndex.topK(spark, path, probes, "doc_id", "vec", topK, candidateK, nprobe).collect()
        })
        reads += probeS
        val want = Similarity.bruteForceTopK(probes,
            vecs(spark, live.toSeq, ctx.cores), "doc_id", "vec", topK)
          .select("query_id", "neighbor_id").collect()
          .map(w => (w.getLong(0), w.getLong(1))).toSet
        val gotPairs = got.map(g => (g.getAs[Long]("query_id"), g.getAs[Long]("neighbor_id"))).toSet
        hits += (gotPairs & want).size
        probed += want.size
        leaked += gotPairs.count(p => !live.contains(p._2))
        rounds = r
      } catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] round $r failed: $e")
      }
    }

    val gen0 = PqIndex.liveVersion(spark, path)
    val liveRows = spark.read.parquet(s"$path/$gen0/lists").count()
    val tombs = {
      val t = new java.io.File(s"$path/$gen0/tombstones")
      if (t.exists) spark.read.parquet(t.toString).count() else 0L
    }
    val recall = hits.toDouble / math.max(1L, probed)
    val dupRecall = caught.toDouble / math.max(1, planted)
    val failures = Seq(
      if (leaked > 0) Some(s"$leaked probe results returned deleted ids") else None,
      if (recall < 0.8) Some(f"recall_at_10 $recall%.3f below 0.8") else None,
      if (dupRecall < 0.75) Some(f"dup_recall $dupRecall%.3f below 0.75") else None,
      if (liveRows - tombs != live.size)
        Some(s"index holds ${liveRows - tombs} live rows, expected ${live.size}") else None).flatten
    failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))
    val opsSeq = ops.result()
    Outcome(
      setupS = buildS + warmS,
      ops = opsSeq,
      items = ingested,
      reads = reads.result(),
      attempted = 2 * opsSeq.size + failed + 1,
      failed = failed + (if (failures.nonEmpty) 1 else 0),
      counts = Map(
        "dedup.candidates" -> candidates.toDouble / math.max(1, rounds),
        "dedup.precision" -> truePairs.toDouble / math.max(1L, candidates),
        "dedup.recall" -> dupRecall,
        "index.live_rows" -> (liveRows - tombs).toDouble,
        "index.tombstones" -> tombs.toDouble,
        "index.bytes_written" -> (Seq("index.maintain", "index.compact", "index.refit")
          .map(tr.outputBytes).sum),
        "index.refits" -> refits.toDouble,
        "index.recall_at_10" -> recall),
      details = Seq("initial_docs" -> initialDocs, "rounds" -> rounds,
        "arrivals_per_round" -> arrivalsPerRound, "probes_per_round" -> probesPerRound,
        "refits" -> refits, "recall_at_10" -> recall,
        "dup_recall" -> dupRecall, "planted_dups" -> planted, "quant_err_ratio" -> errs.toSeq.map(_ / err0),
        "drift_per_round" -> gen.driftPerRound, "check_failures" -> failures))
  }
}
