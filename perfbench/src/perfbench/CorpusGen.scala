package perfbench

import java.util.SplittableRandom

/** Seeded LLM-corpus generator: documents with paired 64-d embeddings,
  * planted near-duplicate families, and rounds of arrivals, deletes and
  * updates whose embeddings drift slowly away from the build
  * distribution (the drift speed is seeded, so the round at which the
  * index needs a refit is too).
  *
  * Id classes keep the ground truth simple: initial ids with id % 5 >= 2
  * are never deleted or updated and serve as near-duplicate sources;
  * id % 5 == 0 are deleted over the rounds, id % 5 == 1 updated.
  */
final class CorpusGen(val seed: Long) {
  import CorpusGen._

  private def rng(salt: Long, i: Long) =
    new SplittableRandom(OsrsGen.mix(OsrsGen.mix(seed + 0x632BE59BD9B4E019L) + salt * 0x9E3779B97F4A7C15L + i))

  private val vocab: IndexedSeq[String] = {
    val syl = Seq("ka", "to", "ri", "mu", "se", "lo", "va", "ne", "pi", "du", "ga", "ze", "bo", "shi", "ten", "ar")
    val r = rng(1, 0)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < vocabSize)
      out += (1 to 2 + r.nextInt(3)).map(_ => syl(r.nextInt(syl.size))).mkString
    out.toIndexedSeq
  }

  private val centers: IndexedSeq[Array[Double]] = (0 until clusters).map { c =>
    val r = rng(2, c.toLong)
    Array.fill(dims)(r.nextDouble() * 2 - 1)
  }
  private val driftDir: IndexedSeq[Array[Double]] = (0 until clusters).map { c =>
    val r = rng(3, c.toLong)
    Array.fill(dims)(r.nextDouble() * 2 - 1)
  }

  /** Embedding drift per round, seeded within [0.7, 0.85]: fast enough
    * that the error bound is crossed in round 2, slow enough that it is
    * not crossed in round 1.
    */
  val driftPerRound: Double = 0.7 + 0.15 * rng(4, 0).nextDouble()

  private def vector(r: SplittableRandom, round: Int): Array[Double] = {
    val c = r.nextInt(clusters)
    Array.tabulate(dims)(d =>
      centers(c)(d) + round * driftPerRound * driftDir(c)(d) + r.nextGaussian() * 0.35)
  }

  private def words(r: SplittableRandom): String =
    Seq.fill(docWords)(vocab(r.nextInt(vocab.size))).mkString(" ")

  /** A near-copy: one word replaced, the embedding nudged. */
  private def nearCopy(src: Doc, id: Long, r: SplittableRandom): Doc = {
    val w = src.text.split(' ')
    w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.size))
    Doc(id, w.mkString(" "), src.vec.map(_ + r.nextGaussian() * 0.01), Some(src.id))
  }

  def doc(id: Long): Doc = {
    val r = rng(5, id)
    Doc(id, words(r), vector(r, 0), None)
  }

  lazy val initial: IndexedSeq[Doc] = (0L until initialDocs).map(doc)

  /** Round r (1-based): arrivals, deletes, updates and one probe batch. */
  def round(r: Int): Round = {
    val base = initialDocs + (r - 1).toLong * arrivalsPerRound
    val arrivals = (0 until arrivalsPerRound).map { j =>
      val id = base + j
      val dr = rng(7, id)
      if (dr.nextInt(100) < dupPercent) {
        val src = initial(sourceId(dr))
        nearCopy(src, id, dr)
      } else Doc(id, words(dr), vector(dr, r), None)
    }
    val deletes = slice(0, r, deletesPerRound)
    val updates =
      if (r % updateEvery == 0)
        slice(1, r / updateEvery, updatesPerRound).map { id =>
          val ur = rng(8, id * 1000 + r)
          Doc(id, doc(id).text, vector(ur, r), None)
        }
      else Nil
    Round(r, arrivals, deletes, updates, probes(r))
  }

  /** Round r's probe batch: vectors near never-deleted documents, with
    * negative ids so no probe collides with a document.
    */
  def probes(r: Int): Seq[(Long, Array[Double])] = (0 until probesPerRound).map { j =>
    val pr = rng(9, r.toLong * 1000 + j)
    val near = initial(sourceId(pr))
    (-(r.toLong * 1000 + j + 1), near.vec.map(_ + pr.nextGaussian() * 0.05))
  }

  /** A never-deleted, never-updated initial id. */
  private def sourceId(r: SplittableRandom): Int = {
    var i = r.nextInt(initialDocs)
    while (i % 5 < 2) i = r.nextInt(initialDocs)
    i
  }

  /** The k-th block of size n of the ids in class `cls` (id % 5), in a
    * seeded order; consecutive blocks never repeat an id.
    */
  private def slice(cls: Int, k: Int, n: Int): Seq[Long] = {
    val ids = classOrder(cls)
    (((k - 1) * n) until (k * n)).map(i => ids(i % ids.size))
  }

  private val classOrder: Map[Int, IndexedSeq[Long]] = Seq(0, 1).map { cls =>
    val ids = (0L until initialDocs).filter(_ % 5 == cls).toArray
    val r = rng(10, cls.toLong)
    for (i <- ids.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    cls -> ids.toIndexedSeq
  }.toMap
}

object CorpusGen {
  val dims = 64
  val clusters = 32
  val vocabSize = 4000
  val docWords = 80
  val initialDocs = 4000
  val arrivalsPerRound = 400
  val dupPercent = 10
  val deletesPerRound = 60
  val updatesPerRound = 30
  val updateEvery = 2
  val probesPerRound = 32

  final case class Doc(id: Long, text: String, vec: Array[Double], source: Option[Long])
  final case class Round(r: Int, arrivals: Seq[Doc], deletes: Seq[Long], updates: Seq[Doc],
      probes: Seq[(Long, Array[Double])])
}
