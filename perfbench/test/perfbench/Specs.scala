package perfbench

/** Specs for the benchmark's own pure code, run with
  * `python3 perfbench/run.py --selftest`: generator determinism per seed,
  * the gold digest, the `*.tail` percentile rule, the interval-union
  * driver gap and span self time. Exits non-zero on the first failure.
  */
object Specs {

  private var passed = 0

  private def spec(name: String)(body: => Unit): Unit = {
    try body
    catch {
      case e: Throwable =>
        println(s"FAIL $name: $e")
        sys.exit(1)
    }
    passed += 1
    println(s"ok   $name")
  }

  private def near(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    spec("OSRS log: same seed, byte-identical rows; another seed, other rows") {
      val a = new OsrsGen.Log(7, 5000)
      val b = new OsrsGen.Log(7, 5000)
      val c = new OsrsGen.Log(8, 5000)
      val ra = (0L until 5000L).map(a.history)
      assert(ra == (0L until 5000L).map(b.history))
      assert(a.tickDelivery(3) == b.tickDelivery(3))
      assert(ra.map(_.text) != (0L until 5000L).map(c.history).map(_.text))
    }

    spec("OSRS log: a re-delivered overlap row equals its first delivery") {
      val log = new OsrsGen.Log(3, 5000)
      val first = log.tickNew(2).map(m => m.id -> m).toMap
      val overlap = log.tickDelivery(3).filter(m => first.contains(m.id))
      assert(overlap.size == 1000 && overlap.forall(m => first(m.id) == m))
      val preloaded = log.preload.map(m => m.id -> m).toMap
      val again = log.tickDelivery(1).filter(m => preloaded.contains(m.id))
      assert(again.size == 1000 && again.forall(m => preloaded(m.id) == m))
      assert(log.preload.map(_.id).distinct.size == 5000 + OsrsGen.tickSize)
    }

    spec("OSRS log: about 5% planted dead letters, Zipf-skewed users") {
      val log = new OsrsGen.Log(11, 20000)
      val rows = (0L until 20000L).map(log.history)
      val junk = rows.count(_.junk).toDouble / rows.size
      assert(junk > 0.04 && junk < 0.06, junk)
      val users = OsrsGen.users(11)
      val chatters = rows.flatMap(m => "\\*\\*(.*?)\\*\\*".r.findFirstMatchIn(m.text).map(_.group(1)))
      val top = chatters.groupBy(identity).view.mapValues(_.size).toMap
      assert(top.getOrElse(users(0), 0) > 10 * top.getOrElse(users(200), 1))
    }

    spec("OSRS log: timestamps cover every reporting period") {
      val log = new OsrsGen.Log(5, 20000)
      val ts = log.preload.map(_.tsMicros / 1000000L)
      val periods = graft.reports.Periods.compute(OsrsGen.runTime)
      periods.foreach { p =>
        val lo = p.start.map(_.getTime / 1000).getOrElse(Long.MinValue)
        val hi = p.end.getTime / 1000
        assert(ts.exists(t => t >= lo && t < hi), p.key)
      }
    }

    spec("corpus: same seed, identical documents, vectors and planted families") {
      val a = new CorpusGen(9)
      val b = new CorpusGen(9)
      assert(a.initial.map(_.text) == b.initial.map(_.text))
      assert(a.initial.map(_.vec.toSeq) == b.initial.map(_.vec.toSeq))
      assert(a.round(4).arrivals.map(d => (d.id, d.text, d.source)) ==
        b.round(4).arrivals.map(d => (d.id, d.text, d.source)))
      assert(new CorpusGen(10).initial.map(_.text) != a.initial.map(_.text))
      assert(a.round(2).arrivals.exists(_.source.isDefined))
      // Round 1 only deletes, so its standalone compaction has tombstones
      // to fold; round 2's updates compact inside the maintenance batch.
      assert(a.round(1).updates.isEmpty && a.round(1).deletes.nonEmpty)
      assert(a.round(2).updates.nonEmpty)
      assert(a.round(2).updates.map(_.id).toSet.intersect(a.round(4).updates.map(_.id).toSet).isEmpty)
    }

    spec("gold digest: row order and last-digit double noise do not move it") {
      import org.apache.spark.sql.Row
      val a = Array(Row(1L, "x", 0.1 + 0.2, Seq(1.0 / 3)), Row(2L, "y", 3.0, Nil))
      val b = Array(Row(2L, "y", 3.0, Nil), Row(1L, "x", 0.3, Seq(0.3333333333)))
      val c = Array(Row(2L, "y", 3.0, Nil), Row(1L, "x", 0.31, Seq(0.3333333333)))
      assert(GoldDigests.table(a) == GoldDigests.table(b))
      assert(GoldDigests.table(a) != GoldDigests.table(c))
      assert(GoldDigests.table(a).length == 16)
      assert(GoldDigests.canon(java.sql.Timestamp.from(java.time.Instant.parse("2024-01-02T03:04:05Z"))) ==
        "2024-01-02T03:04:05Z")
    }

    spec("tail rule: highest percentile with at least ten samples beyond it") {
      assert(Stats.tailPercentile(1) == 100.0)
      assert(Stats.tailPercentile(19) == 100.0)
      assert(Stats.tailPercentile(20) == 50.0)
      assert(Stats.tailPercentile(40) == 75.0)
      assert(Stats.tailPercentile(100) == 90.0)
      assert(Stats.tailPercentile(199) == 90.0)
      assert(Stats.tailPercentile(200) == 95.0)
      assert(Stats.tailPercentile(1000) == 99.0)
      assert(Stats.tailPercentile(10000) == 99.9)
      val s = Stats.summary((1 to 100).map(_.toDouble))
      assert(s.tailPct == 90.0 && near(s.tail, 90.1) && near(s.p50, 50.5))
      assert(Stats.summary(Seq(3.0, 1.0, 2.0)).tail == 3.0)
    }

    spec("interval union merges overlaps and ignores empty intervals") {
      assert(near(Stats.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (4.0, 4.0))), 4.0))
      assert(near(Stats.unionLength(Seq((2.0, 3.0), (0.0, 10.0))), 10.0))
      assert(Stats.unionLength(Nil) == 0.0)
    }

    spec("driver gap: span wall minus the union of its stages, clipped to the span") {
      // span [0, 10); stages [1,3), [2,4) overlap, [8,12) runs past the end
      assert(near(Stats.uncovered(0, 10, Seq((1.0, 3.0), (2.0, 4.0), (8.0, 12.0))), 5.0))
      assert(near(Stats.uncovered(0, 10, Nil), 10.0))
    }

    spec("self time: span minus what its child spans cover") {
      val parent = Span(0, "op", -1, 1, 100, 200)
      val kids = Seq(Span(1, "a", 0, 1, 110, 150), Span(2, "b", 0, 1, 140, 190))
      assert(near(Stats.uncovered(parent.startMs, parent.endMs,
        kids.map(k => (k.startMs, k.endMs))), 20.0))
    }

    println(s"$passed specs passed")
  }
}
