package graft.gold

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkTestBase
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

class GoldSinkSpec extends AnyFunSuite with SparkTestBase {

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Ten small tables of different shapes and partition counts. */
  private def tenTables(salt: Int): Map[String, DataFrame] =
    (0 until 10).map { i =>
      s"t$i" -> spark.range(0, 50L * (i + 1), 1, 1 + i % 4)
        .select(col("id"), (col("id") * (i + salt)).as("v"),
          format_string("r%d_%d", col("id"), lit(salt)).as("s"))
    }.toMap

  test("blue/green publish alternates slots and readers see full snapshots") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_gold").toString
    val sink = new GoldSink(root)

    assert(sink.liveDir.isEmpty)
    val v1 = Seq((1, "a")).toDF("k", "v")
    val dir1 = sink.publish(Map("t" -> v1))
    assert(sink.liveDir.contains(dir1))
    assert(spark.read.parquet(s"$dir1/t").count() == 1)

    val v2 = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val dir2 = sink.publish(Map("t" -> v2))
    assert(dir2 != dir1) // standby slot rebuilt
    assert(sink.liveDir.contains(dir2))
    assert(spark.read.parquet(s"${sink.liveDir.get}/t").count() == 2)

    // third publish swaps back onto the first slot
    val dir3 = sink.publish(Map("t" -> v1))
    assert(dir3 == dir1)
  }

  test("a table dropped from the publish set does not linger from two " +
      "publishes ago") {
    import java.nio.file.{Files => JFiles, Paths}
    import spark.implicits._
    val root = JFiles.createTempDirectory("graft_goldsink_drop").toString
    val sink = new GoldSink(root)
    val users = Seq((1L, "u")).toDF("id", "name")
    val orders = Seq((1L, 5.0)).toDF("id", "amt")
    sink.publish(Map("users" -> users, "orders" -> orders)) // slot A
    sink.publish(Map("users" -> users, "orders" -> orders)) // slot B
    sink.publish(Map("users" -> users))                     // slot A again
    val live = sink.liveDir.get
    assert(JFiles.exists(Paths.get(live, "users")))
    assert(!JFiles.exists(Paths.get(live, "orders")),
      "retired table served as live from a stale standby")
  }

  test("a concurrent publish of ten tables equals serial writes of them") {
    val root = Files.createTempDirectory("graft_goldsink_par")
    val tables = tenTables(salt = 3)
    val live = new GoldSink(root.resolve("sink").toString).publish(tables)
    tables.foreach { case (name, df) =>
      val serial = root.resolve("serial").resolve(name).toString
      df.write.parquet(serial)
      val got = spark.read.parquet(s"$live/$name")
      val want = spark.read.parquet(serial)
      assert(got.schema == want.schema, name)
      assert(rows(got) == rows(want), name)
    }
  }

  test("a failing table write leaves the previous slot live and cancels " +
      "its siblings before publish returns") {
    val root = Files.createTempDirectory("graft_goldsink_fail").toString
    val sink = new GoldSink(root)
    val v1 = tenTables(salt = 1)
    val dir1 = sink.publish(v1)
    val slot1 = sink.currentSlot

    // One sibling takes ~20 s unless cancelled; one table fails shortly
    // after both have started. Publish walks its map in iteration order,
    // so those two go first and run together. The slow rows poll for
    // their task's kill, so a cancelled sibling stops within a row
    // instead of finishing in the background.
    val slowUdf = udf { (i: Long) =>
      Thread.sleep(100)
      if (TaskContext.get().isInterrupted()) throw new InterruptedException("killed")
      i
    }
    val failUdf = udf { (i: Long) =>
      Thread.sleep(500); if (i >= 0) throw new IllegalStateException("boom"); i }
    val v2 = tenTables(salt = 2)
    val order = v2.keys.toSeq
    val slowName = order.head
    val failName = order(1)
    val tables = v2 ++ Map(
      slowName -> spark.range(0, 200, 1, 1).select(slowUdf(col("id")).as("id")),
      failName -> spark.range(0, 1, 1, 1).select(failUdf(col("id")).as("id")))
    assert(tables.keys.toSeq == order)

    val sc = spark.sparkContext
    val started = new AtomicInteger
    val open = ConcurrentHashMap.newKeySet[Int]()
    def tagged(e: SparkListenerJobStart): Boolean =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .exists(_.contains("graft-par-"))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (tagged(e)) { started.incrementAndGet(); open.add(e.jobId) }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = open.remove(e.jobId)
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val err = intercept[Exception](sink.publish(tables))
      val elapsedS = (System.nanoTime() - t0) / 1e9
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("boom")), err)
      assert(elapsedS < 10.0, s"publish took $elapsedS s: the slow sibling was not cancelled")

      // The pointer never moved; the previous report set is whole.
      assert(sink.currentSlot == slot1)
      assert(sink.liveDir.contains(dir1))
      v1.foreach { case (name, df) =>
        assert(rows(spark.read.parquet(s"$dir1/$name")) == rows(df), name)
      }
      // Every job publish submitted has ended (the listener bus delivers
      // asynchronously; the slow sibling alone would run ~20 s).
      eventually(timeout(5.seconds), interval(50.millis)) {
        assert(started.get >= 2 && open.isEmpty, s"started ${started.get}, open $open")
      }
    } finally sc.removeSparkListener(listener)
  }
}
