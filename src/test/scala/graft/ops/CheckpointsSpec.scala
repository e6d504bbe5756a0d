package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.storage.StorageLevel

/** [[Checkpoints.release]] needs the frame's root to BE the checkpoint;
  * [[Checkpoints.releaseTree]] reaches checkpoints an operator buried
  * under projections before returning (a beam search's final beam, a kNN
  * build's final edges) — the leak class the streaming maintenance sinks
  * hit one block set per micro-batch.
  */
class CheckpointsSpec extends AnyFunSuite with SparkTestBase {

  /** Ids of the RDDs holding blocks. Tests compare the ids added since
    * their start, so a checkpoint an earlier suite left for the GC-driven
    * cleaner, freed meanwhile, cannot shift the result.
    */
  private def persisted(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if rdd.getStorageLevel != StorageLevel.NONE => id
    }.toSet

  test("release drops a root checkpoint; projections hide it from release " +
    "but not from releaseTree") {
    val base = persisted()
    val ck = spark.range(100).toDF("id").localCheckpoint(eager = true)
    assert((persisted() -- base).size == 1)

    // Root-only release works on the checkpoint itself.
    Checkpoints.release(ck)
    assert((persisted() -- base).isEmpty)

    val ck2 = spark.range(100).toDF("id").localCheckpoint(eager = true)
    val wrapped = ck2.filter(col("id") > 1).select(col("id") * 2 as "x")
    // The projection hides the LogicalRDD root from release()...
    Checkpoints.release(wrapped)
    assert((persisted() -- base).size == 1)
    // ...and releaseTree finds it anyway.
    Checkpoints.releaseTree(wrapped)
    assert((persisted() -- base).isEmpty)
  }

  test("releaseTree drops every checkpoint in a multi-leaf plan") {
    val base = persisted()
    val a = spark.range(50).toDF("id").localCheckpoint(eager = true)
    val b = spark.range(50).toDF("id").localCheckpoint(eager = true)
    val joined = a.join(b.select(col("id")), Seq("id"))
      .agg(count(lit(1)).as("n"))
    assert((persisted() -- base).size == 2)
    Checkpoints.releaseTree(joined)
    assert((persisted() -- base).isEmpty)
  }
}
