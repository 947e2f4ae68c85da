package graft

import graft.util.Checkpoints

/** The shared materialization helper: checkpoints are released through
  * their LogicalRDD leaves, and a failed side of `both` propagates its
  * failure without leaking what the other side checkpointed.
  */
class CheckpointsSpec extends SparkTestBase {

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("release frees a checkpoint that Dataset.unpersist cannot reach") {
    val before = persistentIds
    val ck = Checkpoints.checkpoint(spark.range(50).toDF())
    assert(ck.count() == 50)
    ck.unpersist(false)
    assert((persistentIds -- before).size == 1, "unpersist is not expected to reach the checkpoint")
    Checkpoints.release(ck)
    assert((persistentIds -- before).isEmpty)
  }

  test("both: a failing side propagates and the surviving side's checkpoints are released") {
    val before = persistentIds
    val boom = new IllegalStateException("boom")
    val single = intercept[IllegalStateException](Checkpoints.both(
      Checkpoints.checkpoint(spark.range(100).toDF()),
      throw boom))
    assert(single eq boom)
    // the serving cache's shape: the surviving side returns a tuple
    val tupled = intercept[IllegalStateException](Checkpoints.both(
      throw boom,
      (Checkpoints.checkpoint(spark.range(100).toDF()),
        Checkpoints.checkpoint(spark.range(7).toDF()))))
    assert(tupled eq boom)
    assert((persistentIds -- before).isEmpty,
      s"leaked checkpoint RDDs: ${persistentIds -- before}")
  }
}
