package graft.core

import graft.SparkSpec
import org.apache.spark.sql.execution.LogicalRDD

class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("localize returns identical rows as a driver-local relation and frees the blocks") {
    val before = persisted
    val df = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    val local = Checkpoints.localize(df)
    assert(local.as[(Long, Long)].collect().toSet == Set((1L, 2L), (3L, 4L), (5L, 6L)))
    assert(persisted == before, "localize must not leave block-store state behind")
    assert(!local.queryExecution.analyzed.isInstanceOf[LogicalRDD],
      "small frames come back as a local relation, not a checkpoint")
  }

  test("localize materializes a frame under the row guard in ONE SQL action, leaving no blocks") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graft.ListenerBridge
    import org.apache.spark.sql.util.QueryExecutionListener
    // a shuffle in the plan: AQE's stage jobs run inside the one action
    val df = spark.range(0, 30).groupBy((col("id") % 3).as("k")).count()
    val actions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        actions.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val before = persisted
    val storedBefore = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    ListenerBridge.waitUntilListenerBusEmpty(spark)
    spark.listenerManager.register(listener)
    val local = try {
      val l = Checkpoints.localize(df)
      ListenerBridge.waitUntilListenerBusEmpty(spark)
      l
    } finally spark.listenerManager.unregister(listener)
    assert(actions.get == 1, s"localize must be one SQL action, saw ${actions.get}")
    assert(local.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "a frame under the guard comes back as a LocalRelation")
    assert(local.as[(Long, Long)].collect().toSet == Set((0L, 10L), (1L, 10L), (2L, 10L)))
    assert(persisted == before, "localize must not leave persisted RDDs behind")
    assert(spark.sparkContext.getRDDStorageInfo.map(_.id).toSet == storedBefore,
      "localize must not leave blocks in the block store")
  }

  test("localize falls back to a checkpoint above the driver-row bound") {
    val before = persisted
    val df = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    val big = Checkpoints.localize(df, maxDriverRows = 1L)
    assert(big.as[(Long, Long)].collect().toSet == Set((1L, 2L), (3L, 4L), (5L, 6L)))
    assert((persisted -- before).size == 1, "above the bound the checkpoint is kept")
    Checkpoints.release(big)
    assert(persisted == before)
  }

  test("localize above the guard cancels its collect, so what reaches the driver stays bounded") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    import org.apache.spark.sql.graft.ListenerBridge
    // 200 partitions of 10 rows, each row slowed so that tasks outlast the
    // cancel; the running total passes the guard with the 6th result
    val guard = 50L
    val rowsPerPart = 10
    val df = spark.range(0, 2000, 1, 200).as[Long].map { x => Thread.sleep(2); x }.toDF("id")
    val jobStages = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]
    val succeeded = new java.util.concurrent.ConcurrentHashMap[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobStages.add(e.stageIds)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason == org.apache.spark.Success) succeeded.merge(e.stageId, 1, _ + _)
    }
    val before = persisted
    ListenerBridge.waitUntilListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(listener)
    val big = try {
      val b = Checkpoints.localize(df, maxDriverRows = guard)
      ListenerBridge.waitUntilListenerBusEmpty(spark)
      b
    } finally spark.sparkContext.removeSparkListener(listener)
    try {
      assert(big.queryExecution.analyzed.isInstanceOf[LogicalRDD], "over the guard: the checkpoint")
      assert(big.count() == 2000L)
      // the first job is the collect, the second the fallback checkpoint
      assert(jobStages.size == 2, s"jobs: $jobStages")
      val shippedRows = jobStages.peek.map(s => succeeded.getOrDefault(s, 0)).sum * rowsPerPart
      val slots = spark.sparkContext.defaultParallelism
      assert(shippedRows <= guard + slots * (guard + 1),
        s"the cancelled collect shipped $shippedRows rows of 2000 to the driver")
    } finally Checkpoints.release(big)
    assert(persisted == before)
  }

  test("release is a no-op on frames that are not checkpoints") {
    val df = Seq(1, 2, 3).toDF("x")
    Checkpoints.release(df) // must not throw
    assert(df.count() == 3)
  }
}
