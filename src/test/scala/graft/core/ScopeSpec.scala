package graft.core

import graft.SparkSpec
import org.apache.spark.sql.graft.CacheBridge.numCachedEntries

class ScopeSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("close releases every persist, checkpoint and broadcast, newest first, once") {
    val rddsBefore = persisted
    val entriesBefore = numCachedEntries(spark)
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    val scope = new Scope
    scope.onClose(order += "first")
    val cached = scope.persist(Seq(1L, 2L, 3L).toDF("x"))
    assert(cached.count() == 3L)
    val ckpt = scope.checkpoint(Seq(4L, 5L).toDF("y"))
    val bc = scope.broadcast(spark, Array[Byte](1, 2, 3))
    scope.onClose(order += "last")
    assert(ckpt.count() == 2L && bc.value.length == 3)
    assert(numCachedEntries(spark) == entriesBefore + 1)
    assert((persisted -- rddsBefore).size == 2)
    scope.close()
    assert(order == Seq("last", "first"), "releases run newest first")
    assert(persisted == rddsBefore, "persisted and checkpointed blocks must be gone")
    assert(numCachedEntries(spark) == entriesBefore, "the cache entry must be gone")
    scope.close() // idempotent
    assert(order.size == 2)
  }

  test("using closes on success and on failure; closeOnFailure only on failure") {
    val rddsBefore = persisted
    val n = Scope.using(s => s.checkpoint(Seq(1, 2).toDF("x")).count())
    assert(n == 2L && persisted == rddsBefore)
    val e = intercept[IllegalStateException](Scope.using { s =>
      s.checkpoint(Seq(1).toDF("x"))
      throw new IllegalStateException("boom")
    })
    assert(e.getMessage == "boom" && persisted == rddsBefore)
    val (kept, owner) = Scope.closeOnFailure(s => (s.checkpoint(Seq(1).toDF("x")), s))
    assert((persisted -- rddsBefore).size == 1, "a handed-off scope stays open")
    assert(kept.count() == 1L)
    owner.close()
    assert(persisted == rddsBefore)
    intercept[IllegalStateException](Scope.closeOnFailure { s =>
      s.checkpoint(Seq(1).toDF("x"))
      throw new IllegalStateException("boom")
    })
    assert(persisted == rddsBefore)
  }

  test("a throwing release does not stop the others; the first failure surfaces") {
    val released = scala.collection.mutable.ArrayBuffer.empty[Int]
    val scope = new Scope
    scope.onClose(released += 1)
    scope.onClose(throw new IllegalStateException("first"))
    scope.onClose(throw new IllegalStateException("second"))
    scope.onClose(released += 4)
    val e = intercept[IllegalStateException](scope.close())
    assert(e.getMessage == "second" && e.getSuppressed.map(_.getMessage).toSeq == Seq("first"))
    assert(released == Seq(4, 1))
  }
}
