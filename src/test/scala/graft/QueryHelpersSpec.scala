package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QueryHelpers

class QueryHelpersSpec extends AnyFunSuite {

  /** Builds a parent session, takes its dense child twice (cached), and
    * returns only a weak reference to the parent: no frame of the caller
    * holds the parent itself.
    */
  private def denseChildOfDroppedParent(): java.lang.ref.WeakReference[AnyRef] = {
    val parent = TestSpark.spark.newSession()
    val child = QueryHelpers.denseSession(parent)
    assert(child ne parent)
    assert(QueryHelpers.denseSession(parent) eq child)
    assert(child.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes") === "1m")
    assert(parent.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes") !== "1m")
    new java.lang.ref.WeakReference[AnyRef](parent)
  }

  test("denseSession does not keep a dropped parent session reachable") {
    val ref = denseChildOfDroppedParent()
    var rounds = 0
    while (ref.get != null && rounds < 50) {
      System.gc()
      Thread.sleep(20)
      rounds += 1
    }
    assert(ref.get == null, s"parent session still reachable after $rounds GC rounds")
  }
}
