package graft

import org.scalatest.{Outcome, TestSuite}

/** Ends every test at a query boundary, as Bench and Verify end every
  * query: what the test's operator calls held or wrote is released, so
  * held frames do not pile up in the shared session's CacheManager
  * across suites. */
trait QueryBoundary extends TestSuite {
  override protected def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally graft.operators.Lifecycle.releaseDeferred(SharedSpark.spark)
}
