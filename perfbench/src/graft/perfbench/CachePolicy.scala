package graft.perfbench

/** The benchmark's cache policy, in the one place that may reach the
  * library's package-private resets. Result caches (memoized query
  * outputs and the skew-dispatch statistics) are dropped before every
  * timed pass, the same set `graft.Bench` drops; input-fixture caches
  * (the document collections) stay warm. */
object CachePolicy {
  def resetResultCaches(): Unit = {
    graft.pipeline.Dedup.clearResultCaches()
    graft.pipeline.Curation.clearResultCaches()
    graft.operators.OperatorQueries.clearResultCaches()
    graft.operators.SkewDispatch.clearStatsCache()
  }
}
