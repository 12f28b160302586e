package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's hand-kept cache → consumer table drives the subset-aware
  * prewarm filter (`SPARK_GRAFT_ONLY`), so it must name exactly the
  * caches the modules build and only queries that exist. */
class BenchSpec extends AnyFunSuite {
  test("cacheConsumerSeq keys are the modules' namedCaches, consumers are real queries") {
    val named = Seq(operators.GraphQueries.namedCaches, operators.Dedup.namedCaches,
      operators.Similarity.namedCaches, operators.TextOps.namedCaches).flatten.map(_._1)
    val keys = Bench.cacheConsumerSeq.map(_._1)
    assert(keys.distinct.size == keys.size, "a cache is listed twice")
    assert(keys.toSet == named.toSet,
      s"missing: ${named.toSet -- keys}, unknown: ${keys.toSet -- named}")
    val unknown = Bench.cacheConsumerSeq.flatMap(_._2).filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"consumers that are not queries: $unknown")
  }
}
