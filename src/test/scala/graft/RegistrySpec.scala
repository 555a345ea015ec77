package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries._

/** The query registry: every family's specs reach `SparkEntry.queries`
  * under distinct names, and the oracle map covers every query except
  * q_opq_recall, whose oracle exists only once it has run.
  */
class RegistrySpec extends AnyFunSuite {

  private val families = Seq(TpchQueries.specs, SignalQueries.specs, KernelQueries.specs,
    DedupQueries.specs, SimilarityQueries.specs, TextQueries.specs, MediaQueries.specs,
    StreamingQueries.specs)

  // no query runs against this dir, so no oracle was captured for it
  private val unrun = "/registry-spec/no-such-sf"

  test("the family spec counts sum to the registry size") {
    assert(families.map(_.size).sum === SparkEntry.queries.size)
    assert(SparkEntry.queries.size === 191)
  }

  test("before q_opq_recall runs, it is the only query without an oracle") {
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSqlFor(unrun).keySet ===
      Set("q_opq_recall"))
  }

  test("every oracle names a query") {
    assert(SparkEntry.oracleSqlFor(unrun).keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("a name declared in two families fails") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.registry(Seq(TpchQueries.specs, SignalQueries.specs, TpchQueries.specs.take(1))))
    assert(e.getMessage.contains(TpchQueries.specs.head.name))
  }
}
