package graft

import org.scalatest.funsuite.AnyFunSuite

/** The invariants of the query registry that `Bench` (sorts by name) and
  * the DuckDB oracle check (keys its report by name) rely on. No Spark: the
  * registry is read, never run. */
class QueryRegistrySpec extends AnyFunSuite {

  private val Name = """q(\d+)_[a-z0-9_]+""".r

  test("registry: 268 queries named q<n>_<slug>, numbered 1..268 once each") {
    val names = Queries.all.keys.toSeq
    assert(names.size == 268)
    val bad = names.filterNot(Name.matches)
    assert(bad.isEmpty, s"names off the q<n>_<slug> pattern: $bad")
    val nums = names.collect { case Name(n) => n.toInt }.sorted
    assert(nums == (1 to 268), s"numbers: $nums")
  }

  test("registry: every query has a non-blank oracle") {
    assert(Queries.oracles.size == 268)
    val blank = Queries.oracles.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(blank.isEmpty, s"blank oracles: $blank")
  }
}
