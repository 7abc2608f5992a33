package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's SPARK_GRAFT_ONLY selection: a value that would bench zero
  * queries, or fewer than it names, is refused before anything runs. */
class BenchSpec extends AnyFunSuite {
  private val all = Map("q_a" -> 1, "q_b" -> 2, "q_c" -> 3)

  test("SPARK_GRAFT_ONLY: unset selects all, a name list selects exactly those") {
    assert(Bench.select(all, None) == Right(all))
    assert(Bench.select(all, Some("q_a")) == Right(Map("q_a" -> 1)))
    assert(Bench.select(all, Some(" q_c , q_a ,")) == Right(Map("q_a" -> 1, "q_c" -> 3)))
  }

  test("SPARK_GRAFT_ONLY: empty, blank and unknown names are errors") {
    for (v <- Seq("", "   ", ",", " , "))
      assert(Bench.select(all, Some(v)).isLeft, s"'$v' must be refused")
    val unknown = Bench.select(all, Some("q_a,q_typo,q_zz"))
    assert(unknown.left.exists(_.contains("q_typo,q_zz")), unknown)
  }
}
