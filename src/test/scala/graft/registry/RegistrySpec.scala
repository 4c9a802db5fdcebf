package graft.registry

import org.scalatest.funsuite.AnyFunSuite

class RegistrySpec extends AnyFunSuite {

  test("a registry with a duplicate name fails construction") {
    def c(name: String) = Case(name, Check.RowsOnly)((s, _) => s.emptyDataFrame)
    assert(Case.unique(Seq(c("q_a"), c("q_b"))).map(_.name) == Seq("q_a", "q_b"))
    val e = intercept[IllegalArgumentException](Case.unique(Seq(c("q_a"), c("q_b"), c("q_a"))))
    assert(e.getMessage.contains("duplicate case names: q_a"), e.getMessage)
  }
}
