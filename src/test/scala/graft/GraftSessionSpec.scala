package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS parses once as a positive Int; bad values " +
    "fail fast naming the variable") {
    assert(GraftSession.parseCpus(None) == 32)
    assert(GraftSession.parseCpus(Some("4")) == 4)
    assert(GraftSession.parseCpus(Some(" 8 ")) == 8)
    Seq("*", "", "0", "-2", "4.5", "99999999999").foreach { bad =>
      val e = intercept[IllegalArgumentException](
        GraftSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
