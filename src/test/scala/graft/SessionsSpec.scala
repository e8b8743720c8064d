package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CPUS` parsing; no session is started. */
class SessionsSpec extends AnyFunSuite {

  private def cpus(v: String) = Sessions.envCpus(4, Map("SPARK_GRAFT_CPUS" -> v))

  test("envCpus takes a positive integer, the default when unset, and rejects anything else") {
    assert(Sessions.envCpus(4, Map.empty) == 4)
    assert(Sessions.envCpus(32, Map.empty) == 32)
    assert(cpus("8") == 8)
    for (bad <- Seq("*", "0", "")) {
      val e = intercept[IllegalArgumentException](cpus(bad))
      assert(e.getMessage == s"SPARK_GRAFT_CPUS must be a positive integer, got '$bad'")
    }
  }
}
