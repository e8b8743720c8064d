package graft

import org.scalatest.funsuite.AnyFunSuite

/** The landed-frame memo retention contract: compute-once per key,
  * bounded key growth (wholesale clear at the cap), and the explicit
  * clearAll hook for long-lived hosts. */
class SessionMemoSpec extends AnyFunSuite {

  test("computes once per key; rebuilds after clearAll") {
    val memo = new SessionMemo[String, Int]
    var builds = 0
    def get(k: String) = memo.getOrCompute(k) { _ => builds += 1; builds }
    assert(get("a") == 1 && get("a") == 1 && builds == 1)
    assert(get("b") == 2 && builds == 2)
    SessionMemos.clearAll()
    assert(get("a") == 3 && builds == 3, "clearAll must force a rebuild")
  }

  test("named memos report build seconds; cached hits and unnamed memos do not") {
    SessionMemos.drainBuildSecs() // isolate from other suites' builds
    val named = new SessionMemo[String, Int]("spec_probe")
    val anon = new SessionMemo[String, Int]
    named.getOrCompute("a")(_ => 1)
    named.getOrCompute("a")(_ => 1) // cached: must not re-record
    named.getOrCompute("b")(_ => 2) // second key: accumulates on the same name
    anon.getOrCompute("a")(_ => 1)
    val secs = SessionMemos.drainBuildSecs()
    assert(secs.contains("spec_probe"), s"named build not reported: $secs")
    assert(!secs.contains(""), s"an unnamed memo reported a build: $secs")
    assert(secs("spec_probe") >= 0.0)
    assert(SessionMemos.drainBuildSecs().isEmpty, "drain must clear")
  }

  test("key growth is bounded: the cap clears, old keys rebuild, size stays <= cap") {
    val memo = new SessionMemo[Int, Int]
    var builds = 0
    def get(k: Int) = memo.getOrCompute(k) { _ => builds += 1; k }
    (0 until SessionMemos.MaxEntries).foreach(get)
    assert(builds == SessionMemos.MaxEntries)
    get(0) // still cached
    assert(builds == SessionMemos.MaxEntries)
    get(SessionMemos.MaxEntries) // admits the (cap+1)-th key via a clear
    assert(builds == SessionMemos.MaxEntries + 1)
    get(0) // was evicted by the wholesale clear -> rebuilds
    assert(builds == SessionMemos.MaxEntries + 2)
  }
}
