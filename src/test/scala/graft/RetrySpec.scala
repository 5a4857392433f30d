package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Retry

/** S2: bounded retry with linearly growing backoff
  * (rqtradein_etl.py:211-227). */
class RetrySpec extends AnyFunSuite {

  test("returns first success without sleeping") {
    var sleeps = List.empty[Long]
    val got = Retry.withBackoff(sleep = sleeps :+= _)(42)
    assert(got == 42 && sleeps.isEmpty)
  }

  test("retries with linear backoff, then succeeds") {
    var sleeps = List.empty[Long]
    var calls = 0
    val got = Retry.withBackoff(maxRetries = 3, backoffMillis = 5, sleep = sleeps :+= _) {
      calls += 1
      if (calls < 3) sys.error(s"boom $calls")
      "ok"
    }
    assert(got == "ok" && calls == 3 && sleeps == List(5L, 10L))
  }

  test("rethrows the final failure after maxRetries attempts") {
    var calls = 0
    val e = intercept[RuntimeException] {
      Retry.withBackoff(maxRetries = 3, backoffMillis = 1, sleep = _ => ()) {
        calls += 1; sys.error(s"boom $calls")
      }
    }
    assert(calls == 3 && e.getMessage == "boom 3")
  }

  test("an interrupt propagates after one attempt, without a sleep") {
    var sleeps = List.empty[Long]
    var calls = 0
    intercept[InterruptedException] {
      Retry.withBackoff(maxRetries = 3, backoffMillis = 5, sleep = sleeps :+= _) {
        calls += 1
        throw new InterruptedException("stop")
      }
    }
    assert(calls == 1 && sleeps.isEmpty)
  }
}
