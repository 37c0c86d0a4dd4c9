package graft

import org.apache.spark.SparkException
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {

  test("retryInternalOnce re-evaluates the thunk once on INTERNAL_ERROR, " +
    "rethrows a second one, and never retries anything else") {
    var calls = 0
    val once = Tables.retryInternalOnce("transient") {
      calls += 1
      if (calls == 1) throw SparkException.internalError("transient") else 42
    }
    assert(once == 42 && calls == 2)

    calls = 0
    intercept[SparkException](Tables.retryInternalOnce("sticky") {
      calls += 1
      throw SparkException.internalError("sticky")
    })
    assert(calls == 2)

    for (other <- Seq(new SparkException("not internal"),
        new IllegalStateException("INTERNAL_ERROR in a non-Spark error"))) {
      calls = 0
      val thrown = intercept[Exception](Tables.retryInternalOnce("other") {
        calls += 1
        throw other
      })
      assert((thrown eq other) && calls == 1)
    }
  }
}
