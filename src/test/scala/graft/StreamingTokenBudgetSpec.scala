package graft

/** Streaming token-budget gate: fed in the batch op's md5 order it
  * reproduces the batch selection after every micro-batch, and every
  * verdict obeys the straddler rule. */
class StreamingTokenBudgetSpec extends SparkSpec {

  test("md5-ordered single batch reproduces the batch op's selection; " +
      "cuts don't change admissions; budget rule holds per verdict") {
    StreamingParity.check(this, "StreamingTokenBudget")
  }
}
