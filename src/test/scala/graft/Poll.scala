package graft

import org.scalatest.Assertions._

/** Polling for specs whose work happens on streaming threads. */
object Poll {

  /** Evaluates `cond` every `everyMs` until it holds or `timeoutMs` passes,
    * then asserts on the last value polled. `cond` runs once per poll and
    * never again for the assert, so a condition with a side effect (a POST)
    * acts exactly as often as it was polled.
    */
  def await(cond: => Boolean, timeoutMs: Long = 30000L, everyMs: Long = 50L): Unit = {
    val t0 = System.currentTimeMillis()
    var ok = cond
    while (!ok && System.currentTimeMillis() - t0 < timeoutMs) {
      Thread.sleep(everyMs)
      ok = cond
    }
    assert(ok, s"condition not met within ${timeoutMs}ms")
  }
}
