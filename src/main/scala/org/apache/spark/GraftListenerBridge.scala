package org.apache.spark

/** Standard extension-point shim (like `sql.GraftColumnBridge`): exposes
  * the package-private listener bus drain so the job/byte meters
  * (FoldJobBudgetSpec, `graft.Probe.metered`) can settle on the
  * BUS BEING EMPTY instead of a fixed sleep poll — the poll undercounts
  * whenever the async bus stalls longer than one interval on a loaded
  * host (the round-18 ADVICE finding). */
object GraftListenerBridge {
  /** The no-arg `waitUntilEmpty()` carries a hard 10 s timeout and
    * THROWS TimeoutException — exactly the loaded-host stall this drain
    * exists to tolerate — so retry the wait instead of aborting the
    * meter; the 10-minute ceiling only stops a truly wedged bus. */
  def waitListenerBusEmpty(sc: SparkContext): Unit = {
    var tries = 0
    var drained = false
    while (!drained && tries < 60) {
      try { sc.listenerBus.waitUntilEmpty(); drained = true }
      catch { case _: java.util.concurrent.TimeoutException => tries += 1 }
    }
    if (!drained)
      // a truly wedged bus means the caller's counters are UNDERCOUNTED
      // — say so rather than silently handing back a wrong meter
      System.err.println(
        "[GraftListenerBridge] listener bus did not drain in 10 min — " +
          "metered counts may be incomplete")
  }
}
