package graft.store

import graft.SparkSuite

/** The fold-vs-probe race under REAL concurrency (FoldAtomicSpec is
  * sequential). Probes are constructed and executed CONCURRENTLY with
  * `compact()`'s additive delta fold on every index of
  * [[IndexLifecycle]]'s table; every probe that COMPLETES must return
  * exactly the truth (for a pure fold, old state == new state, so there
  * is one expected answer — a mid-fold mixed read would surface as
  * DOUBLE-COUNTED rows or wrong scores), and the fold-marker refusal of
  * a probe constructed during the fold window is allowed. Swept across
  * seeds: each round re-appends a fresh delta segment and races the
  * fold against a jittered probe loop. */
class ConcurrentFoldSpec extends SparkSuite {
  import IndexLifecycle._

  private def isRefusal(e: Throwable): Boolean = {
    var c: Throwable = e
    var hops = 0
    while (c != null && hops < 16) {
      if (c.getMessage != null && c.getMessage.contains("in-flight delta fold"))
        return true
      c = if (c.getCause eq c) null else c.getCause
      hops += 1
    }
    false
  }

  /** Race `fold` against a probe loop; every completed probe result
    * must equal `expected`; refusals and stale-file deaths (the probe
    * pinned paths a LATER round's reclaim removed — impossible here
    * within one round, but retried rounds reuse the store) are counted,
    * mismatches fail. Returns (completed, refused). */
  private def race[T](seed: Int, fold: () => Unit,
                      probe: () => T, expected: T): (Int, Int) = {
    val rnd = new scala.util.Random(seed)
    val jitter = rnd.nextInt(40)
    // time-based, not count-based: a refusal is a cheap driver-side
    // marker check (~ms), so a count cap trips on a loaded box while
    // the fold is still legitimately running
    val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
    @volatile var foldDone = false
    @volatile var foldError: Throwable = null
    var completed = 0
    var refused = 0
    val mismatches = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val folder = new Thread(() => {
      try {
        Thread.sleep(jitter)
        fold()
      } catch { case e: Throwable => foldError = e }
      finally foldDone = true
    }, s"concfold-folder-$seed")
    folder.start()
    while (!foldDone || completed == 0) {
      try {
        val got = probe()
        completed += 1
        if (got != expected)
          mismatches.add(s"seed=$seed probe#$completed: $got != $expected")
      } catch {
        case e: Throwable if isRefusal(e) =>
          refused += 1; Thread.sleep(5) // don't hot-spin the fold's CPU away
        case e: Throwable if ProbeRetry.isStaleFileError(e) => refused += 1
      }
      if (System.nanoTime() > deadline) fail(s"seed=$seed: fold never " +
        s"finished in 180s ($completed probes completed, $refused refused)")
    }
    folder.join()
    if (foldError != null) fail(s"seed=$seed: fold threw: $foldError")
    assert(mismatches.isEmpty, mismatches.toArray.mkString("; "))
    (completed, refused)
  }

  private def title(name: String) =
    s"$name: ${if (name == "text") "searches" else "probes"} racing the " +
      "delta fold return exact results or the marker refusal"

  for (name <- Names) test(title(name)) {
    val ix = IndexLifecycle(spark, name)
    val p = tmp(s"concfold_$name")
    ix.write(docs(0L until 30L), p, 4)
    var totalCompleted = 0
    for (seed <- 1 to 3) {
      // fresh delta segment per round so each fold has work to do
      ix.append(Seq((100L + seed, doc(7))), p)
      val expected = answer(ix.probe(p))
      assert(expected.nonEmpty && expected.size === expected.distinct.size)
      val (c, _) = race(seed, () => ix.compact(p), () => answer(ix.probe(p)), expected)
      totalCompleted += c
    }
    assert(totalCompleted > 0, "no probe ever completed — the race never raced")
  }
}
