package graft.store

import graft.SparkSuite

/** Retry-once-with-fresh-manifest (ProbeRetry): a probe CONSTRUCTED
  * before a MAJOR compact (tombstone fold — SaltedStore.compact's
  * per-shard swap MOVES base files) and EXECUTED after it returns
  * exact results through [[ProbeRetry.retryOnce]] instead of the raw
  * task-level FileNotFoundException the pinned file set would
  * otherwise die on — on every index of [[IndexLifecycle]]'s table.
  * Together with the probe-atomic delta fold (FoldAtomicSpec) this
  * makes the ENTIRE maintenance surface probe-atomic for callers that
  * hold the probe construction. */
class ProbeRetrySpec extends SparkSuite {
  import IndexLifecycle._

  test("isStaleFileError: walks wrapped cause chains and stringified messages; rejects others") {
    val fnf = new java.io.FileNotFoundException("/gone/part-0.parquet")
    assert(ProbeRetry.isStaleFileError(fnf))
    assert(ProbeRetry.isStaleFileError(
      new RuntimeException("task failed", new RuntimeException(fnf))))
    assert(ProbeRetry.isStaleFileError(new RuntimeException(
      "Job aborted: java.io.FileNotFoundException: /gone/part-0.parquet")))
    assert(!ProbeRetry.isStaleFileError(new IllegalStateException("other")))
    // self-referential cause chains terminate
    val loop = new RuntimeException("loop")
    assert(!ProbeRetry.isStaleFileError(loop))
  }

  private def title(name: String) =
    s"$name: ${if (name == "text") "search" else "probe"} constructed " +
      "pre-MAJOR-compact executes post-compact via retryOnce, exactly"

  for (name <- Names) test(title(name)) {
    val ix = IndexLifecycle(spark, name)
    val p = tmp(s"proberetry_$name")
    ix.write(docs(0L until 30L), p, 4)
    // the post-delete truth: doc 5 gone from the index
    ix.delete(Seq(5L), p)
    val expected = answer(ix.probe(p))
    assert(expected.nonEmpty)
    // construct BEFORE the major compact, execute after — the raw frame
    // dies on its pinned paths (proving the hazard), the retryOnce
    // execution reconstructs and returns the exact post-compact truth
    val stale = ix.probe(p)
    ix.compact(p) // tombstones present → per-shard swap
    val raw = intercept[Throwable] { stale.collect() }
    assert(ProbeRetry.isStaleFileError(raw), s"expected a stale-file failure, got: $raw")
    var constructions = 0
    val got = ProbeRetry.retryOnce {
      constructions += 1
      if (constructions == 1) stale // first attempt: the pinned pre-compact probe
      else ix.probe(p)
    }(answer)
    assert(constructions === 2, "the retry must reconstruct the probe")
    assert(got === expected)
  }
}
