package graft.store

import graft.SparkSuite
import org.apache.hadoop.fs.Path

/** The probe-atomic delta fold (DeltaSegments): a probe CONSTRUCTED
  * before compact() and EXECUTED after it returns exact results on
  * gram, band AND text. The fold is additive (old base files keep their
  * paths), manifests swap atomically, and folded segments are only
  * MARKED (reclaimed at the next maintenance op), so the pre-fold
  * probe's pinned file set stays fully readable and double-counting is
  * structurally impossible. A fold that crashed mid-way recovers
  * through the staged rewrite. Run over [[IndexLifecycle]]'s table. */
class FoldAtomicSpec extends SparkSuite {
  import IndexLifecycle._

  private val foldTitle = Map(
    "gram" -> "gram: pre-fold probe executed post-compact is exact; fresh probe agrees; second compact reclaims",
    "band" -> "band: pre-fold candidate+sketch probes executed post-compact are exact (no doubled rows)",
    "text" -> "text: pre-fold searchAll executed post-compact keeps exact tf (no double count)")

  for (name <- Names) test(foldTitle(name)) {
    val ix = IndexLifecycle(spark, name)
    val p = tmp(s"foldatomic_$name")
    ix.write(docs(0L until 30L), p, 8)
    // the append lands as one delta segment; its docs repeat docs 0-9
    ix.append(docs(100L until 110L, _ - 100L), p)
    // expected = the pre-compact truth (a fold must not change results,
    // and any double count would emit duplicate rows)
    val expected = answer(ix.probe(p))
    val audit = answer(ix.audit(p))
    assert(expected.nonEmpty && expected.size === expected.distinct.size)
    assert(expected.exists(_.contains("107")), s"delta doc not probed: $expected")
    assert(audit.size === audit.distinct.size && auditIds(ix.audit(p)).contains(107L))
    // band sketches and text scores cover every base and delta doc
    val allIds = ((0L until 30L) ++ (100L until 110L)).toSet
    if (name != "gram") assert(auditIds(ix.audit(p)) === allIds)
    // CONSTRUCTED before compact (eager stages run now; the lazy rest
    // pins the pre-fold manifest file set + the segment paths),
    // EXECUTED after
    val preFold = ix.probe(p)
    val preFoldAudit = ix.audit(p)
    ix.compact(p)
    assert(answer(preFold) === expected, "pre-fold probe diverged after the fold")
    // a doubled sketch or posting row (segment read from both sides)
    // would show here
    assert(answer(preFoldAudit) === audit, "pre-fold audit diverged after the fold")
    // the folded segment is marked, not deleted; no live segs remain
    val deltaDir = new Path(p, ix.layout.deltaDir)
    val fs = fsOf(spark, p)
    assert(fs.exists(deltaDir), "delta dir reclaimed too early")
    assert(DeltaSegments.foldedNames(fs, deltaDir).nonEmpty)
    assert(DeltaSegments.liveSegs(fs, deltaDir).isEmpty)
    assert(ix.layout.deltaAdvisory(spark, p)._1 === 0L)
    // a probe constructed POST-fold sees exactly the new state = same rows
    assert(answer(ix.probe(p)) === expected)
    assert(answer(ix.audit(p)) === audit)
    // the NEXT maintenance op reclaims the folded debris; a tombstone on
    // a folded delta doc makes it a major compact that strips the doc
    ix.delete(Seq(107L), p)
    val probeAfterDelete = answer(ix.probe(p))
    val afterDelete = answer(ix.audit(p))
    assert(!auditIds(ix.audit(p)).contains(107L))
    ix.compact(p)
    assert(!fs.exists(deltaDir) || DeltaSegments.foldedNames(fs, deltaDir).isEmpty)
    assert(!fs.exists(new Path(p, ShardedLayout.DeletesDir)), "tombstones must fold in")
    assert(answer(ix.probe(p)) === probeAfterDelete)
    assert(answer(ix.audit(p)) === afterDelete)
    assert(!auditIds(ix.audit(p)).contains(107L))
  }

  private def crashTitle(name: String) = {
    val t = "a crashed fold (standing marker) still recovers through the staged rewrite, exactly"
    if (name == "gram") t else s"$name: $t"
  }

  for (name <- Names) test(crashTitle(name)) {
    val ix = IndexLifecycle(spark, name)
    val p = tmp(s"foldatomic_crash_$name")
    ix.write(docs(0L until 20L), p, 4)
    ix.append(Seq((200L, doc(7))), p)
    val expected = answer(ix.probe(p))
    val audit = answer(ix.audit(p))
    assert(expected.exists(_.contains("200")), s"delta doc not probed: $expected")
    plantCrashedFold(spark, ix, p)
    val marker = ix.layout.foldingMarker
    // probes AND appends refuse the half-folded state loudly
    val e = intercept[IllegalArgumentException] { ix.probe(p) }
    assert(e.getMessage.contains(marker))
    val e2 = intercept[IllegalArgumentException] {
      ix.append(Seq((300L, doc(9))), p)
    }
    assert(e2.getMessage.contains(marker))
    // recovery: compact routes through the staged rewrite, dedups the
    // two-sided rows, clears marker + delta — answers exactly clean
    ix.compact(p)
    val fs = fsOf(spark, p)
    assert(!fs.exists(new Path(p, marker)))
    assert(!fs.exists(new Path(p, ix.layout.deltaDir)))
    assert(ix.storedShards(p).contains(4))
    assert(answer(ix.probe(p)) === expected)
    assert(answer(ix.audit(p)) === audit)
  }
}
