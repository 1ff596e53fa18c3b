package graft.store

import graft.SparkSuite
import org.apache.hadoop.fs.{FileSystem, Path}

/** Shard-count migrations ([[ShardedLayout.reshard]] on the shared
  * StagedSwap protocol), run over [[IndexLifecycle]]'s table: probe
  * answers invariant across the migration, tombstones folded, probes
  * refuse mid-migration layouts, mismatched resumes refused, and a
  * migration crashed mid-PARK or mid-SWAP resumes to the same answer. */
class ReshardSpec extends SparkSuite {
  import IndexLifecycle._

  private def plantMarker(fs: FileSystem, p: String, to: Int): Unit = {
    val m = fs.create(new Path(p, ShardedLayout.ReshardMarker), true)
    try m.writeUTF(s"shards=$to") finally m.close()
  }

  private val identicalTitle = Map(
    "gram" -> ("gram reshard 8 -> 32: probe answers identical, meta updated", 8, 32),
    "band" -> ("band reshard 64 -> 17: probe candidates identical, meta updated", 64, 17),
    "text" -> ("text reshard 4 -> 9: search results identical, manifest updated", 4, 9))

  for (name <- Names) {
    val (title, from, to) = identicalTitle(name)
    test(title) {
      val ix = IndexLifecycle(spark, name)
      val p = tmp(s"reshard_$name")
      ix.write(docs(0L until 40L), p, from)
      val before = answer(ix.probe(p))
      val audit = answer(ix.audit(p))
      assert(before.nonEmpty)
      // band sketches and text scores cover every corpus doc
      if (name != "gram") assert(auditIds(ix.audit(p)) === (0L until 40L).toSet)
      ix.reshard(p, to)
      assert(ix.storedShards(p).contains(to))
      assert(answer(ix.probe(p)) === before)
      assert(answer(ix.audit(p)) === audit)
    }
  }

  private def tombTitle(name: String) =
    if (name == "text") "text reshard folds pending tombstones; new generation starts clean"
    else s"$name reshard folds tombstones; probes refuse mid-migration"

  for (name <- Names) test(tombTitle(name)) {
    val ix = IndexLifecycle(spark, name)
    val p = tmp(s"reshard_del_$name")
    ix.write(docs(0L until 30L), p, 4)
    assert(auditIds(ix.audit(p)).contains(7L))
    ix.delete(Seq(7L), p)
    val expected = answer(ix.probe(p))
    val audit = answer(ix.audit(p))
    assert(!auditIds(ix.audit(p)).contains(7L))
    ix.reshard(p, 7)
    val fs = fsOf(spark, p)
    assert(!fs.exists(new Path(p, ShardedLayout.DeletesDir)), "tombstones must fold in")
    // with the tombstones gone, doc 7 is absent only if physically gone;
    // text scores agree only if the totals were recounted without it
    assert(answer(ix.probe(p)) === expected)
    assert(answer(ix.audit(p)) === audit)
    assert(!auditIds(ix.audit(p)).contains(7L))
    // and the migrated generation reads as one built from the survivors
    val fresh = tmp(s"reshard_fresh_$name")
    ix.write(docs((0L until 30L).filterNot(_ == 7L)), fresh, 7)
    assert(answer(ix.audit(fresh)) === audit)
    plantMarker(fs, p, 11)
    val e = intercept[IllegalArgumentException](ix.probe(p))
    assert(e.getMessage.contains("in-flight shard migration"))
  }

  for (name <- Names)
    test(s"$name probes refuse a standing reshard marker; mismatched resume refused") {
      val ix = IndexLifecycle(spark, name)
      val p = tmp(s"reshard_guard_$name")
      ix.write(docs(0L until 10L), p, 4)
      plantMarker(fsOf(spark, p), p, 9)
      val e = intercept[IllegalArgumentException](ix.probe(p))
      assert(e.getMessage.contains("in-flight shard migration"))
      val e2 = intercept[IllegalArgumentException](ix.reshard(p, 5))
      assert(e2.getMessage.contains("in-flight migration targets shard count"))
    }

  for (name <- Names)
    test(s"$name reshard crash mid-PARK and mid-SWAP both resume to the identical answer") {
      val ix = IndexLifecycle(spark, name)
      val corpus = docs(0L until 25L)
      val to = 32
      // the generation a reshard stages: the same docs written at the
      // new count into the staging dir, marker up
      def staged(): (String, FileSystem) = {
        val p = tmp(s"reshard_crash_$name")
        ix.write(corpus, p, 8)
        ix.write(corpus, s"$p/.reshard_new", to)
        val fs = fsOf(spark, p)
        plantMarker(fs, p, to)
        fs.mkdirs(new Path(p, ".reshard_old"))
        (p, fs)
      }
      def children(fs: FileSystem, dir: String) = fs.listStatus(new Path(dir))
        .map(_.getPath.getName).filterNot(n => n.startsWith(".") ||
          n == ShardedLayout.ReshardMarker).sorted.toSeq
      def dataChild(fs: FileSystem, dir: String) =
        children(fs, dir).filterNot(_.startsWith("_")).head
      val want = {
        val p = tmp(s"reshard_want_$name")
        ix.write(corpus, p, 8)
        answer(ix.probe(p))
      }
      // mid-PARK: one old-generation child parked, no _DONE — a resume
      // must finish the park and swap
      val (p1, fs) = staged()
      val first = dataChild(fs, p1)
      assert(fs.rename(new Path(p1, first), new Path(p1, s".reshard_old/$first")))
      ix.reshard(p1, to)
      assert(ix.storedShards(p1).contains(to))
      assert(answer(ix.probe(p1)) === want)
      assert(!fs.exists(new Path(p1, ShardedLayout.ReshardMarker)))
      // mid-SWAP: the whole old generation parked with _DONE, one staged
      // child already swapped in
      val (p2, _) = staged()
      children(fs, p2).foreach(n =>
        assert(fs.rename(new Path(p2, n), new Path(p2, s".reshard_old/$n"))))
      fs.create(new Path(p2, ".reshard_old/_DONE"), true).close()
      val moved = dataChild(fs, s"$p2/.reshard_new")
      assert(fs.rename(new Path(p2, s".reshard_new/$moved"), new Path(p2, moved)))
      ix.reshard(p2, to)
      assert(ix.storedShards(p2).contains(to))
      assert(answer(ix.probe(p2)) === want)
    }
}
