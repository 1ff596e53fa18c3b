package graft.queries

import graft.keys._
import graft.scan.DistributedScan
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [REF] query surface — one entry per reference operator (SURVEY.md §2.1),
  * expressed over the harness `events` table with `event_id` /
  * `unix_micros(ts)` as the row key. Every query is deterministic and has
  * a DuckDB oracle in [[RefQueries.oracle]]; the 31-poly bucket formula in
  * the oracle is GENERATED from the same constants as the Spark expression
  * (graft.keys.Hash31.duckBucket) so they cannot drift.
  */
object RefQueries {
  private val N = 16 // buckets for the standard hash-salted layout
  private val dist = HashPrefix(N)

  // scan window: [2024-01-10, 2024-01-20) as epoch micros (UTC)
  private val T1 = 1704844800000000L // 2024-01-10T00:00:00Z
  private val T2 = 1705708800000000L // 2024-01-20T00:00:00Z

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  /** events + deterministic hash bucket column (O2). */
  private def salted(s: SparkSession, dir: String): DataFrame =
    dist.withBucket(events(s, dir), col("event_id"))

  private val duckBucket = Hash31.duckBucket("event_id", N)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O2: deterministic hash salting — bucket distribution (mirrors the
    // evenness test wd-test/OneByteSimpleHashTest.java:83-100)
    "q_salt_hash_dist" -> ((s, dir) =>
      salted(s, dir).groupBy("bucket").agg(count(lit(1)).as("cnt")).orderBy("bucket")),

    // O1: round-robin salting, batch-deterministic via row_number over
    // explicit insertion order (SURVEY.md §7.4a)
    "q_salt_roundrobin_dist" -> ((s, dir) =>
      RoundRobin(N, "event_id").withBucket(events(s, dir), col("event_id"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt")).orderBy("bucket")),

    // O4: salt → unsalt round-trip through real BinaryType key algebra
    "q_salt_unsalt_roundtrip" -> ((s, dir) =>
      salted(s, dir).select(
        col("event_id"),
        Salt.originalKey(
          Salt.saltedKey(col("bucket"), col("event_id"), dist.prefixLength),
          dist.prefixLength).as("recovered"))
        .orderBy("event_id")),

    // O5: key fan-out — all N candidate buckets per key (explode(sequence))
    "q_fanout_keys" -> ((s, dir) =>
      events(s, dir).filter(col("event_id") < 64)
        .select(col("event_id"), Salt.allBuckets(N).as("b"))
        .select(col("event_id"), col("b").cast("bigint").as("bucket"))
        .orderBy("event_id", "bucket")),

    // O6: interval fan-out materialized — N per-bucket [prefix⧺start, prefix⧺stop)
    "q_interval_fanout" -> ((s, _) =>
      DistributedScan.distributedIntervals(s, dist, T1, T2)),

    // O6+O7+O8: THE flagship — ordered range scan over the salted layout;
    // global order by original key restored (the reference's k-way merge)
    "q_range_scan_ordered" -> ((s, dir) => {
      val t = salted(s, dir).withColumn("key_us", col("ts_us"))
      DistributedScan.rangeScan(t, col("key_us"), T1, T2)
        .select("event_id", "key_us", "event_type", "value")
        .orderBy("key_us", "event_id")
    }),

    // O6-O8, unbounded-stop variant: scan [start, ∞) — the reference's
    // empty-stop-key branch (wd/AbstractRowKeyDistributor.java:50-57,
    // exercised by wd-test/RowKeyDistributorTestBase.java:102-107)
    "q_range_scan_unbounded" -> ((s, dir) => {
      val t = salted(s, dir).withColumn("key_us", col("ts_us"))
      DistributedScan.rangeScanFrom(t, col("key_us"), T2)
        .select("event_id", "key_us", "event_type")
        .orderBy("key_us", "event_id")
    }),

    // O3+O6-O8 with a MULTI-BYTE prefix: full write→scan cycle through the
    // 2-byte salted binary key algebra, mirroring the reference's
    // MultiBytesPrefixHash test (wd-test/RowKeyDistributorByHashPrefix_
    // MultiBytesPrefixHashTest.java:8-39 — 2-byte prefixes, 3 buckets on
    // the key's low byte). Rows are salted, each bucket's physical
    // [prefix⧺start, prefix⧺stop) interval is derived (O6), membership is
    // tested on the BINARY salted key (unsigned lexicographic — HBase
    // order), and the original key is recovered by unsalting (O4) to
    // restore global order (O8).
    "q_range_scan_multibyte" -> ((s, dir) => {
      val d = MultiBytePrefix(3)
      val t = events(s, dir).withColumn("key_us", col("ts_us"))
      val saltedT = d.withBucket(t, col("key_us"))
        .withColumn("skey", Salt.saltedKey(col("bucket"), col("key_us"), d.prefixLength))
      val iv = DistributedScan.distributedIntervals(s, d, T1, T2)
        .select(col("bucket"),
          to_binary(col("start_hex"), lit("hex")).as("lo"),
          to_binary(col("stop_hex"), lit("hex")).as("hi"))
      saltedT.join(broadcast(iv), "bucket")
        .filter(col("skey") >= col("lo") && col("skey") < col("hi"))
        .select(col("event_id"),
          Salt.originalKey(col("skey"), d.prefixLength).as("key_us"),
          col("bucket"))
        .orderBy("key_us", "event_id")
    }),

    // O9: point get (hash mode adds the bucket predicate → partition prune)
    "q_point_get" -> ((s, dir) =>
      DistributedScan.pointGet(salted(s, dir), col("event_id"), 4242L, dist)
        .select("event_id", "ts_us", "user_id", "event_type", "value", "props")),

    // O11: the reference's one aggregation — count rows with non-empty value
    "q_scan_count" -> ((s, dir) =>
      DistributedScan.countNonEmpty(
        events(s, dir).filter(col("ts_us") >= T1 && col("ts_us") < T2),
        col("props"))),

    // §3.3 MR-path parity: per-bucket stats, bucket-local semantics
    "q_per_bucket_stats" -> ((s, dir) =>
      salted(s, dir).groupBy("bucket").agg(
        count(lit(1)).as("cnt"),
        min("event_id").as("min_key"),
        max("event_id").as("max_key")).orderBy("bucket")),

    // top-k = orderBy + limit (TakeOrderedAndProjectExec)
    "q_topk" -> ((s, dir) =>
      events(s, dir).orderBy(col("value").desc, col("event_id"))
        .limit(100).select("event_id", "value", "event_type")),

    // set op: union-all of two bucket-subset scans (O8/O10 union semantics)
    "q_union_buckets" -> ((s, dir) => {
      val t = salted(s, dir)
      t.filter(col("bucket") < 8).select("event_id", "bucket")
        .union(t.filter(col("bucket") >= 8).select("event_id", "bucket"))
        .orderBy("event_id")
    }),

    // O13: debug dump — capped ordered sample with rendered salted key
    "q_debug_dump" -> ((s, dir) =>
      DistributedScan.debugDump(salted(s, dir), col("event_id"), dist)
        .select("event_id", "bucket", "salted_key_hex", "event_type")),

    // Dynamic-qualifier KV mode (SURVEY.md §1.1 schema row: HBase's
    // schemaless CF:qualifier→value model as a MapType column): build the
    // qualifier map per row, then map_keys / element_at access — the
    // read-side algebra a reference user has over qualifiers
    "q_kv_qualifiers" -> ((s, dir) =>
      events(s, dir)
        .withColumn("kv", map(
          lit("type"), col("event_type"),
          lit("value"), format_number(col("value"), 2),
          lit("user"), col("user_id").cast("string")))
        .filter(col("event_id") < 1000)
        .select(
          col("event_id"),
          array_join(sort_array(map_keys(col("kv"))), ",").as("qualifiers"),
          size(col("kv")).cast("bigint").as("n_qualifiers"),
          element_at(col("kv"), "type").as("q_type"),
          element_at(col("kv"), "user").as("q_user"))
        .orderBy("event_id")),

    // O12: config-string codec round-trip (Parametrizable semantics)
    "q_config_roundtrip" -> ((s, _) => {
      import s.implicits._
      Seq(HashPrefix(16), RoundRobin(12, "event_id"), Identity, MultiBytePrefix(3))
        .map { d =>
          val enc = DistributorCodec.encode(d)
          (enc, DistributorCodec.encode(DistributorCodec.decode(enc)))
        }
        .toDF("config", "roundtrip").orderBy("config")
    }),

    // Z-order keyed 2-D box scan: a table laid out sorted by
    // zorder_key(user_id, day) prunes row groups for box predicates on
    // BOTH dimensions via min/max on the single z key. The query applies
    // the conservative pushable z-range [z(lo), z(hi)] (interleaving is
    // componentwise monotone, so the box is contained in it) plus the
    // exact residual box — the same pushdown-plus-residual shape as
    // RangeJoin and the hash-mode point get.
    "q_zorder_scan" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("day_num", expr("ts_us div 86400000000"))
      val z = graft.functions.ZOrderFunctions.zorderKey(col("user_id"), col("day_num"))
      val zLo = graft.functions.ZOrderKey.spread(20L) | (graft.functions.ZOrderKey.spread(19725L) << 1)
      val zHi = graft.functions.ZOrderKey.spread(90L) | (graft.functions.ZOrderKey.spread(19740L) << 1)
      e.withColumn("zkey", z)
        .filter(col("zkey").between(zLo, zHi) &&
          col("user_id").between(20, 90) && col("day_num").between(19725, 19740))
        .select("event_id", "user_id", "day_num", "zkey")
        .orderBy("event_id")
    }),

    // HOT-KEY SKEW DIAGNOSTIC — the ops question behind the whole
    // reference library (README:10-12: monotone/hot keys overload one
    // region): BEFORE choosing a salt, measure how skewed the key
    // actually is. Per-key counts bucketed into deciles of the count
    // distribution, each with its key population, count range and
    // exact row share in integer parts-per-million. Scale shape: the
    // per-key count is one map-side-combined agg; the decile split is a
    // GLOBAL ntile over the count distribution — |keys| rows, which at
    // 100 TB is exactly the single-task WindowExec trap, so it rides
    // the engine's global row-number rescue; the whole-table total is a
    // whole-group constant window, rescued by the constant-agg spread.
    // No scalar-combine join anywhere (the no-nested-loop guard covers
    // this query too).
    "q_key_skew" -> ((s, dir) => {
      val counts = events(s, dir)
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      counts
        .withColumn("decile",
          ntile(10).over(Window.orderBy(col("cnt"), col("user_id"))).cast("long"))
        .withColumn("total", sum("cnt").over())
        .groupBy("decile")
        .agg(count(lit(1)).as("n_keys"),
          min("cnt").as("min_cnt"), max("cnt").as("max_cnt"),
          sum("cnt").as("n_rows"), max("total").as("total"))
        // decimal-exact ppm: n_rows*1e6 can pass Long at the very scale
        // this diagnostic targets (matches the oracle's HUGEINT path)
        .withColumn("share_ppm",
          expr("(cast(n_rows as decimal(38,0)) * 1000000) div total"))
        .select("decile", "n_keys", "min_cnt", "max_cnt", "n_rows", "share_ppm")
        .orderBy("decile")
    }),

    // SALT-SIZING ADVISOR — q_key_skew's measurement turned into the
    // reference's operative DECISION (README:9-27): for each candidate
    // bucket count, predict the per-bucket distribution under the
    // engine's own Hash31 and recommend the smallest n whose buckets
    // stay within ±10% of ideal (the reference evenness test's bound,
    // wd-test/OneByteSimpleHashTest.java:83-100). See
    // graft.keys.SaltAdvisor for the scale-shape argument (one corpus
    // scan; candidates evaluated on the key distribution only).
    "q_salt_advisor" -> ((s, dir) =>
      SaltAdvisor.advise(events(s, dir), col("user_id"))),

    // SALT ADVISOR PREDICT→VERIFY — closes the loop the reference's own
    // evenness test runs (wd-test/OneByteSimpleHashTest.java:83-100):
    // the advisor PREDICTS per-bucket evenness from the key
    // distribution; this query WRITES an actual salted store at the
    // recommended n, measures the per-bucket distribution of the real
    // layout (empty buckets included, same as the prediction), and
    // joins measurement to prediction. prediction_exact must hold by
    // construction — the store salts with the same Hash31 the advisor
    // predicts with — so a false here means the write path and the
    // advisor have drifted apart, which is exactly the regression this
    // report exists to catch. The recommendation collect is ONE row
    // (the argmax pattern) and the prediction columns ride along as
    // literals — joining two 1-row frames on a literal key would fold
    // to a conditionless nested loop; the measurement is one
    // map-combined agg over the store's (bucket) column.
    "q_salt_advisor_verify" -> ((s, dir) => {
      import graft.store.SaltedStore
      val adv = SaltAdvisor.advise(events(s, dir), col("user_id"))
      val rec = adv.filter(col("recommended"))
        .select("n", "under_ppm", "over_ppm", "within_tol").head()
      val n = rec.getLong(0).toInt
      val path = Workspace.root(s, dir, s"advstore_n$n")
      SaltedStore.ensure(events(s, dir).select(col("event_id"), col("user_id")),
        col("user_id"), HashPrefix(n), path)
      val full = s.range(n).select(col("id").as("bucket"))
      val perBucket = full
        .join(SaltedStore.read(s, path)
            .groupBy(col("bucket").cast("long").as("bucket"))
            .agg(count(lit(1)).as("bucket_rows")),
          Seq("bucket"), "left")
        .select(coalesce(col("bucket_rows"), lit(0L)).as("bucket_rows"))
      perBucket
        .agg(min("bucket_rows").as("min_b"), max("bucket_rows").as("max_b"),
          sum("bucket_rows").as("total"))
        .select(lit(n.toLong).as("n"),
          lit(rec.getLong(1)).as("pred_under_ppm"),
          lit(rec.getLong(2)).as("pred_over_ppm"),
          expr(s"cast(cast(min_b AS decimal(38,0)) * ${n}L * 1000000 div total AS bigint)")
            .as("meas_under_ppm"),
          expr(s"cast(cast(max_b AS decimal(38,0)) * ${n}L * 1000000 div total AS bigint)")
            .as("meas_over_ppm"))
        .withColumn("prediction_exact",
          col("pred_under_ppm") === col("meas_under_ppm") &&
            col("pred_over_ppm") === col("meas_over_ppm"))
        .withColumn("within_tol", lit(rec.getBoolean(3)))
        .select("n", "pred_under_ppm", "pred_over_ppm",
          "meas_under_ppm", "meas_over_ppm", "prediction_exact", "within_tol")
        .orderBy("n")
    }),

    // SECONDARY (value → key) INDEX LOOKUP — the HBase companion
    // pattern the reference's salting makes necessary: the base store
    // prunes by ROW KEY only (README:75-78), so a value lookup needs a
    // second salted store of (value, key) pairs. Flow: probes
    // broadcast-join the index on (bucket, v) — index partitions prune
    // dynamically; recovered keys re-bucket under the BASE distributor
    // and broadcast-join the base on (bucket, key) — base partitions
    // prune the same way. Neither store is scanned beyond its probed
    // buckets. Stores are built once per session (ensure, in the
    // Workspace — same amortization idiom as the vector index).
    "q_index_lookup" -> ((s, dir) => {
      import graft.store.{SaltedStore, SecondaryIndex}
      val basePath = Workspace.root(s, dir, "sidx_base")
      val idxPath = Workspace.root(s, dir, "sidx_idx")
      val e = events(s, dir).select(col("event_id"), col("user_id"), col("value"))
      SaltedStore.ensure(e, col("event_id"), dist, basePath)
      SecondaryIndex.ensure(e, col("user_id"), col("event_id"), 8, idxPath)
      import s.implicits._
      val probes = Seq(3L, 17L, 41L).toDF("v")
      SecondaryIndex.fetchThrough(s, idxPath, 8, basePath, dist,
          "event_id", probes)
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    }),

    // SECONDARY-INDEX VALUE RANGE SCAN — the probe a hash-salted index
    // cannot answer by construction (adjacent values scatter across all
    // buckets; that is salting's whole job). RangeIndex bins values by
    // `vb = v div width` — the reference's O6 interval fan-out
    // (AbstractRowKeyDistributor.java:47-69) applied to the VALUE
    // domain — so `user_id ∈ [20, 60)` resolves to bins 2..7 at the
    // FILE LISTING (static partition bounds; plan guard in
    // SecondaryIndexSpec), value-exact inside boundary bins via pushed
    // parquet predicates, then the recovered keys prune the BASE like
    // any index probe. Probe [3, 11) straddles the bin-0/bin-1 edge and
    // is non-empty at every SF (sf0.001 tops out at user_id 14).
    "q_index_range" -> ((s, dir) => {
      import graft.store.{RangeIndex, SaltedStore}
      val basePath = Workspace.root(s, dir, "sidx_base") // shared with q_index_lookup
      val idxPath = Workspace.root(s, dir, "ridx_idx")
      val e = events(s, dir).select(col("event_id"), col("user_id"), col("value"))
      SaltedStore.ensure(e, col("event_id"), dist, basePath)
      RangeIndex.ensure(e, col("user_id"), col("event_id"), width = 8L, idxPath)
      RangeIndex.fetchRangeThrough(s, idxPath, 8L, basePath, dist,
          "event_id", lo = Some(3L), hi = Some(11L))
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    }),

    // RETENTION AT COMPACTION — the HBase TTL analog: expired cells
    // drop when compaction rewrites the store, never in a separate
    // delete pass (SaltedStore.compactRetain folds the predicate into
    // the one moment every row is already being rewritten). The store
    // keeps its sorted, bucket-pruned layout; re-running the retention
    // is an idempotent rewrite of already-retained data (spec-pinned in
    // StoreScanSpec). Cutoff 2024-01-15 splits the events month roughly
    // in half at every SF, so both branches carry real rows.
    "q_store_retention" -> ((s, dir) => {
      import graft.store.SaltedStore
      val path = Workspace.root(s, dir, "retstore")
      val cutoffUs = 1705276800000000L // 2024-01-15T00:00:00Z, micros
      // retention is periodic maintenance, not per-query work: build the
      // retained store once so repeated invocations (bench runs the
      // query 3×) time its READ, not a re-rewrite of it
      Workspace.once(s, path) {
        SaltedStore.write(
          events(s, dir).select(col("event_id"), col("user_id"), col("ts_us")),
          col("event_id"), dist, path)
        SaltedStore.compactRetain(s, path, col("event_id"),
          col("ts_us") >= cutoffUs)
      }
      SaltedStore.read(s, path)
        .select("event_id", "user_id", "ts_us")
        .orderBy("event_id")
    }),

    // BUCKET-COUNT MIGRATION — SaltedStore.resalt: rewrite a live store
    // under a NEW distributor, the operation the reference structurally
    // cannot offer (its config codec pins the writing distributor to the
    // table for life — wd/Parametrizable.java:24-27 — and changing
    // bucketsCount orphans every written row). The store is built
    // deliberately undersized (n=4), migrated to n=16 under the 3-phase
    // marker protocol (stage → park → swap, crash-resumable), and the
    // query reads the MIGRATED layout's per-bucket census. The oracle
    // computes the same census from first principles (Hash31 at n=16
    // over the raw events), so a row misplaced by the migration — or
    // lost or duplicated by the swap — breaks the hash match.
    "q_resalt_migration" -> ((s, dir) => {
      import graft.store.SaltedStore
      val path = Workspace.root(s, dir, "resaltstore")
      // migration is one-off maintenance: build it once so repeated
      // invocations time the read of the migrated store, not a rewrite
      Workspace.once(s, path) {
        SaltedStore.write(
          events(s, dir).select(col("event_id"), col("user_id"), col("ts_us")),
          col("event_id"), HashPrefix(4), path)
        SaltedStore.resalt(s, path, col("event_id"), HashPrefix(16))
      }
      SaltedStore.read(s, path)
        .groupBy(col("bucket").cast("bigint").as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min("event_id").as("min_key"), max("event_id").as("max_key"))
        .orderBy("bucket")
    }),

    // JOIN-SKEW SALT PLAN — which join keys need salted replication and
    // by how much (SaltAdvisor.joinSaltPlan): hot tail = keys above 2×
    // the mean rows-per-key, salt factor = count in mean-sized slices.
    // The demo key is event_id's lowest set bit — geometric counts
    // (N/2, N/4, …), so the hot tail exists at EVERY scale and the
    // plan is fully deterministic in both engines.
    "q_join_salt_plan" -> ((s, dir) =>
      SaltAdvisor.joinSaltPlan(events(s, dir),
        expr("event_id & -event_id")))
  )

  def oracle: Map[String, String] = Map(
    "q_zorder_scan" -> {
      val z = graft.functions.ZOrderFunctions.duckZorder("user_id", "day_num")
      val zLo = graft.functions.ZOrderKey.spread(20L) | (graft.functions.ZOrderKey.spread(19725L) << 1)
      val zHi = graft.functions.ZOrderKey.spread(90L) | (graft.functions.ZOrderKey.spread(19740L) << 1)
      s"""SELECT event_id, user_id, day_num, $z AS zkey
          FROM (SELECT event_id, user_id, epoch_us(ts) // 86400000000 AS day_num FROM events)
          WHERE $z BETWEEN $zLo AND $zHi
            AND user_id BETWEEN 20 AND 90 AND day_num BETWEEN 19725 AND 19740
          ORDER BY event_id"""
    },

    "q_salt_hash_dist" ->
      s"""SELECT $duckBucket AS bucket, count(*) AS cnt
          FROM events GROUP BY 1 ORDER BY 1""",

    "q_salt_roundrobin_dist" ->
      s"""SELECT bucket, count(*) AS cnt FROM (
            SELECT ((row_number() OVER (ORDER BY event_id)) - 1) % $N AS bucket
            FROM events) GROUP BY 1 ORDER BY 1""",

    "q_salt_unsalt_roundtrip" ->
      "SELECT event_id, event_id AS recovered FROM events ORDER BY event_id",

    "q_fanout_keys" ->
      s"""SELECT event_id, bucket FROM events
          CROSS JOIN (SELECT unnest(range($N)) AS bucket) b
          WHERE event_id < 64 ORDER BY event_id, bucket""",

    "q_interval_fanout" ->
      s"""SELECT bucket,
            lower(lpad(to_hex(bucket), 2, '0') || lpad(to_hex($T1), 16, '0')) AS start_hex,
            lower(lpad(to_hex(bucket), 2, '0') || lpad(to_hex($T2), 16, '0')) AS stop_hex
          FROM (SELECT unnest(range($N)) AS bucket) ORDER BY bucket""",

    "q_range_scan_ordered" ->
      s"""SELECT event_id, epoch_us(ts) AS key_us, event_type, value
          FROM events
          WHERE epoch_us(ts) >= $T1 AND epoch_us(ts) < $T2
          ORDER BY key_us, event_id""",

    "q_range_scan_unbounded" ->
      s"""SELECT event_id, epoch_us(ts) AS key_us, event_type
          FROM events
          WHERE epoch_us(ts) >= $T2
          ORDER BY key_us, event_id""",

    "q_range_scan_multibyte" ->
      s"""WITH t AS (SELECT event_id, epoch_us(ts) AS key_us,
                       ((epoch_us(ts) & 255) % 3 + 3) % 3 AS bucket
                     FROM events),
            sk AS (SELECT event_id, key_us, bucket,
                     lower(lpad(to_hex(bucket), 4, '0') || lpad(to_hex(key_us), 16, '0')) AS skey
                   FROM t),
            iv AS (SELECT bucket,
                     lower(lpad(to_hex(bucket), 4, '0') || lpad(to_hex($T1), 16, '0')) AS lo,
                     lower(lpad(to_hex(bucket), 4, '0') || lpad(to_hex($T2), 16, '0')) AS hi
                   FROM (SELECT unnest(range(3)) AS bucket))
          SELECT event_id, key_us, sk.bucket AS bucket
          FROM sk JOIN iv ON sk.bucket = iv.bucket
          WHERE skey >= lo AND skey < hi
          ORDER BY key_us, event_id""",

    "q_point_get" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
         FROM events WHERE event_id = 4242""",

    "q_scan_count" ->
      s"""SELECT count(*) AS cnt FROM events
          WHERE epoch_us(ts) >= $T1 AND epoch_us(ts) < $T2
            AND props IS NOT NULL AND length(props) > 0""",

    "q_per_bucket_stats" ->
      s"""SELECT $duckBucket AS bucket, count(*) AS cnt,
            min(event_id) AS min_key, max(event_id) AS max_key
          FROM events GROUP BY 1 ORDER BY 1""",

    "q_topk" ->
      """SELECT event_id, value, event_type FROM events
         ORDER BY value DESC, event_id LIMIT 100""",

    "q_union_buckets" ->
      s"""SELECT event_id, bucket FROM (
            SELECT event_id, $duckBucket AS bucket FROM events
              WHERE $duckBucket < 8
            UNION ALL
            SELECT event_id, $duckBucket AS bucket FROM events
              WHERE $duckBucket >= 8)
          ORDER BY event_id""",

    "q_debug_dump" ->
      s"""SELECT event_id, bucket,
            lower(lpad(to_hex(bucket), 2, '0') || lpad(to_hex(event_id), 16, '0')) AS salted_key_hex,
            event_type
          FROM (SELECT event_id, event_type, $duckBucket AS bucket FROM events)
          ORDER BY event_id LIMIT 1000""",

    // oracle = the semantic answer (the map algebra collapses to known
    // constants on this fixed qualifier set — DuckDB MAP quirks avoided)
    "q_kv_qualifiers" ->
      """SELECT event_id, 'type,user,value' AS qualifiers,
           CAST(3 AS BIGINT) AS n_qualifiers,
           event_type AS q_type, CAST(user_id AS VARCHAR) AS q_user
         FROM events WHERE event_id < 1000 ORDER BY event_id""",

    "q_config_roundtrip" ->
      """SELECT * FROM (VALUES
           ('HashPrefix--16', 'HashPrefix--16'),
           ('RoundRobin--12--event_id', 'RoundRobin--12--event_id'),
           ('Identity', 'Identity'),
           ('MultiBytePrefix--3', 'MultiBytePrefix--3')) t(config, roundtrip)
         ORDER BY config""",

    // same deterministic ntile (ties broken by key) and integer ppm share
    "q_key_skew" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
         d AS (SELECT cnt,
                 CAST(ntile(10) OVER (ORDER BY cnt, user_id) AS BIGINT) AS decile,
                 sum(cnt) OVER () AS total
               FROM c)
         SELECT decile, count(*) AS n_keys, min(cnt) AS min_cnt,
           max(cnt) AS max_cnt, CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST((CAST(sum(cnt) AS BIGINT) * 1000000) // max(total) AS BIGINT) AS share_ppm
         FROM d GROUP BY 1 ORDER BY 1""",

    "q_salt_advisor" -> SaltAdvisor.duckSql("events", "user_id"),

    "q_salt_advisor_verify" -> {
      val h = Hash31.duckHash32("__k")
      s"""WITH adv AS (${SaltAdvisor.duckSql("events", "user_id")}),
         p AS (SELECT n, under_ppm AS pred_under_ppm,
                 over_ppm AS pred_over_ppm, within_tol
               FROM adv WHERE recommended),
         k AS (SELECT user_id AS __k FROM events),
         mc AS (SELECT ((($h) % p.n + p.n) % p.n) AS bucket,
                  count(*) AS bucket_rows
                FROM k CROSS JOIN p GROUP BY 1),
         fb AS (SELECT unnest(range(n)) AS bucket FROM p),
         pb AS (SELECT coalesce(mc.bucket_rows, 0) AS bucket_rows
                FROM fb LEFT JOIN mc USING (bucket)),
         m AS (SELECT min(bucket_rows) AS min_b, max(bucket_rows) AS max_b,
                 sum(bucket_rows) AS total FROM pb)
         SELECT n, pred_under_ppm, pred_over_ppm,
           meas_under_ppm, meas_over_ppm,
           (pred_under_ppm = meas_under_ppm
             AND pred_over_ppm = meas_over_ppm) AS prediction_exact,
           within_tol
         FROM (SELECT p.n, pred_under_ppm, pred_over_ppm, within_tol,
                 CAST(CAST(min_b AS HUGEINT) * p.n * 1000000 // total AS BIGINT)
                   AS meas_under_ppm,
                 CAST(CAST(max_b AS HUGEINT) * p.n * 1000000 // total AS BIGINT)
                   AS meas_over_ppm
               FROM p CROSS JOIN m)
         ORDER BY n"""
    },

    "q_join_salt_plan" ->
      SaltAdvisor.duckJoinSaltPlan("events", "event_id & -event_id"),

    "q_index_lookup" ->
      """SELECT event_id, user_id, value FROM events
         WHERE user_id IN (3, 17, 41) ORDER BY event_id""",

    "q_index_range" ->
      """SELECT event_id, user_id, value FROM events
         WHERE user_id >= 3 AND user_id < 11 ORDER BY event_id""",

    "q_store_retention" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
         WHERE epoch_us(ts) >= 1705276800000000 ORDER BY event_id""",

    "q_resalt_migration" -> {
      val b = Hash31.duckBucket("event_id", 16)
      s"""SELECT CAST($b AS BIGINT) AS bucket,
            CAST(count(*) AS BIGINT) AS n_rows,
            min(event_id) AS min_key, max(event_id) AS max_key
          FROM events GROUP BY 1 ORDER BY 1"""
    }
  )
}
