package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.keys.HashPrefix
import graft.scan.DistributedScan
import graft.store.SaltedStore

/** One benchmark run in one JVM: set up the session, generate the
  * workload's inputs from the seed, run the cold phase, then a one-client
  * closed loop for the given seconds, checking every result. Writes the
  * raw record (operations, jobs, stages, spans, health) as JSON; the
  * metrics are computed from it by `perfbench/metrics.py`.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE */
object Main {
  def main(args: Array[String]): Unit =
    try measure(args)
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }

  private def measure(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val (workload, seed, seconds) = (a("workload"), a("seed").toLong, a("seconds").toDouble)
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val load0 = Health.snapshot()

    // set-up in this fresh JVM: session with the extensions, first action
    val t0setup = Clock.ms()
    val spark = session(cores, work)
    spark.range(0, 100000, 1, cores).groupBy((col("id") % 16).as("b")).count().collect()
    val setupMs = Clock.ms() - t0setup
    spark.sparkContext.setLogLevel("WARN")
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    val tracer = new Tracer(spark.sparkContext, a("trace") == "1")
    val heap = new PeakHeap

    val run = workload match {
      case "kv_timeseries" => new Kv(spark, tracer, seed, work)
      case "corpus_chain" => new Corpus(spark, tracer, seed, work)
      case other => sys.error(s"unknown workload $other")
    }
    val phases = mutable.LinkedHashMap[String, Double]()
    def phase[T](name: String)(body: => T): T = {
      val t = Clock.ms()
      try body finally phases(name) = phases.getOrElse(name, 0.0) + Clock.ms() - t
    }
    phase("generate")(run.generate())
    tracer.beginOp(0)
    val t0 = Clock.ms()
    run.cold()
    run.warmup()
    val coldMs = Clock.ms() - t0
    phase("heap")(heap.sample())
    val loopStart = Clock.ms()
    val deadline = loopStart + seconds * 1000
    while (Clock.ms() < deadline) run.op()
    val loopEnd = Clock.ms()
    phase("heap")(heap.sample())
    tracer.beginOp(-1)
    phase("finish")(run.finish())
    val (jobs, stages) = log.records(spark.sparkContext)
    val calib = phase("calib")(graft.Calib.bracketAll(cores))
    val load1 = Health.snapshot()

    val record = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "setup_ms" -> setupMs, "cold_ms" -> coldMs,
      "loop_start" -> loopStart, "loop_end" -> loopEnd,
      "ops" -> run.ops, "errors" -> run.errors, "counters" -> run.counters,
      "peak_heap_mb" -> heap.peakMb, "phases_ms" -> phases,
      "health" -> Map("calib_alu_1t" -> calib.alu1, "calib_alu_nt" -> calib.aluN,
        "calib_mem_1t" -> calib.mem1, "calib_mem_nt" -> calib.memN,
        "calib_mem_ratio" -> calib.mem1 / graft.Calib.NominalMem1t,
        "loadavg_pre" -> load0.load, "loadavg_post" -> load1.load,
        "steal_pct" -> Health.stealPct(load0, load1)),
      "jobs" -> jobs, "stages" -> stages, "spans" -> tracer.records)
    Files.writeString(Paths.get(a("out")), Json(record))
    spark.stop()
    sys.exit(0)
  }

  def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      // Room for every class the workloads generate: with Spark's default
      // of 100 entries the corpus loop's queries evict each other's code
      // and compile 10-14 new classes on every run, so their latency
      // follows how quickly each JVM's JIT catches up.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()

  /** Executed-plan nodes, looking through adaptive execution and its stages. */
  private object PlanNodes extends AdaptiveSparkPlanHelper
  def planNodes(df: DataFrame): Seq[SparkPlan] =
    PlanNodes.collect(df.queryExecution.executedPlan) { case p => p }
}

/** Guest load evidence bracketing a run: load average and CPU steal. */
object Health {
  final case class Snap(load: String, total: Long, steal: Long)
  def snapshot(): Snap = {
    def read(p: String) = scala.util.Try(new String(Files.readAllBytes(Paths.get(p)))).getOrElse("")
    val load = read("/proc/loadavg").split(" ").take(3).mkString(",")
    val cpu = read("/proc/stat").linesIterator.toSeq.headOption
      .map(_.split("\\s+").drop(1).map(_.toLong).toSeq).getOrElse(Seq.empty)
    Snap(load, cpu.take(8).sum, cpu.lift(7).getOrElse(0L))
  }
  def stealPct(a: Snap, b: Snap): Double =
    if (b.total > a.total) 100.0 * (b.steal - a.steal) / (b.total - a.total) else 0.0
}

/** Peak live heap: heap in use right after a full collection, sampled at
  * rest (end of the cold phase, end of the loop). Heap in use after young
  * collections also counts garbage already promoted, which varies with
  * collection timing rather than with the program. The first collection
  * lets Spark's context cleaner drop the cached blocks of unreachable
  * datasets; the second, after it has had time to, frees them. */
final class PeakHeap {
  private var peak = 0L
  def sample(): Unit = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / 1048576.0
}

/** A workload: inputs, a cold phase, and the operations of the loop. */
abstract class Workload(val spark: SparkSession, val tr: Tracer) {
  val ops = mutable.ArrayBuffer[Map[String, Any]]()
  val errors = mutable.ArrayBuffer[String]()
  val counters = mutable.LinkedHashMap[String, Any]()
  def generate(): Unit
  def cold(): Unit
  /** The first operation of each kind, counted in the cold phase, so that
    * the loop measures warm operations only. */
  def warmup(): Unit = ()
  /** Issues the next operation of the closed loop. */
  def op(): Unit
  /** Work after the loop, outside every measurement. */
  def finish(): Unit = ()

  protected var warming = false
  private var loopOps = 0L

  /** Times one operation under a fresh operation id (which tags its Spark
    * jobs), or under id 0 while warming up; an exception fails it, a wrong
    * answer (reported through `check`) makes the run incorrect. */
  protected def timed(kind: String)(body: => Unit): Unit = {
    val id = if (warming) 0L else { loopOps += 1; loopOps }
    tr.beginOp(id)
    val (t0, cpu0, gc0) = (Clock.ms(), Clock.cpuMs(), Clock.gcMs())
    val ok = try { body; true } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] op $id ($kind) failed: $e")
        false
    }
    ops += Map("id" -> id, "type" -> kind, "start" -> t0, "end" -> Clock.ms(), "ok" -> ok,
      "cpu_ms" -> (Clock.cpuMs() - cpu0), "gc_ms" -> (Clock.gcMs() - gc0))
  }

  protected def check(cond: Boolean, what: => String): Unit =
    if (!cond && errors.size < 20) errors += what
}

/** The paper's traffic: monotonically increasing time-series keys salted
  * over 16 hash buckets, written in bulk, then point gets, ordered range
  * scans, scans with a global running sum, and tail appends on the same
  * store, with compaction whenever the store asks for it. */
final class Kv(spark: SparkSession, tr: Tracer, seed: Long, work: String)
    extends Workload(spark, tr) {
  val Rows = 500000L
  val Batch = 20000L
  /** Tail batches: the warm-up's and two in the loop (later append slots
    * become gets). With the bulk write's file that keeps each bucket at the
    * default `needsCompaction` threshold of four files, so a multi-second
    * compaction never lands in the loop, where whether it fits would depend
    * on the box's speed; the traced run compacts once after the loop. */
  val MaxAppends = 3
  val PayloadChars = 40
  val dist = HashPrefix(16)
  val T0 = 1600000000000000L // epoch microseconds of row 0
  val Step = 1000L
  private val s = Math.floorMod(seed, 1000003L)
  private val store = s"$work/store"
  private val rng = new java.util.SplittableRandom(seed)
  /** Operation mix per cycle of 20, interleaved evenly (smooth weighted
    * round robin) so that any stretch of the loop, not only whole
    * cycles, runs the same mix whatever the seed. */
  private val mix = Seq("get" -> 8, "scan" -> 7, "agg" -> 3, "append" -> 2)
  private val cycle: Vector[String] = {
    val credit = mutable.Map(mix.map(_._1 -> 0): _*)
    Vector.fill(20) {
      mix.foreach { case (t, w) => credit(t) += w }
      val t = mix.map(_._1).maxBy(credit)
      credit(t) -= 20
      t
    }
  }
  private var issued = 0L
  private val widthsDrawn = mutable.Map[String, Long]().withDefaultValue(0L)
  private var hi = Rows // rows in the store: indices [0, hi)
  private var appends = 0
  private var files = Map.empty[String, Long]
  private val key = col("key")

  def keyOf(i: Long): Long = T0 + i * Step
  def valueOf(i: Long): Long = Math.floorMod(i * 2654435761L + s * 40503L, 1000003L)
  def payloadOf(i: Long): String = {
    val p = s"${java.lang.Long.toHexString(s)}-${java.lang.Long.toHexString(i)}-" +
      java.lang.Long.toHexString(valueOf(i))
    ("0" * (PayloadChars - p.length) + p).toUpperCase
  }

  private def rows(lo: Long, hi: Long): DataFrame = {
    val v = pmod(col("id") * 2654435761L + lit(s * 40503L), lit(1000003L))
    spark.range(lo, hi).select((lit(T0) + col("id") * Step).as("key"), v.as("value"),
      lpad(concat(hex(lit(s)), lit("-"), hex(col("id")), lit("-"), hex(v)), PayloadChars, "0")
        .as("payload"), floor((col("id") - Rows) / Batch).cast("long").as("batch"))
  }

  def generate(): Unit = {
    rows(0, Rows).drop("batch").write.parquet(s"$work/input/base")
    rows(Rows, Rows + MaxAppends * Batch).write.partitionBy("batch").parquet(s"$work/input/tail")
  }

  /** Bytes of data files that appeared since the last call (trace only);
    * with `live` also the files and bytes now in the store. */
  private def accountWrites(live: Boolean = true): Unit = if (tr.on) {
    val root = new org.apache.hadoop.fs.Path(store)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(root, true)
    val now = mutable.Map[String, Long]()
    while (it.hasNext) {
      val f = it.next()
      val rel = f.getPath.toUri.getPath.stripPrefix(root.toUri.getPath)
      if (!rel.split("/").exists(p => p.startsWith("_") || p.startsWith(".")))
        now(rel) = f.getLen
    }
    val fresh = now.filter { case (p, _) => !files.contains(p) }
    def add(k: String, v: Long): Unit =
      counters(k) = counters.getOrElse(k, 0L).asInstanceOf[Long] + v
    add("bytes_written", fresh.values.sum)
    add("files_written", fresh.size.toLong)
    files = now.toMap
    if (live) {
      counters("files_live") = now.size.toLong
      counters("bytes_live") = now.values.sum
    }
  }

  def cold(): Unit = {
    val in = spark.read.parquet(s"$work/input/base")
    tr.span("store.write")(SaltedStore.write(in, key, dist, store))
    accountWrites()
  }

  private def recent(n: Long): Long = n - 1 - (n * math.pow(rng.nextDouble(), 3)).toLong

  /** Range width in rows, spread log-uniformly over 10^2..10^5: the k-th
    * range of a type takes the midpoint of stratum (k * step mod m) of
    * that type's m strata (m = its count per cycle, step coprime to m).
    * Every run thus scans the same widths, and only the positions of the
    * ranges depend on the seed: a random width would make the handful of
    * scans in one run differ in cost from seed to seed. */
  private def width(kind: String): Long = {
    val m = mix.toMap.apply(kind)
    val step = Iterator.from(m / 2 + 1).find(BigInt(_).gcd(m) == 1).get
    val k = widthsDrawn(kind)
    widthsDrawn(kind) = k + 1
    val stratum = (k * step) % m
    math.min(hi, math.round(math.pow(10, 2 + 3 * (stratum + 0.5) / m)))
  }
  private def read(): DataFrame = tr.span("store.read")(SaltedStore.read(spark, store))

  override def warmup(): Unit = {
    warming = true
    try { get(); scan(); agg(); append() } finally warming = false
  }

  def op(): Unit = {
    val kind = cycle((issued % cycle.size).toInt)
    issued += 1
    kind match {
      case "append" if appends < MaxAppends => append()
      case "get" | "append" => get()
      case "scan" => scan()
      case "agg" => agg()
    }
  }

  private def get(): Unit = {
    val i = recent(hi)
    var nFiles = 0L
    timed("get") {
      val t = read()
      val got = tr.span("scan.get", Map("files" -> nFiles)) {
        val df = DistributedScan.pointGet(t, key, keyOf(i), dist)
        val r = df.collect()
        if (tr.on) nFiles = Main.planNodes(df).collect {
          case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }.sum
        r
      }
      check(got.length == 1 && got(0).getAs[Long]("key") == keyOf(i) &&
        got(0).getAs[Long]("value") == valueOf(i) &&
        got(0).getAs[String]("payload") == payloadOf(i),
        s"get row $i returned ${got.mkString(";")}")
    }
  }

  private def scan(): Unit = {
    val w = width("scan")
    val lo = hi - w - ((hi - w) * math.pow(rng.nextDouble(), 3)).toLong
    var firstMs = 0.0
    var n = 0L
    timed("scan") {
      val t = read()
      tr.span("scan.range", Map("first_row_ms" -> firstMs, "rows" -> n)) {
        val t0 = Clock.ms()
        val it = DistributedScan.orderedIterator(t, key, keyOf(lo), keyOf(lo + w))
        var ok = true
        if (it.hasNext) firstMs = Clock.ms() - t0
        while (it.hasNext) {
          val r = it.next()
          val i = lo + n
          ok &&= r.getAs[Long]("key") == keyOf(i) && r.getAs[Long]("value") == valueOf(i)
          n += 1
        }
        check(ok && n == w, s"scan [$lo, ${lo + w}) returned $n rows (ordered and exact: $ok)")
      }
    }
  }

  private def agg(): Unit = {
    val w = width("agg")
    val lo = hi - w - ((hi - w) * math.pow(rng.nextDouble(), 3)).toLong
    var rescued = false
    timed("agg") {
      val t = read()
      val r = tr.span("plans.running_agg", Map("rescued" -> rescued)) {
        val df = DistributedScan.rangeScan(t, key, keyOf(lo), keyOf(lo + w))
          .withColumn("run", sum(col("value")).over(Window.orderBy(key)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .agg(count(lit(1)), max(col("run")), sum(col("run")))
        val r = df.collect()(0)
        if (tr.on) rescued = Main.planNodes(df).exists(_.getClass.getName.startsWith("graft."))
        r
      }
      var (total, prefixes) = (0L, 0L)
      for (i <- lo until lo + w) { total += valueOf(i); prefixes += total }
      check(r.getLong(0) == w && r.getLong(1) == total && r.getLong(2) == prefixes,
        s"running sum over [$lo, ${lo + w}) gave $r, expected ($w, $total, $prefixes)")
    }
  }

  private def append(): Unit = {
    val batch = spark.read.parquet(s"$work/input/tail/batch=$appends")
    // trace-only measurement of the key layer, tagged as harness work
    if (tr.on) tr.span("keys.with_bucket") {
      tr.beginOp(-1)
      val counts = dist.withBucket(batch, key).groupBy("bucket").count().collect().map(_.getLong(1))
      val spread = counts.max * dist.numBuckets.toDouble / counts.sum
      counters("tail_bucket_spread") =
        counters.getOrElse("tail_bucket_spread", Vector.empty[Double])
          .asInstanceOf[Vector[Double]] :+ spread
    }
    var compact = false
    timed("append") {
      tr.span("store.write")(SaltedStore.write(batch, key, dist, store, mode = "append"))
      hi += Batch
      appends += 1
      compact = tr.span("store.needs_compaction")(SaltedStore.needsCompaction(spark, store))
    }
    accountWrites()
    if (compact) {
      timed("compact")(tr.span("store.compact")(SaltedStore.compact(spark, store, key)))
      accountWrites()
    }
  }

  /** The traced run compacts once after the loop to time the layer; the
    * live files and bytes stay those the loop's reads faced. */
  override def finish(): Unit = {
    if (tr.on) {
      tr.span("store.compact")(SaltedStore.compact(spark, store, key))
      accountWrites(live = false)
    }
    counters("rows") = hi
    counters("user_bytes_ingested") = hi * (16L + PayloadChars)
  }
}

/** Corpus construction over a seeded document set: the composed chain
  * (`q_corpus_e2e`) once, cold, then a closed loop over pipeline queries
  * that run the chain's stages standalone (`Stages`). Every loop query
  * must return the rows of its first run. The chain's cold result, each
  * stage's first result and their DuckDB oracle SQL are written out for
  * the oracle check. */
final class Corpus(spark: SparkSession, tr: Tracer, seed: Long, work: String)
    extends Workload(spark, tr) {
  val Docs = 500
  /** Near-duplicate structure of the sf0.01 table (see `generate`). */
  val Chains = Seq(2)
  val Twins = 0
  val Singles = 22
  val Orphans = 1
  /** Seed of the near-duplicate groups. */
  val GroupSeed = 0L
  val Query = "q_corpus_e2e"
  /** The loop's queries, in a fixed cycle: NFC cleaning with exact dedup,
    * minhash signatures, n-gram decontamination, and the token mix by
    * source (a global window), each about 0.4–1 s. A warm pass of the
    * whole chain takes 5–8 s, too long for a steady median in one run. */
  val Stages = Seq("q_corpus_clean", "q_minhash_signature", "q_decontaminate", "q_domain_mix")
  val WarmupCycles = 2
  private val dir = s"$work/input"
  private var coldRows: Array[Row] = Array.empty

  /** Documents shaped like the `documents` test table at sf0.01: 500
    * documents of 10–99 words drawn uniformly from a 30-word vocabulary,
    * 25 of which (5 %) end in the word "dup". Those near-duplicates copy
    * another document's text and add " dup", with the table's structure:
    * `Chains` copies of copies, `Twins` documents copied twice (their two
    * copies are exact duplicates), `Singles` documents copied once, and
    * `Orphans` whose original is not in the corpus. `lang` is en 40 %,
    * zh/es/fr/de 15 % each; `source` is src(doc_id mod 20).
    *
    * The seed draws every other document. The near-duplicate groups, their
    * ids and texts, are the same in every run (`GroupSeed`): they decide
    * how many rounds the chain's connected-components dedup runs (its
    * minhash banding finds a pair only with some probability). */
  def generate(): Unit = {
    val vocab = ("a the key agg row scan slow fast table value part hash merge batch " +
      "spark line sort window data column order small customer query big join filter " +
      "group stream vector").split(" ")
    val langs = Array.fill(8)("en") ++ Seq("zh", "es", "fr", "de").flatMap(Array.fill(3)(_))
    def words(r: java.util.SplittableRandom): String =
      Seq.fill(10 + r.nextInt(90))(vocab(r.nextInt(vocab.length))).mkString(" ")
    val rng = new java.util.SplittableRandom(seed)
    val text = Array.fill(Docs)(words(rng))
    val groups = new java.util.SplittableRandom(GroupSeed)
    val order = (0 until Docs).toArray
    for (i <- Docs - 1 to 1 by -1) {
      val j = groups.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    val next = order.iterator
    def original(): Int = { val i = next.next(); text(i) = words(groups); i }
    def copy(from: Int): Int = { val i = next.next(); text(i) = text(from) + " dup"; i }
    for (depth <- Chains) (1 to depth).foldLeft(original())((at, _) => copy(at))
    for (_ <- 1 to Twins) { val r = original(); copy(r); copy(r) }
    for (_ <- 1 to Singles) copy(original())
    for (_ <- 1 to Orphans) text(original()) += " dup"
    val docs = (0 until Docs).map { i =>
      Row(i.toLong, text(i), langs(rng.nextInt(langs.length)), s"src${i % 20}",
        text(i).length.toLong)
    }
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(docs.asJava, schema).coalesce(1).write.parquet(s"$dir/documents.parquet")
  }

  private def run(query: String): Array[Row] =
    tr.span(s"queries.$query")(graft.SparkEntry.queries(query)(spark, dir).collect())

  private val first = mutable.LinkedHashMap[String, Array[Row]]()
  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted
  private var issued = 0L

  def cold(): Unit = coldRows = run(Query)

  /** Each query first runs once for its reference result, then the whole
    * cycle `WarmupCycles` more times before the loop: the first runs after
    * the reference are still 10-40 % slower while the JIT compiles. */
  override def warmup(): Unit = {
    warming = true
    try {
      Stages.foreach(q => timed(q)(first(q) = run(q)))
      for (_ <- 1 to WarmupCycles; q <- Stages) again(q)
    } finally warming = false
  }

  def op(): Unit = {
    val q = Stages((issued % Stages.size).toInt)
    issued += 1
    again(q)
  }

  private def again(q: String): Unit = timed(q) {
    val got = run(q)
    check(sorted(got) == sorted(first(q)), s"$q returned ${got.length} rows " +
      s"differing from the ${first(q).length} of its first run")
  }

  override def finish(): Unit = {
    for ((q, rows) <- Seq(Query -> coldRows) ++ first) {
      spark.createDataFrame(rows.toSeq.asJava, rows.head.schema)
        .coalesce(1).write.parquet(s"$work/result/$q")
      Files.createDirectories(Paths.get(s"$work/oracle"))
      Files.writeString(Paths.get(s"$work/oracle/$q.sql"), graft.SparkEntry.oracleSql(q))
    }
    counters("cold_rows") = coldRows.length.toLong
  }
}
