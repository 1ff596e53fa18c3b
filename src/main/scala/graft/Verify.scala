package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg (dev only): comma-separated name substrings —
    // run just the matching queries (the driver always passes two args)
    val only: String => Boolean = args.lift(2) match {
      case Some(pats) => name => pats.split(',').exists(name.contains)
      case None => _ => true
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // box-health evidence for the correctness run, same motive as Bench:
    // a slow verify with a slow fixed-work calib is the box, not the code
    // (ALU + memory probes — r12 showed host memory pressure slows
    // pointer-heavy stages 5-15x while the ALU spin stays clean)
    val calibPre = Calib.bracketAll(cpus.toInt)
    val wallStart = System.nanoTime()
    var nRun = 0
    var nFailed = 0
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only(name)) {
        nRun += 1
        // skew demos pin the per-key gate open around the WRITE
        try SparkEntry.withRescueGate(spark, name) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          nFailed += 1
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // self-evidence line + file: wall, counts, and fixed-work CPU calib
    // bracketing the run — lets a future reader adjudicate a slow verify
    // (box vs code) the way BENCH artifacts now can
    // wall stops BEFORE the post bracket (wallStart follows the pre
    // bracket): wall_sec is the run between the brackets, calib excluded
    val wallSec = (System.nanoTime() - wallStart) / 1e9
    val calibPost = Calib.bracketAll(cpus.toInt)
    val meta =
      s"""{"wall_sec":${f"$wallSec%.1f"},"n_queries":$nRun,"n_failed":$nFailed,"cpus":$cpus,"calib_sec":${Calib.json(cpus, calibPre, calibPost)}}"""
    println(s"[verify] meta $meta")
    try Files.writeString(Paths.get(s"$outDir/verify_meta.json"), meta + "\n")
    catch { case e: Throwable => System.err.println(s"[verify] meta write failed: $e") }
    spark.stop()
  }
}
