package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * `SPARK_GRAFT_REPEAT=1` additionally re-executes EVERY query a second
  * time after the full dump pass — same long-lived session, same heap,
  * interleaved with the whole set, i.e. the driver's run composition —
  * and compares a canonical result hash against the pass-1 parquet dump.
  * Any self-mismatch is a nondeterminism bug;
  * the process exits nonzero so the instability cannot pass silently. */
object Verify {

  /** Order- and partitioning-insensitive content hash: every column cast
    * to string (null → a sentinel no real value contains), columns in
    * sorted-name order, rows sorted; stable across executions of a
    * deterministic query in one JVM. */
  def canonicalHash(df: DataFrame): String = {
    import org.apache.spark.sql.functions.{coalesce, col, concat_ws, lit}
    val cols = df.columns.sorted.map(c =>
      coalesce(col(s"`$c`").cast("string"), lit("\u0000")))
    val lines = df.select(concat_ws("\u0001", cols: _*).as("l"))
      .collect().map(_.getString(0)).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev aid: SPARK_GRAFT_ONLY=name1,name2 restricts the dump to a
    // subset (fast oracle iteration); the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(names => SparkEntry.queries.filter(kv => names(kv._1)))
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        failed += name -> msg
        System.err.println(s"[verify] $name failed: $msg")
      } finally GraftCaches.releaseAll()
    }
    // Repeat-stability pass: under the same heap
    // and run composition as the dump pass, every query must reproduce
    // its own pass-1 result bit-for-bit. Queries that already failed the
    // dump pass are excluded: they have no parquet to compare against and
    // are already reported on stderr — re-raising them here would conflate
    // a plain query failure (tolerated, surfaces in the driver's compare)
    // with a nondeterminism bug (fails the whole run).
    if (sys.env.get("SPARK_GRAFT_REPEAT").exists(_.nonEmpty)) {
      val unstable = selected.filterNot(kv => failed.contains(kv._1)).flatMap { case (name, fn) =>
        val r = try {
          val h1 = canonicalHash(spark.read.parquet(s"$outDir/$name"))
          val h2 = canonicalHash(fn(spark, sfDir))
          if (h1 == h2) None else Some(name -> s"$h1 != $h2")
        } catch { case e: Throwable => Some(name -> s"repeat failed: ${e.getMessage}") }
        finally GraftCaches.releaseAll()
        r
      }
      if (unstable.isEmpty)
        println(s"[verify] repeat-stability: ${selected.size}/${selected.size} queries self-consistent")
      else {
        unstable.foreach { case (n, why) => System.err.println(s"[verify] UNSTABLE $n: $why") }
        spark.stop()
        sys.exit(1)
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
    // Failure record: a throwing query must leave a
    // trace in the correctness artifacts, not just a stderr line — otherwise
    // the round's CORRECTNESS json silently shrinks and reads fully green.
    val failedJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failed.json"), failedJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size}/${selected.size} queries failed (see failed.json)")
    spark.stop()
  }
}
