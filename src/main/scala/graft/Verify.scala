package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Canonical text form of a dumped result — the forensics surface
    * the r12/r13 driver-red misdiagnosis proved necessary: the driver
    * hashes results in ITS environment, so a driver red against a
    * local green was unattributable (two rounds were spent fixing a
    * nondeterminism that did not exist; the real cause was a
    * DECIMAL(38,0) canonicalization difference). With a committed
    * per-round manifest (query → content hash) and per-query canon
    * text, the next round can diff a red to the exact flipped value.
    *
    * Format mirrors scripts/check_oracle.py's `canon`: columns sorted
    * by name, each value stringified (floats at 6 dp via Locale.ROOT
    * — a comma-decimal default locale must not fork the canon text
    * across environments, which would defeat the manifest's
    * attribution purpose — null → "None", booleans → True/False,
    * arrays → [a, b] recursively), columns joined with U+0001 (the
    * separator check_oracle.py uses, written as the escape \u0001
    * below rather than a raw control byte so it is visible to readers
    * and safe against editors that strip control chars), rows sorted
    * lexicographically. */
  def canonRows(df: DataFrame): Seq[String] = {
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    def f6(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
    def s(v: Any): String = v match {
      case null => "None"
      case d: Double => f6(d)
      case f: Float => f6(f.toDouble)
      case b: Boolean => if (b) "True" else "False"
      case a: scala.collection.Seq[_] => a.map(s).mkString("[", ", ", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => s"${s(k)}: ${s(x)}" }
          .sorted.mkString("{", ", ", "}")
      case r: org.apache.spark.sql.Row =>
        r.toSeq.map(s).mkString("(", ", ", ")")
      case x => x.toString
    }
    df.collect().toSeq
      .map(r => order.map(i => s(r.get(i))).mkString("\u0001"))
      .sorted
  }

  private def sha256(text: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
    d.digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** Dumps each query's result under `outDir/<name>` and returns the
    * failures (name → message). Separated from `main` so the failure
    * path is unit-testable without stopping the shared test session.
    *
    * A failed query must leave a visible trace in the output dir, not
    * just stderr: round 5 lost 26 queries from the official record
    * because absence read as health. Failures land in errors.json, and
    * a one-row `_verify_error` marker parquet is dumped under the
    * query's name so the driver's DuckDB compare emits a loud mismatch
    * row instead of silently skipping the query. Exit code stays 0 —
    * a partial dump must remain consumable (rc!=0 zeroed BENCH_r05).
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          queries: Map[String, (SparkSession, String) => DataFrame],
          oracleSql: Map[String, String],
          // SPARK_GRAFT_FORENSICS=1: per-query canonical row dump +
          // hash beside each parquet, and a manifest.json
          // (query → sha256) — the artifact a driver-side red is
          // diffed against (see [[canonRows]]). Opt-in: the canon
          // re-reads and collects every dumped result, so the default
          // driver run stays at write-only cost.
          forensics: Boolean =
            sys.env.get("SPARK_GRAFT_FORENSICS").contains("1"))
      : Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val manifest = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        if (forensics) {
          val canon = canonRows(spark.read.parquet(s"$outDir/$name"))
            .mkString("\n")
          Files.writeString(Paths.get(s"$outDir/${name}_canon.txt"), canon)
          manifest(name) = sha256(canon)
        }
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        failures(name) = msg
        try {
          import spark.implicits._
          Seq(msg).toDF("_verify_error").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case m: Throwable =>
          System.err.println(s"[verify] $name marker write failed: ${m.getMessage}")
        }
      }
    }
    val json = oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (forensics) {
      val mjson = manifest
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/manifest.json"), mjson)
    }
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(
        s"[verify] ${failures.size} quer${if (failures.size == 1) "y" else "ies"} failed: " +
        failures.keys.mkString(", "))
    failures.toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local("graft-verify")
    // dev aid (mirrors Bench): SPARK_GRAFT_ONLY=q54_tfidf,q55_lm_score
    // restricts the dump + oracle json; the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    run(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (n, _) => keep(n) },
      SparkEntry.oracleSql.filter { case (n, _) => keep(n) })
    spark.stop()
  }
}
