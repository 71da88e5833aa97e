package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local(Session.parseCpus(sys.env.get("SPARK_GRAFT_CPUS")))
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (regex on key names) for fast local oracle
    // iteration; the driver passes no env var and gets every key
    val keyRe = sys.env.get("SPARK_GRAFT_KEYS").map(_.r)
    def keep(name: String): Boolean = keyRe.forall(_.findFirstIn(name).isDefined)
    // loud subset marker: if the filter ever leaks into a gated run, the
    // sentinel makes the partial verification detectable downstream
    // instead of passing vacuously on a subset that looks like coverage
    keyRe.foreach { re =>
      System.err.println(s"[verify] *** SUBSET RUN: SPARK_GRAFT_KEYS=$re — NOT a full gate ***")
      Files.writeString(Paths.get(s"$outDir/_SUBSET_RUN"),
        s"SPARK_GRAFT_KEYS=$re\nThis output covers a KEY SUBSET — not a full verification.\n")
    }
    // ...and the inverse: a FULL run into a dir a subset run used earlier
    // must clear the stale sentinel, or full coverage reads as partial
    if (keyRe.isEmpty)
      Files.deleteIfExists(Paths.get(s"$outDir/_SUBSET_RUN"))
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
