package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter]
    // The driver passes exactly two; the filter is for local targeted runs.
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.lift(2)
    // SPARK_GRAFT_MASTER (see Harness.session) runs this same dump under a
    // local-cluster for the multi-JVM attest; unset, it runs
    // local[SPARK_GRAFT_CPUS].
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // Failures must leave a visible artifact, not just a stderr line: in r9
    // the events-fixture drift silently shrank CORRECTNESS_r09 from 272 to
    // 208 entries with zero err records (VERDICT r9 "What's wrong" #3).
    // Collect key -> message and write _errors.json next to the dumps so a
    // breakage shows up as data the driver (and a human) can read.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    var dumped = 0
    Harness.board(only).foreach { case (name, fn) =>
      Harness.run(spark, name)(fn(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")).error match {
        case None => dumped += 1
        case Some(e) =>
          failed(name) = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
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
    val errJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    // NOTE: exit code stays 0 even on per-key failures — the driver may
    // treat a non-zero Verify as "no dump at all", which would zero the
    // round's correctness instead of flagging the broken subset. The
    // _errors.json artifact + this summary line are the loud signal.
    println(s"[verify] dumped $dumped / failed ${failed.size}")
    spark.stop()
  }
}
