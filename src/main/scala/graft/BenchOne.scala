package graft

/** Steady-state per-key timing: each key `reps` times in one warmed JVM
  * through the noop sink, printing per-rep wall seconds and the min — the
  * signal the shared box's load variance hides in full Bench totals
  * (BASELINE.md). Min-of-N absorbs first-run codegen and transient load
  * spikes. With `outJson`, also writes the per-key min-of-N anchor in the
  * BASELINE_PERKEY.json format (merge two runs with
  * tools/combine_perkey.py); `load_avg_*` bound the run's context.
  *
  * A key that fails any rep is left out of the anchor, named in `errors`,
  * and the exit code is 1: a failure must not read as a ~0 s anchor.
  *
  * usage: runMain graft.BenchOne <key[,key...]|all> [reps] [outJson]
  * env:   SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (see Harness)
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    import Harness.f3
    val queries = SparkEntry.queries
    val names =
      if (args(0) == "all") queries.keys.toSeq.sorted else args(0).split(",").toSeq
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    Harness.warmup(spark, sfDir)
    val loadStart = Harness.load
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    val mins = names.flatMap { name =>
      val fn = queries(name)
      val rs = (1 to reps).map(_ => Harness.run(spark, name)(Harness.noop(fn(spark, sfDir))))
      if (rs.exists(_.error.nonEmpty)) { failed += name; None }
      else {
        val times = rs.map(_.wallS)
        println(s"BENCHONE $name reps=${times.map(f3).mkString(",")} min=${f3(times.min)}")
        Some(name -> times.min)
      }
    }
    if (args.length > 2) {
      val keysJson = mins
        .map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
      val errJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      val json =
        s"""{"sf":"$sfDir","cpus":${Harness.cpus},"reps":$reps,"date":"${java.time.LocalDate.now}",
           |"load_avg_start":${f3(loadStart)},"load_avg_end":${f3(Harness.load)},
           |"total_min_sec":${f3(mins.map(_._2).sum)},"n_keys":${mins.size},
           |"n_errors":${failed.size},"errors":$errJson,
           |"keys":$keysJson}""".stripMargin.replace("\n", "")
      java.nio.file.Files.write(java.nio.file.Paths.get(args(2)),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"WROTE ${args(2)} (${mins.size} keys, ${failed.size} errors)")
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
