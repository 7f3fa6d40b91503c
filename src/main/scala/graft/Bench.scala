package graft

/** Driver timing main: every registered key once, one JSON line at the end.
  *
  * The headline `value`/`queries` time the noop sink (`Harness.noop`, a full
  * materialization; count() lets Catalyst prune expression-shaped work and
  * benched the r16 percentile replan at a fraction of its compute). Each key
  * runs its noop leg first, cold, then a count() leg whose board total is
  * `count_sec`, kept so totals stay mappable to BENCH_r01–r16. The per-key
  * pair is printed as BENCHDUAL and written to /tmp/graft_bench_dual.json.
  *
  * `queries` are staging-excluded seconds: the first consumer of a staged
  * shared artifact (wshingle_df, oriented_adj, ...) would otherwise carry
  * the family's whole build cost and read as a regression. Staging is
  * reported as `staging_sec` plus the biggest per-key shares, so
  * value == sum(queries) + staging_sec stays the full wall.
  *
  * A failed key is loud: named in `errors`, and the exit code is 1.
  *
  * env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (see Harness)
  */
object Bench {
  def main(args: Array[String]): Unit = {
    import Harness.f3
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    Harness.warmup(spark, sfDir)
    val errors = scala.collection.mutable.LinkedHashSet[String]()
    val staging = scala.collection.mutable.LinkedHashMap[String, Double]()
    def leg(name: String)(action: => Unit): Double = {
      val r = Harness.run(spark, name)(action)
      if (r.error.nonEmpty) errors += name
      if (r.stagedS > 0.05) staging(name) = staging.getOrElse(name, 0.0) + r.stagedS
      math.max(0.0, r.wallS - r.stagedS)
    }
    val dual = SparkEntry.queries.map { case (name, fn) =>
      val noop = leg(name)(Harness.noop(fn(spark, sfDir)))
      val cnt = leg(name)(fn(spark, sfDir).count())
      name -> (cnt, noop)
    }
    val results = dual.map { case (k, (_, n)) => k -> n }
    val countTotal = dual.values.map(_._1).sum
    // printed before the final line, so the last 2000 chars of output
    // still end with the complete JSON line below
    val dualJson = dual.toSeq.sortBy(-_._2._2)
      .map { case (k, (c, n)) => "\"" + k + "\":[" + f3(c) + "," + f3(n) + "]" }
      .mkString("{", ",", "}")
    println(s"""BENCHDUAL {"metric":"count_vs_noop","unit":"sec","queries":$dualJson}""")
    try {
      val w = new java.io.PrintWriter("/tmp/graft_bench_dual.json")
      try w.println(s"""{"metric":"count_vs_noop","unit":"sec","cpus":${Harness.cpus},"sf":"$sfDir","queries":$dualJson}""")
      finally w.close()
    } catch { case _: Throwable => }
    // Only the LAST 2000 chars of output are parsed (BENCH_r02's
    // full-precision line was cut mid-JSON → parsed:null): 3-decimal
    // timings, the 40 slowest keys by name, the rest as other_sec, the
    // first 10 error names and the 8 biggest staging shares.
    val top = results.toSeq.sortBy(-_._2).take(40)
    val rest = results.size - top.size
    val otherSec = results.values.sum - top.map(_._2).sum
    val qs = top.map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val total = results.values.sum
    val load = f3(Harness.load)
    val errJson = errors.take(10).map("\"" + _ + "\"").mkString("[", ",", "]")
    val stagingTotal = T.stagingNanos.get() / 1e9
    val stJson = staging.toSeq.sortBy(-_._2).take(8)
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f3(total + stagingTotal)},"unit":"sec","queries":$qs,"n_queries":${results.size},"n_errors":${errors.size},"errors":$errJson,"n_omitted":$rest,"other_sec":${f3(otherSec)},"staging_sec":${f3(stagingTotal)},"staging":$stJson,"query_sec":${f3(total)},"count_sec":${f3(countTotal)},"load_avg":$load,"sf":"$sfDir"}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
