package graft

/** Executed-plan sweep: run each registered key once, dump its AQE-final
  * plan to `<outDir>/<key>.txt`, and print one machine-greppable SWEEP line
  * per key with the operator counts that matter for the optimization audit
  * (see `counts`) — stragglers become mechanically findable instead of
  * depending on which keys someone thought to read. `jobs=` counts the
  * Spark jobs the key's collect fires (the 32-core anti-scalers are
  * many-small-jobs shapes: each job is a scheduler round trip that data
  * size never amortizes at fixture scale).
  *
  * usage: runMain graft.PlanSweep [outDir] [key,key,...]
  * env:   SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (see Harness)
  */
object PlanSweep {
  /** Operator counts of an executed-plan string, in SWEEP line order.
    * `ex=` counts real shuffle exchanges only; `reex=`/`bex=` count reused
    * and broadcast exchanges. All three count the node that leads a plan
    * line: a ReusedExchange line also quotes the text of the exchange it
    * reuses, which must not count a second time. */
  def counts(plan: String): Seq[(String, Int)] = {
    def node(op: String) = s"(?m)^[ :+-]*$op\\b".r.findAllIn(plan).length
    def c(pat: String) = pat.r.findAllIn(plan).length
    Seq("ex" -> node("Exchange"), "reex" -> node("ReusedExchange"),
      "bex" -> node("BroadcastExchange"), "smj" -> c("SortMergeJoin"),
      "cart" -> c("CartesianProduct"), "bnlj" -> c("BroadcastNestedLoopJoin"),
      "oha" -> c("ObjectHashAggregate"), "gen" -> c("Generate"),
      "sort" -> c("\\bSort\\b"), "win" -> c("Window"),
      "bhj" -> c("BroadcastHashJoin"))
  }

  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "/tmp/plans_all"
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    val metrics = new KeyMetrics
    spark.sparkContext.addSparkListener(metrics)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val errors = Harness.board(args.lift(1)).flatMap { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // collect, not count: finalizes this Dataset's adaptive plan
        val r = Harness.run(spark, name)(df.collect())
        r.error.foreach(throw _)
        val jobs = metrics.drained(name).jobs.get
        val plan = df.queryExecution.executedPlan.toString
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$name.txt"),
          s"== $name @ $sfDir wall=${"%.2f".format(r.wallS)}s jobs=$jobs\n\n" + plan)
        println(f"SWEEP $name%-36s wall=${r.wallS}%6.2f jobs=$jobs " +
          counts(plan).map { case (k, v) => s"$k=$v" }.mkString(" "))
        None
      } catch { case e: Throwable =>
        println(s"SWEEP $name FAILED ${e.getClass.getSimpleName}")
        Some(name)
      }
    }
    println(s"SWEEP DONE errors=${errors.size} ${errors.take(10).mkString(",")}")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
