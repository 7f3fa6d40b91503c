package graft

/** Deterministic scale diagnostics for every registered key: per-query
  * task-metric totals — shuffle write/read bytes, disk+memory spill, scan
  * input bytes, executor CPU time, task count, per-task peak execution
  * memory — collected by a SparkListener across one measured board pass.
  *
  * WHY (r15): wall-clock on this shared box prices 1.3–1.6× drifts that
  * mask real regressions until they are 6–21× (the DECIMAL(38,0) hash
  * repricing was caught by luck against a same-day anchor — BASELINE.md).
  * Bytes moved and CPU-ns burned are load-immune: running the SAME build
  * at two SFs gives a per-key DECADE EXPONENT for shuffle volume and CPU
  * that flags super-linear work structurally, before it costs wall time.
  * At 100 TB the shuffle-bytes exponent IS the scalability contract: a key
  * whose shuffle grows at 10^1.3 per data decade is a cliff in waiting no
  * matter how fast today's box absorbs it. Interpretation caveats (the
  * non-stationary exponent classes, the broadcast→shuffle transition
  * step) are documented in BASELINE.md "second decade".
  *
  * Attribution (v2, `KeyMetrics`): each key's action runs under its own
  * job group and task metrics attribute by stage→job→group, so late-landing
  * task events from key A cannot bleed into key B. Tasks with no group
  * (streaming micro-batch threads) fall back to the currently-running key;
  * the final `late_unattributed_cpu_ms` in the JSON proves the fallback
  * stayed small.
  *
  * Method notes:
  *  - A full UNTIMED warm pass runs first so session-staged shared
  *    artifacts (pair-support parquet, oriented adjacency, dedup index)
  *    attribute to staging, not to whichever key alphabetically touches
  *    them first; the measured pass then prices steady reuse — the same
  *    discipline BenchOne's warm-up serves for wall time.
  *  - Task retries/speculation would double-count bytes; local[32] runs
  *    have none in practice and n_tasks makes any such run visible.
  *
  * usage: runMain graft.ScaleBytes <outJson> [keyFilter,comma,separated]
  * env:   SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (see Harness)
  * Pair two runs (sf0.01 vs sf0.1) with tools/scalebytes_diff.py.
  */
object ScaleBytes {
  def main(args: Array[String]): Unit = {
    val outPath = args(0)
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    val metrics = new KeyMetrics
    spark.sparkContext.addSparkListener(metrics)
    val board = Harness.board(args.lift(1))
    // untimed warm pass, outside any job group and with no fallback, so
    // none of it is charged: staging, codegen, page cache
    board.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => }
    }
    val rows = board.map { case (name, fn) =>
      metrics.fallback = name
      val r = Harness.run(spark, name)(fn(spark, sfDir).count())
      val m = metrics.drained(name)
      r -> f"""  "$name": {"shuf_w": ${m.shufW.get}, "shuf_r": ${m.shufR.get
        }, "spill_d": ${m.spillD.get}, "spill_m": ${m.spillM.get}, "input": ${
        m.input.get}, "cpu_ms": ${m.cpuNs.get / 1000000}, "tasks": ${
        m.tasks.get}, "peak_task_mem": ${m.peak.get}, "wall_s": ${r.wallS}%.3f}"""
    }
    metrics.fallback = "late_unattributed"
    val lateCpuMs = metrics("late_unattributed").cpuNs.get / 1000000
    val nErrors = rows.count(_._1.error.nonEmpty)
    val json = s"""{"sf": "$sfDir", "cpus": ${Harness.cpus}, "n_errors": ${
      nErrors}, "late_unattributed_cpu_ms": $lateCpuMs,
"keys": {
${rows.map(_._2).mkString(",\n")}
}}
"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    println(s"[scalebytes] wrote $outPath keys=${rows.size} errors=${
      nErrors} late_cpu_ms=$lateCpuMs")
    spark.stop()
    if (nErrors > 0) sys.exit(1)
  }
}
