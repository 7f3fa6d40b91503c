package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One measured key: wall seconds of its action, the part of that wall
  * spent building shared staged artifacts (`T.stagingNanos`), and the
  * failure if the action threw. */
final case class KeyRun(key: String, wallS: Double, stagedS: Double,
                        error: Option[Throwable])

/** What the measurement and dump mains (Bench, BenchOne, PlanSweep,
  * ScaleBytes, Verify) share: the environment they read, the session they
  * run in, and the per-key runner. Each main keeps only its arguments and
  * its output format.
  *
  * env: SPARK_GRAFT_SF_DIR (default sf0.1; Verify takes its own),
  *      SPARK_GRAFT_CPUS (default: the cores the JVM sees),
  *      SPARK_GRAFT_MASTER / SPARK_GRAFT_EXEC_CP / SPARK_GRAFT_EXEC_MEM
  *      (local-cluster runs, see `session`).
  */
object Harness {
  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `Graft.session` on `cpus` cores. SPARK_GRAFT_MASTER swaps in a
    * `local-cluster[n,cores,memMB]` master (separate executor JVMs: the
    * custom expressions, exchanges, broadcasts and shuffles cross process
    * boundaries). Those executors are launched from the Spark dist and know
    * nothing of this classpath, so the classes dir rides
    * SPARK_GRAFT_EXEC_CP, memory SPARK_GRAFT_EXEC_MEM, and the JDK 17
    * --add-opens (not injected for forked executors in 4.1.2; Platform
    * unaligned reflection and Arrow/Unsafe access fail without them) ride
    * the executor java options. */
  def session(): SparkSession = {
    val master = sys.env.get("SPARK_GRAFT_MASTER")
    val conf = master.map("spark.master" -> _) ++
      sys.env.get("SPARK_GRAFT_EXEC_CP").map("spark.executor.extraClassPath" -> _) ++
      sys.env.get("SPARK_GRAFT_EXEC_MEM").map("spark.executor.memory" -> _) ++
      master.filter(_.startsWith("local-cluster")).map(_ =>
        "spark.executor.extraJavaOptions" ->
          org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions())
    val s = Graft.session(cores = cpus, conf = conf.toMap)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Registered keys, optionally narrowed by a comma-separated filter
    * (unknown names select nothing). */
  def board(only: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val keep = only.map(_.split(",").toSet)
    SparkEntry.queries.toSeq.filter { case (k, _) => keep.forall(_.contains(k)) }
  }

  /** Untimed warm-up: JIT, whole-stage-codegen compile and parquet reader
    * init land here instead of inside the first measured key. */
  def warmup(spark: SparkSession, sfDir: String): Unit =
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.groupBy("l_returnflag").count().count()
      li.limit(1000).orderBy("l_orderkey").count()
    } catch { case _: Throwable => }

  /** Full materialization of every column of every row. `count()` lets
    * Catalyst prune expression-shaped work (exact percentiles, sorted
    * arrays, sketches), so it under-prices those keys. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Run `action` for `key` under job group `key`, so `KeyMetrics` can
    * charge its jobs and tasks to it. A failure is returned, not thrown,
    * and printed at once: a key that throws must never pass for a fast
    * one (r9's fixture drift broke 64 keys behind a clean exit code). */
  def run(spark: SparkSession, key: String)(action: => Unit): KeyRun = {
    val sc = spark.sparkContext
    sc.setJobGroup(key, key)
    val s0 = T.stagingNanos.get()
    val t0 = System.nanoTime()
    val error = try { action; None } catch { case e: Throwable =>
      System.err.println(s"[run] $key failed: ${e.getClass.getSimpleName}: " +
        String.valueOf(e.getMessage).take(200))
      Some(e)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    sc.clearJobGroup()
    KeyRun(key, wall, (T.stagingNanos.get() - s0) / 1e9, error)
  }

  def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** 1-min load average: this box carries heavy external load, so the
    * context is part of every timing record. */
  def load: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}

/** Per-job-group metrics: jobs started, and task totals (shuffle bytes
  * written/read, disk/memory spill, scan input bytes, executor CPU, task
  * count, peak per-task execution memory).
  *
  * Attribution: each job is charged to the job group it was submitted
  * under, each stage to its job, each task to its stage, so late-landing
  * task events from one key cannot bleed into the next key's totals (the
  * v1 defect that read full-board CPU up to 6x high for sub-second keys).
  * A task whose stage has no group (streaming micro-batch threads do not
  * always inherit the group property) goes to `fallback`, or is dropped
  * while `fallback` is null.
  */
final class KeyMetrics extends SparkListener {
  import KeyMetrics.Totals
  private val groups = new ConcurrentHashMap[String, Totals]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  @volatile var fallback: String = _

  def apply(group: String): Totals = groups.computeIfAbsent(group, _ => new Totals)

  override def onJobStart(j: SparkListenerJobStart): Unit =
    Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        apply(g).jobs.incrementAndGet()
        j.stageIds.foreach(stageGroup.put(_, g))
      }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(t.stageId, fallback)
    if (t.taskMetrics != null && g != null) apply(g).add(t.taskMetrics)
  }

  /** `group`'s totals once its async listener events have drained. */
  def drained(group: String): Totals = {
    KeyMetrics.drain(apply(group).snap)
    apply(group)
  }
}

object KeyMetrics {
  final class Totals {
    val jobs, shufW, shufR, spillD, spillM, input, cpuNs, tasks, peak =
      new AtomicLong
    def add(tm: TaskMetrics): Unit = {
      shufW.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
      shufR.addAndGet(tm.shuffleReadMetrics.totalBytesRead)
      spillD.addAndGet(tm.diskBytesSpilled)
      spillM.addAndGet(tm.memoryBytesSpilled)
      input.addAndGet(tm.inputMetrics.bytesRead)
      cpuNs.addAndGet(tm.executorCpuTime)
      tasks.incrementAndGet()
      peak.getAndUpdate(p => math.max(p, tm.peakExecutionMemory))
    }
    def snap: Seq[Long] = Seq(jobs.get, shufW.get, shufR.get, spillD.get,
      spillM.get, input.get, cpuNs.get, tasks.get)
  }

  /** Poll `read` every 50 ms until two polls in a row see no change, or
    * 5 s have passed; return the last value read. The listener bus
    * is async and its drain call is private[spark], so quiet polling is the
    * public substitute, and the deadline bounds it for a value that never
    * settles. */
  def drain[A](read: => A): A = {
    val deadline = System.nanoTime() + 5000000000L
    var last = read
    var quiet = 0
    while (quiet < 2 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val cur = read
      if (cur == last) quiet += 1 else { quiet = 0; last = cur }
    }
    last
  }
}
