package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Exec, Graft, SparkEntry, T}
import graft.sources.AvroIO

/** The benchmark's JVM side: set-up, timed passes, the traced run's
  * layer attribution and the untimed correctness checks. It writes one JSON
  * result file; `run.py` adds the DuckDB checks and prints the result line.
  *
  * usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --work DIR --out FILE --pins FILE [--spans FILE]
  *          [--mode run|pin]
  */
object Main {

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String, d: String): String = kv.getOrElse(k, d)
    def workload: Workload = Workloads.byName(this("workload"))
    def seed: Long = this("seed").toLong
    def seconds: Double = this("seconds").toDouble
    def trace: Boolean = get("trace", "0") == "1"
    def work: String = this("work")
    /** `local[cores]`: the benchmark always uses every core the JVM sees. */
    def cores: Int = Runtime.getRuntime.availableProcessors()
    def mode: String = get("mode", "run")
  }

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, "arguments come in --name value pairs")
    Args(argv.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"expected --name, got $k"); k.drop(2) -> v
    }.toMap)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Row count plus the decimal sum of a 64-bit hash of every row's JSON
    * rendering: independent of row order and partitioning, sensitive to
    * any changed value. Columns are renamed positionally first, so
    * duplicate or dotted output names are harmless. */
  def fingerprint(df: DataFrame): Fingerprint = {
    val names = df.columns.indices.map(i => s"c$i")
    val h = xxhash64(to_json(struct(names.map(col): _*)))
    val r = df.toDF(names: _*).select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    Fingerprint(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** Layer metrics only some workloads produce (registry keys never run a
    * script; bulk-load scripts have no build function). */
  val UnusedLayers: Seq[String] = Seq("ops.build_s", "ops.build_jobs",
    "planner.analysis_s", "planner.optimizer_s", "planner.planning_s", "planner.shuffles",
    "executor.failed_tasks", "Exec.ctas_s", "Exec.insert_s", "Exec.audit_s", "Exec.drop_s",
    "Exec.stmts_failed", "sources.avro_write_s", "sources.avro_read_s")

  def readPins(path: String): Map[String, Fingerprint] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(_.split("\t")).map(f => f(0) -> Fingerprint(f(1).toLong, f(2))).toMap

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap in use after a full collection: the live set the run keeps. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  final case class Timed(key: String, wallS: Double, error: Option[String])

  final case class Audit(plan: Bulk.Plan, liRows: Long, liQty: String, liPrice: String,
                         ordRows: Long, ordPrice: String)

  /** Runs ops against one session; `tracer` is set only for traced passes. */
  final class Runner(a: Args, val spark: SparkSession, dir: String) {
    private val registry = SparkEntry.queries
    private val sc = spark.sparkContext
    var tracer: Option[Tracer] = None
    private var nextOp = 0
    /** Driver-side layer sums of the current pass (Exec, sources). */
    val acc: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)

    def mark(kind: String, op: Int = -1, key: String = "", pass: Int = -1,
             values: Map[String, Double] = Map.empty): Unit =
      tracer.foreach { t =>
        org.apache.spark.perfbench.Bus.post(sc,
          Mark(t.nextSeq(), kind, op, key, pass, System.currentTimeMillis(), values))
      }

    /** Wait (bounded) until the tracer has seen every event posted so far. */
    def drain(): Drain.Result = tracer match {
      case Some(t) => Drain.await(t.nextSeq(),
        s => org.apache.spark.perfbench.Bus.post(sc,
          Mark(s, "drain", -1, "", -1, System.currentTimeMillis(), Map.empty)),
        () => t.lastSeen, () => t.pending)
      case None => Drain.Result(drained = true, 0L, 0L)
    }

    private def timed(key: String, pass: Int)(body: Int => Unit): Timed = {
      val op = nextOp
      nextOp += 1
      mark("op", op, key, pass)
      val t0 = System.nanoTime()
      val err = try { body(op); None } catch {
        case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally sc.clearJobGroup()
      val wall = secs(t0)
      mark("end", op, key, pass, Map("wall_s" -> wall))
      Timed(key, wall, err)
    }

    /** One registry op: build the key's DataFrame, then materialize every
      * column of every row into the noop sink. */
    def key(k: String, pass: Int): Timed = timed(k, pass) { op =>
      sc.setJobGroup(Tracer.group(op, "build"), k, interruptOnCancel = false)
      val s0 = T.stagingNanos.get()
      val t0 = System.nanoTime()
      val df = registry(k)(spark, dir)
      val build = secs(t0)
      val staged = (T.stagingNanos.get() - s0) / 1e9
      val analysis = df.queryExecution.tracker.phases.get("analysis")
      val analysisS = analysis.map(_.durationMs / 1000.0).getOrElse(0.0)
      mark("run", op, k, pass, Map(
        "T.staged_s" -> staged,
        "ops.build_s" -> math.max(0.0, build - staged - analysisS),
        "planner.analysis_s" -> analysisS) ++
        analysis.map(p => "analysis_start_ms" -> p.startTimeMs.toDouble))
      sc.setJobGroup(Tracer.group(op, "run"), k, interruptOnCancel = false)
      df.write.format("noop").mode("overwrite").save()
    }

    private def stmt(kind: String, sql: String): Unit = {
      val t0 = System.nanoTime()
      val res = Exec.runScript(spark, sql, Exec.AbortOnError)
      acc(s"Exec.${kind}_s") += secs(t0)
      val bad = res.filterNot(_.ok)
      if (bad.nonEmpty) {
        acc("Exec.stmts_failed") += bad.size
        throw new IllegalStateException(s"$kind failed: ${bad.head.error.getOrElse("")}")
      }
    }

    /** One bulk-load script; returns the op timing and its audit. */
    def script(p: Bulk.Plan, pass: Int): (Timed, Option[Audit]) = {
      var audit: Option[Audit] = None
      val (li, ord) = ("pb_lineitem", "pb_orders")
      val t = timed("bulk_script", pass) { op =>
        mark("run", op, "bulk_script", pass)
        sc.setJobGroup(Tracer.group(op, "run"), "bulk_script", interruptOnCancel = false)
        try {
          Bulk.load(p, li, ord).foreach { case (kind, sql) => stmt(kind, sql) }
          val t0 = System.nanoTime()
          val Seq(l, o) = Bulk.audits(li, ord).map(q => Graft.sql(spark, q).collect().head)
          acc("Exec.audit_s") += secs(t0)
          audit = Some(Audit(p, l.getLong(0), l.getString(1), l.getString(2),
            o.getLong(0), o.getString(1)))
          Bulk.drop(li, ord).foreach { case (kind, sql) => stmt(kind, sql) }
        } finally Seq(li, ord).foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
      }
      (t, audit)
    }

    /** AvroIO write/read round trip of `customer`; true when the read-back
      * rows match the source exactly (checked untimed). */
    def avro(pass: Int): Boolean = {
      val out = s"${a.work}/avro/p$pass"
      val cust = spark.table("customer")
      var t0 = System.nanoTime()
      val n = AvroIO.writeAvro(cust, out, "c_custkey", a.cores)
      acc("sources.avro_write_s") += secs(t0)
      t0 = System.nanoTime()
      AvroIO.readAvro(spark, out, cust.schema).write.format("noop").mode("overwrite").save()
      acc("sources.avro_read_s") += secs(t0)
      val ok = try fingerprint(AvroIO.readAvro(spark, out, cust.schema)) == fingerprint(cust)
        catch { case _: Throwable => false }
      deleteTree(out)
      ok && n == cust.count()
    }
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(f => Files.deleteIfExists(f))
  }

  /** What one pass did. */
  final case class Pass(index: Int, traced: Boolean, wallS: Double, ops: Seq[Timed],
                        rows: Long, layers: Map[String, Double], audits: Seq[Audit],
                        avroOk: Boolean)

  def runPass(r: Runner, w: Workload, seed: Long, p: Int, pins: Map[String, Fingerprint],
              loadAvg: => Double): Pass = {
    r.acc.clear()
    val gc0 = gcMs()
    r.mark("pass", pass = p)
    val t0 = System.nanoTime()
    val (ops, audits, avroOk) = w match {
      case Registry(_, _, keys) =>
        (Workloads.order(keys, seed, p).map(k => r.key(k, p)), Seq.empty[Audit], true)
      case BulkLoad(_, _, n) =>
        val res = (0 until n).map(j => r.script(Bulk.plan(seed, p, j), p))
        (res.map(_._1), res.flatMap(_._2), r.avro(p))
    }
    val wall = secs(t0)
    r.mark("pass_end", pass = p)
    val gcS = (gcMs() - gc0) / 1000.0
    val rows = w match {
      case Registry(_, _, keys) => keys.flatMap(pins.get).map(_.rows).sum
      case _ => audits.map(x => x.liRows + x.ordRows).sum
    }
    val layers = r.acc.toMap ++ Map("jvm.gc_s" -> gcS, "jvm.heap_after_gc_mb" -> heapAfterGcMb(),
      "jvm.load_avg1" -> loadAvg)
    Pass(p, r.tracer.isDefined, wall, ops, rows, layers, audits, avroOk)
  }

  def main(argv: Array[String]): Unit = {
    val mainT0 = System.nanoTime()
    val a = parse(argv)
    val w = a.workload
    val pins = readPins(a("pins"))
    val os = ManagementFactory.getOperatingSystemMXBean
    def loadAvg = os.getSystemLoadAverage
    val dataDir = s"${a("data")}/${w.data}"

    // ---- set-up, from JVM main entry: session, tables, warm-up query and
    // one cold pass. Only the first set-up in a JVM pays class loading, the
    // JIT and first codegen, so the run sets up once and reports that.
    val coldErrors = mutable.LinkedHashMap.empty[String, String]
    val spark = session(a)
    Graft.registerTables(spark, dataDir)
    spark.table("lineitem").groupBy("l_returnflag").count().collect()
    val r = new Runner(a, spark, dataDir)
    val s0 = T.stagingNanos.get()
    runPass(r, w, a.seed, -1, pins, loadAvg).ops
      .foreach(o => o.error.foreach(coldErrors(o.key) = _))
    val setupS = secs(mainT0)
    val stagedS = (T.stagingNanos.get() - s0) / 1e9

    if (a.mode == "pin") { pin(a, w, r); spark.stop(); return }

    // one untimed warm pass: without it the first timed pass runs ~10%
    // slower while the JIT finishes compiling. On registry workloads it is
    // also the correctness check: every key is built again and its result
    // fingerprinted, which runs the same plans the timed passes run.
    val badKeys: Set[String] = w match {
      case Registry(_, _, keys) =>
        val got = Workloads.order(keys, a.seed, -2).map { k =>
          k -> (try Some(fingerprint(SparkEntry.queries(k)(spark, dataDir)))
                catch { case _: Throwable => None })
        }.toMap
        Accounting.mismatched(pins, got)
      case _ =>
        runPass(r, w, a.seed, -2, pins, loadAvg).ops
          .foreach(o => o.error.foreach(coldErrors(o.key) = _))
        Set.empty
    }

    // ---- timed passes ----------------------------------------------------
    val tracer = if (a.trace) Some(new Tracer(a.cores)) else None
    val minPasses = if (a.trace) 4 else 3
    val passes = mutable.ArrayBuffer.empty[Pass]
    val drains = mutable.ArrayBuffer.empty[Drain.Result]
    val window0 = System.nanoTime()
    while (passes.size < minPasses || (secs(window0) < a.seconds && passes.size < 200)) {
      val p = passes.size
      // traced runs interleave untraced and traced passes as U T T U ..., so
      // a speed drift across the window (JIT still warming) weighs on both
      // sides alike; the difference of their medians is the tracing overhead
      val traced = tracer.filter(_ => p % 4 == 1 || p % 4 == 2)
      traced.foreach { t => spark.sparkContext.addSparkListener(t); spark.listenerManager.register(t) }
      r.tracer = traced
      val pass = runPass(r, w, a.seed, p, pins, loadAvg)
      traced.foreach { t =>
        drains += r.drain()
        spark.sparkContext.removeSparkListener(t)
        spark.listenerManager.unregister(t)
      }
      r.tracer = None
      passes += pass
    }
    val windowS = secs(window0)

    // ---- failures ------------------------------------------------------------
    val allOps = passes.flatMap(_.ops)
    val records = allOps.map(o => Accounting.OpRecord(o.key, o.error.isDefined))
    val avroFailed = passes.count(!_.avroOk)
    val failed = Accounting.failed(records.toSeq, badKeys) + avroFailed
    val attempted = records.size + (if (w.isInstanceOf[BulkLoad]) passes.size else 0)

    // ---- metrics -----------------------------------------------------------
    val plain = passes.filterNot(_.traced)
    val lat = allOps.filter(_.error.isEmpty).map(_.wallS).toSeq
    val p90 = Stats.tailQuantile(lat, 0.9)
    val p90Any = if (lat.isEmpty) Double.NaN else Stats.quantile(lat, 0.9)
    val e2e = Seq(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(plain.map(_.wallS).toSeq),
      "op_p50_s" -> (if (lat.isEmpty) Double.NaN else Stats.median(lat)),
      "rows_per_s" -> Stats.median(plain.map(p => p.rows / p.wallS).toSeq),
      "heap_peak_mb" -> plain.map(_.layers("jvm.heap_after_gc_mb")).max)
    val extra = Seq(
      "op_p90_s" -> p90.getOrElse(Double.NaN),
      "op_samples" -> lat.size.toDouble,
      "op_samples_above_p90" -> lat.count(_ > p90Any).toDouble,
      "failed_frac" -> failed.toDouble / math.max(1, attempted),
      "passes" -> passes.size.toDouble,
      "window_s" -> windowS)

    val layers: Seq[(String, Double)] = tracer.map { t =>
      val traced = passes.filter(_.traced)
      val perPass = traced.map(p => t.passTotals(p.index) ++ p.layers)
      val names = perPass.flatMap(_.keys).distinct.sorted
      val med = names.map(n => n -> Stats.median(perPass.map(_.getOrElse(n, 0.0)).toSeq)).toMap
      val tasks = med.getOrElse("executor.tasks", 0.0)
      val computed = (med - "executor.empty_tasks" - "wall_s") ++ Seq(
        "executor.empty_task_frac" -> (if (tasks > 0) med.getOrElse("executor.empty_tasks", 0.0) / tasks else 0.0),
        "T.staged_s" -> stagedS,
        "trace.overhead_s" -> (Stats.median(traced.map(_.wallS).toSeq) - Stats.median(plain.map(_.wallS).toSeq)),
        "trace.undrained_events" -> drains.map(_.undrained).sum.toDouble,
        "unattributed_s" -> (med.getOrElse("executor.dispatch_s", 0.0) - med.getOrElse("ops.build_s", 0.0)))
      // a layer the workload never enters reads 0 rather than going missing
      (UnusedLayers.map(_ -> 0.0).toMap ++ computed).toSeq.sortBy(_._1)
    }.getOrElse(Seq.empty)
    tracer.foreach { t =>
      a.kv.get("spans").foreach { f =>
        Files.write(Paths.get(f), t.spanLines().asJava)
      }
    }

    def nums(xs: Seq[(String, Double)]) = Json.obj(xs.map { case (k, v) => k -> Json.num(v) })
    val audits = passes.flatMap(_.audits).map { x =>
      Json.obj(Seq(
        "li" -> x.plan.li.mkString("[", ",", "]"), "ord" -> x.plan.ord.mkString("[", ",", "]"),
        "li_rows" -> x.liRows.toString, "li_qty" -> Json.str(x.liQty),
        "li_price" -> Json.str(x.liPrice), "ord_rows" -> x.ordRows.toString,
        "ord_price" -> Json.str(x.ordPrice)))
    }
    val errors = allOps.flatMap(o => o.error.map(e => s"${o.key}: $e")).distinct.take(20)
    val json = Json.obj(Seq(
      "workload" -> Json.str(w.name),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "bad_keys" -> badKeys.toSeq.sorted.map(Json.str).mkString("[", ",", "]"),
      "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
      "cold_errors" -> coldErrors.map { case (k, e) => Json.str(s"$k: $e") }.mkString("[", ",", "]"),
      "e2e" -> nums(e2e),
      "extra" -> nums(extra),
      "layers" -> nums(layers),
      "pass_walls_s" -> passes.map(p => Json.num(p.wallS)).mkString("[", ",", "]"),
      "key_median_s" -> nums(allOps.groupBy(_.key).toSeq.sortBy(_._1)
        .map { case (k, os) => k -> Stats.median(os.map(_.wallS).toSeq) }),
      "audits" -> audits.mkString("[", ",", "]")))
    Files.writeString(Paths.get(a("out")), json)
    spark.stop()
  }

  /** Pin mode: fingerprint every key twice (the two must agree, or the key
    * is not deterministic enough to pin) and write the pins file. */
  def pin(a: Args, w: Workload, r: Runner): Unit = w match {
    case Registry(_, _, keys) =>
      val lines = keys.map { k =>
        val fn = SparkEntry.queries(k)
        val dir = s"${a("data")}/${w.data}"
        val f1 = fingerprint(fn(r.spark, dir))
        val f2 = fingerprint(fn(r.spark, dir))
        require(f1 == f2, s"$k: fingerprint not reproducible ($f1 vs $f2)")
        val wall = Seq(r.key(k, 0), r.key(k, 0)).map(_.wallS).min
        println(f"PIN $k%-40s rows=${f1.rows}%8d warm_s=$wall%.3f")
        s"$k\t${f1.rows}\t${f1.hash}"
      }
      Files.write(Paths.get(a("out")), lines.asJava)
    case _ => sys.error("pin mode is for registry workloads")
  }
}
