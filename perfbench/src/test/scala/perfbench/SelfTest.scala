package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Tests of the benchmark's own logic.
  *
  * usage: python3 perfbench/run.py --self-test
  * (runs `perfbench.SelfTest <repo root>`; exit code 1 when any check fails)
  */
object SelfTest {
  private val results = mutable.ArrayBuffer.empty[(String, Option[String])]

  private def test(name: String)(body: => Unit): Unit = {
    val r = try { body; None } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    println(s"${if (r.isEmpty) "PASS" else "FAIL"} $name${r.map(" -- " + _).getOrElse("")}")
    results += name -> r
  }

  private def check(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  def main(args: Array[String]): Unit = {
    val root = if (args.nonEmpty) args(0) else "."

    test("quantile interpolates linearly between order statistics") {
      check(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.5, "median of 1..4")
      check(Stats.quantile(Seq(7.0), 0.9) == 7.0, "single sample")
      check(math.abs(Stats.quantile((1 to 10).map(_.toDouble), 0.9) - 9.1) < 1e-12, "p90 of 1..10")
    }

    test("p90 is reported only with at least 10 samples above it") {
      // with linear interpolation, 92 distinct samples are the fewest that
      // leave 10 strictly above p90 (p90 of 1..92 is 82.9)
      val xs = (1 to 92).map(_.toDouble)
      val p90 = Stats.tailQuantile(xs, 0.9)
      check(p90.isDefined, "92 samples leave 10 above p90")
      check(xs.count(_ > p90.get) == 10, s"samples above ${p90.get}")
      check(Stats.tailQuantile(xs.take(91), 0.9).isEmpty, "91 samples leave 9 above p90")
      check(Stats.tailQuantile(Seq.empty, 0.9).isEmpty, "no samples")
      // ties at the top: all values equal leaves nothing strictly above
      check(Stats.tailQuantile(Seq.fill(500)(1.0), 0.9).isEmpty, "constant sample")
    }

    test("an op that throws and an op with a corrupted fingerprint both count as failed") {
      val pins = Map("a" -> Fingerprint(3, "10"), "b" -> Fingerprint(1, "5"), "c" -> Fingerprint(2, "7"))
      val got = Map("a" -> Some(Fingerprint(3, "10")), "b" -> Some(Fingerprint(1, "5")),
        "c" -> Some(Fingerprint(2, "8")))
      val bad = Accounting.mismatched(pins, got)
      check(bad == Set("c"), s"mismatched keys $bad")
      val ops = Seq(Accounting.OpRecord("a", threw = false), Accounting.OpRecord("b", threw = true),
        Accounting.OpRecord("c", threw = false), Accounting.OpRecord("a", threw = false))
      check(Accounting.failed(ops, bad) == 2, s"failed = ${Accounting.failed(ops, bad)}")
      check(Accounting.mismatched(pins, Map("a" -> None)) == Set("a"), "a check that threw")
      check(Accounting.mismatched(Map.empty, Map("a" -> Some(Fingerprint(3, "10")))) == Set("a"),
        "a key without a pin")
    }

    test("node-leading Exchange count ignores ReusedExchange, BroadcastExchange and the initial plan") {
      val plan =
        """AdaptiveSparkPlan isFinalPlan=true
          |+- == Final Plan ==
          |   *(3) Sort [k#1 ASC NULLS FIRST], true, 0
          |   +- ShuffleQueryStage 2
          |      +- Exchange rangepartitioning(k#1 ASC NULLS FIRST, 4), ENSURE_REQUIREMENTS, [plan_id=9]
          |         +- *(2) BroadcastHashJoin [k#1], [k#2], Inner, BuildRight, false
          |            :- ShuffleQueryStage 0
          |            :  +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=3]
          |            :     +- LocalTableScan [k#1]
          |            +- BroadcastQueryStage 1
          |               +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, true]),false), [plan_id=5]
          |                  +- ReusedExchange [k#2], Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=3]
          |+- == Initial Plan ==
          |   Sort [k#1 ASC NULLS FIRST], true, 0
          |   +- Exchange rangepartitioning(k#1 ASC NULLS FIRST, 4), ENSURE_REQUIREMENTS, [plan_id=7]
          |      +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=6]""".stripMargin
      check(PlanText.shuffles(plan) == 2, s"synthetic plan: ${PlanText.shuffles(plan)}")
      check(PlanText.leadingToken("   :  +- *(12) Exchange x") == "Exchange", "codegen prefix")
      check(PlanText.leadingToken("+- ReusedExchange [a], Exchange h") == "ReusedExchange", "reused")
      val file = Paths.get(root, "plans", "r17", "dedup_near_minhash_after.txt")
      val text = new String(Files.readAllBytes(file), "UTF-8")
      val substring = text.split("\n").count(_.contains("Exchange hashpartitioning"))
      check(text.contains("ReusedExchange") && substring > 6, "the plan embeds reused exchanges")
      check(PlanText.shuffles(text) == 6, s"r17 minhash final plan: ${PlanText.shuffles(text)}")
    }

    test("self time subtracts the union of overlapping children, clipped to the parent") {
      val t = new Tracer(cores = 1)
      t.spans ++= Seq(Span(0, -1, "op", 0, 0L, 100L), Span(1, 0, "job", 0, 10L, 40L),
        Span(2, 0, "job", 0, 30L, 60L), Span(3, 0, "job", 0, 90L, 120L), Span(4, 1, "stage", 0, 10L, 40L))
      val self = t.selfTimes()
      check(self(0) == 40, s"op self ${self(0)}") // 100 - [10,60) - [90,100)
      check(self(1) == 0 && self(2) == 30, s"job self ${self(1)}, ${self(2)}")
    }

    test("listener drain gives up after about 2 s and reports what it did not drain") {
      val r = Drain.await(0L, _ => (), () => -1L, () => 3L)
      check(!r.drained, "a marker that never arrives is not drained")
      check(r.waitedMs >= 1900 && r.waitedMs < 3000, s"waited ${r.waitedMs} ms")
      check(r.undrained == 3, s"undrained ${r.undrained}")
      var seen = -1L
      val ok = Drain.await(5L, s => seen = s, () => seen, () => 99L)
      check(ok.drained && ok.undrained == 0 && ok.waitedMs < 500, s"delivered marker: $ok")
    }

    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.warehouse.dir", Files.createTempDirectory("pb_wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      test("fingerprint ignores row order and catches one changed value") {
        val df = spark.range(0, 1000).select(col("id"), (col("id") % 7).as("g"),
          concat(lit("v"), col("id").cast("string")).as("s"))
        val fp = Main.fingerprint(df)
        check(fp.rows == 1000, s"rows ${fp.rows}")
        check(Main.fingerprint(df.orderBy(col("id").desc).repartition(3)) == fp, "order-insensitive")
        val changed = df.withColumn("g", when(col("id") === 500, lit(99L)).otherwise(col("g")))
        val bad = Accounting.mismatched(Map("k" -> fp), Map("k" -> Some(Main.fingerprint(changed))))
        check(bad == Set("k"), "a changed value is a mismatch")
      }

      test("tracer attributes a traced op's jobs, tasks, planner phases and shuffles") {
        val t = new Tracer(cores = 2)
        val sc = spark.sparkContext
        sc.addSparkListener(t)
        spark.listenerManager.register(t)
        def mark(kind: String): Unit = org.apache.spark.perfbench.Bus.post(sc,
          Mark(t.nextSeq(), kind, 0, "q", 0, System.currentTimeMillis(), Map("wall_s" -> 0.0)))
        mark("pass")
        mark("op")
        mark("run")
        sc.setJobGroup(Tracer.group(0, "run"), "q", interruptOnCancel = false)
        spark.range(0, 10000).groupBy(col("id") % 10).count()
          .write.format("noop").mode("overwrite").save()
        sc.clearJobGroup()
        mark("end")
        mark("pass_end")
        val r = Drain.await(t.nextSeq(), s => org.apache.spark.perfbench.Bus.post(sc,
          Mark(s, "drain", -1, "", -1, 0L, Map.empty)), () => t.lastSeen, () => t.pending)
        check(r.drained, s"drain $r")
        val m = t.passTotals(0)
        check(m.getOrElse("executor.jobs", 0.0) >= 1, s"jobs $m")
        check(m.getOrElse("executor.tasks", 0.0) >= 2, s"tasks $m")
        check(m.getOrElse("planner.optimizer_s", -1.0) >= 0 && m.contains("planner.planning_s"), s"phases $m")
        check(m.getOrElse("planner.shuffles", 0.0) >= 1, s"shuffles $m")
        val names = t.spans.map(_.name).toSet
        check(Set("pass", "op:q", "ops.build", "executor.job", "executor.stage").subsetOf(names),
          s"span names $names")
        check(t.spanLines().forall(_.startsWith("{")), "spans render as JSON lines")
      }
    } finally spark.stop()

    val failed = results.count(_._2.isDefined)
    println(s"${results.size - failed} passed, $failed failed")
    if (failed > 0) sys.exit(1)
  }
}
