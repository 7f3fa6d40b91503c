package perfbench

import scala.util.Random

/** The benchmark's workloads: which engine calls one pass makes. */
sealed trait Workload {
  def name: String
  /** Table set the workload reads (a directory name under the data root). */
  def data: String
}

/** Registry keys run through `SparkEntry.queries`; the seed permutes their
  * order in every pass. */
final case class Registry(name: String, data: String, keys: Seq[String]) extends Workload

/** dbexec-shaped load scripts through `Exec.runScript` plus one Avro round
  * trip per pass; the seed picks the data slices each script loads. */
final case class BulkLoad(name: String, data: String, scripts: Int) extends Workload

object Workloads {

  /** Relational-family keys (agg, window, join, scalar, set ops, filters,
    * subqueries, scans, sorts, UDF surfaces, nested types): execution is
    * milliseconds at this size, so wall time is planning plus dispatch. */
  val relational: Seq[String] = Seq(
    "agg_time_decay_engagement", "agg_quantiles_disc", "window_rolling_corr",
    "join_interval_overlap", "scalar_uuid_funcs", "subquery_exists_rewrite",
    "udaf_typed_aggregator", "json_funcs")

  /** Heavy pipeline keys: an iterative checkpoint loop (pagerank), an
    * iterative ml fit (k-means), and two consumers of the staged shingle
    * index, one verifying with the codegen'd `sorted_intersect_count`
    * (ngram_jaccard), one with MinHash-LSH band candidates (near_minhash). */
  val pipeline: Seq[String] = Seq("graph_pagerank", "ml_kmeans_lloyd",
    "dedup_ngram_jaccard", "dedup_near_minhash")

  val all: Seq[Workload] = Seq(
    Registry("relational_small", "sf0.01", relational),
    Registry("pipeline_heavy", "sf0.1", pipeline),
    BulkLoad("bulk_load", "sf0.01", scripts = 2))

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))

  /** Pass `pass`'s op order: a seeded permutation, so every pass runs the
    * same ops and only the order depends on the seed. */
  def order[A](xs: Seq[A], seed: Long, pass: Int): Seq[A] =
    new Random(seed * 1000003L + pass).shuffle(xs)
}

/** The bulk-load script. Lineitem and orders are cut into `Slices` slices
  * by key modulo; each script CTAS-loads two slices of each table into
  * partitioned parquet tables, appends one more slice with INSERT INTO,
  * audits count and decimal sums, and drops the tables. */
object Bulk {
  val Slices = 16

  final case class Plan(liLoad: Seq[Int], liAppend: Int, ordLoad: Seq[Int], ordAppend: Int) {
    def li: Seq[Int] = liLoad :+ liAppend
    def ord: Seq[Int] = ordLoad :+ ordAppend
  }

  def plan(seed: Long, pass: Int, script: Int): Plan = {
    val r = new Random(seed * 7919L + pass * 131L + script)
    val l = r.shuffle((0 until Slices).toList)
    val o = r.shuffle((0 until Slices).toList)
    Plan(l.take(2), l(2), o.take(2), o(2))
  }

  private def in(xs: Seq[Int]) = xs.mkString("(", ", ", ")")

  private def liSelect(slices: Seq[Int]) =
    s"""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
       |  CAST(l_quantity AS DECIMAL(18,2)) AS l_quantity,
       |  CAST(l_extendedprice AS DECIMAL(18,2)) AS l_extendedprice,
       |  l_returnflag, l_linestatus, CAST(l_shipdate AS DATE) AS l_shipdate,
       |  year(l_shipdate) AS ship_year
       |FROM lineitem WHERE pmod(l_orderkey, $Slices) IN ${in(slices)} AND l_quantity > 0""".stripMargin

  private def ordSelect(slices: Seq[Int]) =
    s"""SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice,
       |  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority, o_orderstatus
       |FROM orders WHERE pmod(o_orderkey, $Slices) IN ${in(slices)}""".stripMargin

  /** (kind, statement) in execution order; kind is ctas, insert or drop. */
  def load(p: Plan, li: String, ord: String): Seq[(String, String)] = Seq(
    "ctas" -> s"CREATE TABLE $li USING parquet PARTITIONED BY (ship_year) AS ${liSelect(p.liLoad)}",
    "ctas" -> s"CREATE TABLE $ord USING parquet PARTITIONED BY (o_orderstatus) AS ${ordSelect(p.ordLoad)}",
    "insert" -> s"INSERT INTO $li ${liSelect(Seq(p.liAppend))}",
    "insert" -> s"INSERT INTO $ord ${ordSelect(Seq(p.ordAppend))}")

  def audits(li: String, ord: String): Seq[String] = Seq(
    s"SELECT count(*), CAST(sum(l_quantity) AS STRING), CAST(sum(l_extendedprice) AS STRING) FROM $li",
    s"SELECT count(*), CAST(sum(o_totalprice) AS STRING) FROM $ord")

  def drop(li: String, ord: String): Seq[(String, String)] =
    Seq("drop" -> s"DROP TABLE $li", "drop" -> s"DROP TABLE $ord")
}
