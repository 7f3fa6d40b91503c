package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-facing entry points: a tuned session builder and the SQL surface.
  *
  * The reference exposed its capabilities through CLI tools over a DB2
  * connection; this engine's equivalents are (1) the DataFrame registry in
  * `SparkEntry.queries` and (2) plain `spark.sql` over the registered views
  * below — a dbsuite user's catalog queries run verbatim-ish against them.
  */
object Graft {

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Recommended local session: UTC, AQE on (default), shuffle partitions
    * sized to cores — on a real cluster, size to 2-3x total executor cores
    * and let AQE coalesce. `conf` entries apply last, so they override
    * these defaults (`spark.master` for a local-cluster, executor
    * settings). */
  def session(appName: String = "graft",
              cores: Int = Runtime.getRuntime.availableProcessors(),
              conf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_").toString)
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    functions.GraftFunctions.register(s)
    s
  }

  /** Register every fixture table under its plain name as a temp view, so
    * `spark.sql("SELECT ... FROM lineitem JOIN orders ...")` just works. */
  def registerTables(s: SparkSession, sfDir: String): Unit = {
    tables.foreach(t => T.t(s, sfDir, t).createOrReplaceTempView(t))
    functions.GraftFunctions.register(s)
  }

  /** SQL entry point over the registered views. */
  def sql(s: SparkSession, query: String): DataFrame = s.sql(query)

  private val sqlKeywords: Set[String] = Set(
    "select", "from", "where", "group", "by", "order", "having", "limit",
    "join", "inner", "left", "right", "full", "outer", "cross", "on",
    "union", "intersect", "except", "all", "distinct", "as", "and", "or",
    "not", "in", "exists", "between", "like", "is", "null", "case", "when",
    "then", "else", "end", "with", "recursive", "insert", "into", "values",
    "create", "table", "view", "drop", "alter", "desc", "asc", "cast",
    "over", "partition", "rows", "range", "preceding", "following",
    "current", "row", "unbounded", "lateral", "using", "window")

  /** Minimal `dbtidysql` analogue: normalize a SQL script — keywords
    * uppercased, whitespace runs collapsed, one statement per line —
    * without touching quoted strings or comments (statement splitting and
    * quote/comment handling shared with Exec.splitStatements). The
    * reference's full recursive-descent reformatter is deliberately NOT
    * ported: Catalyst owns parsing; this is the cosmetic surface only. */
  def tidySql(script: String): String =
    Exec.splitStatements(script).map { stmt =>
      val out = new StringBuilder
      var i = 0
      var quote: Char = 0
      val n = stmt.length
      while (i < n) {
        val c = stmt.charAt(i)
        if (quote != 0) {
          out.append(c)
          if (c == '\\' && i + 1 < n) { out.append(stmt.charAt(i + 1)); i += 1 }
          else if (c == quote) quote = 0
          i += 1
        } else if (c == '\'' || c == '"') {
          quote = c; out.append(c); i += 1
        } else if (c.isLetter || c == '_') {
          val start = i
          while (i < n && (stmt.charAt(i).isLetterOrDigit || stmt.charAt(i) == '_')) i += 1
          val word = stmt.substring(start, i)
          out.append(if (sqlKeywords(word.toLowerCase)) word.toUpperCase else word)
        } else if (c.isWhitespace) {
          if (out.nonEmpty && !out.last.isWhitespace) out.append(' ')
          i += 1
        } else { out.append(c); i += 1 }
      }
      out.toString.trim + ";"
    }.mkString("\n")
}
