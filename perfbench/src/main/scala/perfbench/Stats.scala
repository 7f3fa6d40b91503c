package perfbench

/** Pure helpers the benchmark's numbers rest on; no Spark session needed. */
object Stats {

  /** Linear-interpolation quantile (the "type 7" rule numpy and R default
    * to). Empty input has no quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A tail quantile is reported only when at least `minAbove` samples lie
    * strictly above it; with fewer, the value is decided by a handful of
    * samples and moves with any single outlier. */
  def tailQuantile(xs: Seq[Double], q: Double, minAbove: Int = 10): Option[Double] =
    if (xs.isEmpty) None
    else {
      val v = quantile(xs, q)
      if (xs.count(_ > v) >= minAbove) Some(v) else None
    }
}

/** Counting shuffles in a physical plan's text. */
object PlanText {

  /** The node name a plan line starts with: tree glyphs (` :|+-`) and a
    * whole-stage-codegen prefix `*(n) ` are skipped, and the name ends at
    * the first space, `[` or `(`. */
  def leadingToken(line: String): String = {
    var i = 0
    while (i < line.length && " :|+-".indexOf(line.charAt(i)) >= 0) i += 1
    if (line.startsWith("*(", i)) {
      val close = line.indexOf(") ", i)
      if (close > 0) i = close + 2
    }
    var j = i
    while (j < line.length && " [(".indexOf(line.charAt(j)) < 0) j += 1
    line.substring(i, j)
  }

  /** Real shuffle exchanges in a plan text: lines whose node is exactly
    * `Exchange`. `ReusedExchange` lines embed the reused exchange's text
    * (`ReusedExchange [..], Exchange hashpartitioning(..)`) and
    * `BroadcastExchange` is not a shuffle, so matching the substring
    * over-counts; only the node-leading token is compared. An adaptive
    * plan prints its initial plan under `== Initial Plan ==` after the
    * final one; that subtree is skipped so each exchange counts once. */
  def shuffles(plan: String): Int = {
    var n = 0
    var skipCol = -1
    plan.split("\n").foreach { line =>
      if (skipCol >= 0) {
        val inside = line.length > skipCol + 3 &&
          line.substring(skipCol, skipCol + 3).forall(_ == ' ')
        if (!inside) skipCol = -1
      }
      if (skipCol < 0) {
        val marker = line.indexOf("== Initial Plan ==")
        if (marker >= 0) skipCol = math.max(0, marker - 3)
        else if (leadingToken(line) == "Exchange") n += 1
      }
    }
    n
  }
}

/** Bounded wait for the listener bus to deliver everything posted so far. */
object Drain {
  final case class Result(drained: Boolean, waitedMs: Long, undrained: Long)

  /** Post marker `seq` with `post`, then poll `seen` until the marker has
    * been delivered or `timeoutMs` has passed. A bus that stalls must not
    * hang the run: on timeout the caller gets `pending()`, the events still
    * outstanding, instead of an exception. */
  def await(seq: Long, post: Long => Unit, seen: () => Long,
            pending: () => Long, timeoutMs: Long = 2000L): Result = {
    val t0 = System.nanoTime()
    val deadline = t0 + timeoutMs * 1000000L
    post(seq)
    while (seen() < seq && System.nanoTime() < deadline) Thread.sleep(1)
    val ok = seen() >= seq
    Result(ok, (System.nanoTime() - t0) / 1000000L, if (ok) 0L else pending())
  }
}

/** A result fingerprint: row count plus an order-insensitive hash sum. */
final case class Fingerprint(rows: Long, hash: String) {
  override def toString: String = s"$rows:$hash"
}

/** Which timed ops count as failed. */
object Accounting {
  final case class OpRecord(key: String, threw: Boolean)

  /** Keys whose untimed check did not reproduce the pinned fingerprint:
    * a different fingerprint, a check that threw (`None`), or no pin. */
  def mismatched(pins: Map[String, Fingerprint],
                 got: Map[String, Option[Fingerprint]]): Set[String] =
    got.collect {
      case (k, fp) if fp.isEmpty || !pins.get(k).exists(p => fp.contains(p)) => k
    }.toSet

  /** An op fails if it threw or if its key's output is wrong. */
  def failed(ops: Seq[OpRecord], badKeys: Set[String]): Int =
    ops.count(o => o.threw || badKeys(o.key))
}
