package graft.tools

/** Measurement-window evidence promoted into the committed bench line
  * (VERDICT r8 item 2): the driver archives ONLY the 2000-char JSON
  * tail, so window adjudication ("was this run throttled? which query
  * paid a shared cache build?") must ride the line itself, not stderr.
  *
  *   - `probe` — the single-thread CPU probe before/after the run;
  *     clean windows read ~0.010-0.012 s, throttled ones 0.015+
  *   - `pass3` — true when the two passes disagreed > 25% and a third
  *     tie-break pass ran (a burst hit at least one pass)
  *   - `attr` — the top cache-building queries (MB of registered
  *     storage that appeared during them, pass 1): the query whose
  *     time includes a shared build, named in-line
  */
case class BenchMeta(
    probeBefore: Double,
    probeAfter: Double,
    pass3: Boolean,
    cacheAttrMb: Seq[(String, Double)])

/** Renders the one-line bench JSON under a hard length budget.
  *
  * The driver tail-captures exactly 2000 chars of build output and sbt
  * appends a ~76-char "[success]" line, so the JSON must fit in ~1900
  * chars or the driver's parse comes back null (it did in rounds 1-2).
  * Degrade ladder, applied only as far as needed:
  *
  *   1. fine — every query at 1-decimal precision (".0" stripped)
  *   2. coarse — values >= 10 s rounded to integers (digits are what
  *      weather-inflated runs add)
  *   3. drop-smallest — the k fastest queries are folded into
  *      `"fast_n":k,"fast_sum":s` instead of being silently truncated;
  *      the slow queries (the ones rounds are compared on) stay
  *      per-query, and total still reconciles: value = sum(queries) +
  *      fast_sum up to rendering precision
  *
  * `failed` names every query that threw: it has no timing, so the
  * caller keeps it out of `results` and the total. The list is always
  * rendered (empty on a clean run) and never degraded.
  *
  * The [[BenchMeta]] evidence fields are rendered FIRST and never
  * degraded — the fold ladder drops fast-query detail to pay for them
  * (~70 chars buys "was this window clean" being answerable from the
  * artifact alone). The total always keeps 2 decimals — it is the
  * 2x-of-baseline gate.
  */
object BenchLine {

  val MaxLen = 1900

  /** How many cache-attr entries the line carries. */
  val AttrTop = 3

  private def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
  private def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
  private def f1(v: Double): String =
    "%.1f".formatLocal(java.util.Locale.ROOT, v).stripSuffix(".0") match {
      case "" => "0"
      case s => s
    }

  /** JSON string-escape for names that reach the line verbatim — attr
    * keys are internal identifiers today, but one quote or backslash in
    * a future name must not corrupt the archived artifact. */
  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    }

  private def metaJson(meta: Option[BenchMeta], withAttr: Boolean = true): String =
    meta match {
      case None => ""
      case Some(m) =>
        val attr =
          if (m.cacheAttrMb.isEmpty || !withAttr) ""
          else m.cacheAttrMb.take(AttrTop)
            .map { case (n, mb) => "\"" + esc(n) + "\":" + f1(mb) }
            .mkString(""","attr":{""", ",", "}")
        s""","probe":[${f3(m.probeBefore)},${f3(m.probeAfter)}],"pass3":${m.pass3}$attr"""
    }

  private def render(
      shown: Seq[(String, Double)],
      dropped: Seq[(String, Double)],
      total: Double,
      sfName: String,
      coarse: Boolean,
      metaStr: String): String = {
    val qs = shown
      .map { case (k, v) =>
        val s = if (coarse && v >= 10) f1(math.floor(v + 0.5)) else f1(v)
        "\"" + k + "\":" + s
      }
      .mkString("{", ",", "}")
    val fast =
      if (dropped.isEmpty) ""
      else s""","fast_n":${dropped.size},"fast_sum":${f1(dropped.map(_._2).sum)}"""
    s"""{"metric":"total","value":${f2(total)},"unit":"sec","queries":$qs$fast$metaStr,"sf":"$sfName"}"""
  }

  def apply(
      results: Map[String, Double],
      sfName: String,
      meta: Option[BenchMeta] = None,
      maxLen: Int = MaxLen,
      failed: Seq[String] = Nil): String = {
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val failedStr = failed.sorted.map(n => "\"" + esc(n) + "\"").mkString(""","failed":[""", ",", "]")
    val metaStr = metaJson(meta) + failedStr
    // name-sorted for stable diffs between rounds
    val sorted = results.toSeq.sortBy(_._1)
    val fine = render(sorted, Nil, total, sfName, coarse = false, metaStr)
    if (fine.length <= maxLen) return fine
    val coarse = render(sorted, Nil, total, sfName, coarse = true, metaStr)
    if (coarse.length <= maxLen) return coarse
    // drop the fastest queries first; ties broken by name so the set is
    // deterministic run-to-run
    val byTime = results.toSeq.sortBy { case (k, v) => (v, k) }
    var k = 1
    while (k < byTime.size) {
      val dropped = byTime.take(k)
      val shown = byTime.drop(k).sortBy(_._1)
      val line = render(shown, dropped, total, sfName, coarse = true, metaStr)
      if (line.length <= maxLen) return line
      k += 1
    }
    val minimal = render(Nil, byTime, total, sfName, coarse = true, metaStr)
    if (minimal.length <= maxLen) return minimal
    // final rung: the attr block is the only fixed-size meta that can
    // still push a fully-folded line past maxLen — drop it last (probes
    // and pass3 are the window evidence and always stay)
    render(Nil, byTime, total, sfName, coarse = true,
      metaJson(meta, withAttr = false) + failedStr)
  }
}
