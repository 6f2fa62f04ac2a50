package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One timed call. `ok` turns false when the call threw, or later when its
  * output failed a check; such a call counts as failed and its time is never
  * used as a sample. `rows` is the number of output rows it produced. */
final class OpRecord(
    val id: Long, val kind: String, val name: String, val client: Int,
    val startNs: Long, val endNs: Long, @volatile var ok: Boolean,
    @volatile var error: String, val items: Long, val rows: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def fail(why: String): Unit = { ok = false; if (error == null) error = why }
}

/** A group of ops that together produce one user-visible result: one sweep
  * of a snapshot, one ingest cycle, one serve session. */
final class RoundRecord(val id: Long, val client: Int, val startNs: Long, val endNs: Long,
    val ops: Seq[OpRecord]) {
  def ok: Boolean = ops.nonEmpty && ops.forall(_.ok)
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Closed-loop op runner. Thread-safe: serve clients share one recorder. */
final class Recorder {
  private val ids = new AtomicLong(0)
  val ops = new ConcurrentLinkedQueue[OpRecord]()
  val rounds = new ConcurrentLinkedQueue[RoundRecord]()

  /** Time `body`; the result's item and row counts are taken by `count`
    * after the clock stops. A throw is recorded as a failed op (no sample)
    * and returns None. */
  def run[T](kind: String, name: String, client: Int = 0)(body: => T)(
      count: T => (Long, Long)): Option[(OpRecord, T)] = {
    val id = ids.incrementAndGet()
    Tracer.beginOp(id, s"$kind.$name")
    val t0 = System.nanoTime()
    try {
      val r = body
      val t1 = System.nanoTime()
      val (items, rows) = count(r)
      val rec = new OpRecord(id, kind, name, client, t0, t1, true, null, items, rows)
      ops.add(rec)
      Some((rec, r))
    } catch {
      case NonFatal(e) =>
        val t1 = System.nanoTime()
        val rec = new OpRecord(id, kind, name, client, t0, t1, false,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}", 0, 0)
        ops.add(rec)
        System.err.println(s"[perfbench] op $kind.$name failed: ${rec.error}")
        None
    } finally Tracer.endOp(id, t0)
  }

  def round(client: Int, startNs: Long, ops: Seq[OpRecord]): Unit =
    rounds.add(new RoundRecord(ids.incrementAndGet(), client, startNs, System.nanoTime(), ops))

  def opList: Seq[OpRecord] = ops.asScala.toSeq.sortBy(_.id)
  def roundList: Seq[RoundRecord] = rounds.asScala.toSeq.sortBy(_.id)
}

/** Order-independent content hash of collected rows: the check compares the
  * timed call's output with a reference without re-running the timed call. */
object RowHash {
  def of(rows: Array[org.apache.spark.sql.Row]): Long = {
    var h = 0L
    var i = 0
    while (i < rows.length) {
      h += scala.util.hashing.MurmurHash3.stringHash(rows(i).mkString("\u0001")).toLong & 0xffffffffL
      i += 1
    }
    h * 31 + rows.length
  }
}

/** Minimal JSON rendering for the result file (no library dependency). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Short => n.toString
    case n: Byte => n.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.bigDecimal.toPlainString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
