package graft.util

import org.apache.logging.log4j.{Level, LogManager, Marker}
import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
import org.apache.logging.log4j.core.filter.AbstractFilter
import org.apache.logging.log4j.message.Message
import java.util.concurrent.atomic.AtomicLong

/** Evidence-tail hygiene for graft.Session's sessions: the
  * repo's DELIBERATE bounded unpartitioned windows — seed-cell
  * numbering over `limit(nCells)` rows (Similarity), the documented
  * single-task series index (TsCore), day-grain DAU/MAU (Events),
  * q17's exact-AUROC rank whose 100 TB twin is q40 (Metrics) — each
  * fire Spark's `WindowExec: No Partition Defined` WARN. All are tiny
  * or semantically global (each site documents why), but dozens of
  * copies bury the one REAL warning a bench tail exists to surface.
  *
  * A constant partition key cannot silence it: Spark 4's
  * `EliminateWindowPartitions` rule folds literal partition specs away,
  * so the plan is unpartitioned again. Instead the mains install this
  * precision log filter: it denies ONLY that exact message from the
  * WindowExec logger, counts what it dropped, and the main prints one
  * summary line — every other WARN (including unknown future WARNs
  * from WindowExec itself) still reaches the tail. `graft.Session`
  * installs it for every session it builds; library callers with
  * their own session never get it.
  */
object LogHygiene {

  private val BenignWindowWarn = "No Partition Defined for Window operation"

  // one filter per JVM: Bench calls per-rep (fresh sessions share the
  // log4j2 context), and double-installing would double-count. The
  // COUNTER is the JVM-once latch; the filter itself is re-checked
  // against the LIVE configuration on every call (ADVICE r16): a
  // Configurator.reconfigure / config reload replaces the
  // Configuration object and silently drops context filters, so
  // idempotence keyed solely on this reference would return a stale
  // counter while the WARN flood returns.
  private val installed =
    new java.util.concurrent.atomic.AtomicReference[(AtomicLong, Filter)]()

  /** The filter is present on the CURRENT configuration — reinstalling
    * on the live one if a reconfigure dropped it. addFilter wraps into
    * a CompositeFilter (an Iterable), so presence is an identity scan.
    * `synchronized` because check-then-add is not atomic (ADVICE r17):
    * two threads racing through the first suppressKnownBenignWindowWarn
    * call could both miss the scan and addFilter twice, double-counting
    * every suppressed WARN.
    */
  private def ensureInstalled(f: Filter): Unit = synchronized {
    LogManager.getContext(false) match {
      case ctx: LoggerContext =>
        val cfg = ctx.getConfiguration
        val present = cfg.getFilter match {
          case null => false
          case cf: org.apache.logging.log4j.core.filter.CompositeFilter =>
            var found = false
            val it = cf.iterator()
            while (!found && it.hasNext) found = it.next() eq f
            found
          case other => other eq f
        }
        if (!present) cfg.addFilter(f)
      case _ => // non-core logging backend: nothing to install, warn stays
    }
  }

  /** Install the deny-filter on the live log4j2 context; returns the
    * suppressed-message counter (read it at exit for the summary line).
    * Idempotent per JVM (repeat calls return the same counter, but
    * re-verify the filter survives on the current Configuration). Call
    * it AFTER the first SparkSession exists: Spark (re)initializes the
    * log4j2 configuration during startup, which drops filters added to
    * the pre-init configuration object. No-ops (returning a dead
    * counter) if logging is not log4j2-core.
    */
  def suppressKnownBenignWindowWarn(): AtomicLong = {
    val prior = installed.get()
    if (prior != null) { ensureInstalled(prior._2); return prior._1 }
    val n = new AtomicLong(0L)
    // NEUTRAL on both constructor defaults: the overloads below are the
    // only deciders; any filter path we did not override passes through.
    val f = new AbstractFilter(Filter.Result.NEUTRAL, Filter.Result.NEUTRAL) {
      private def check(loggerName: String, msg: String): Filter.Result =
        if (loggerName != null && loggerName.endsWith("WindowExec") &&
            msg != null && msg.contains(BenignWindowWarn)) {
          n.incrementAndGet(); Filter.Result.DENY
        } else Filter.Result.NEUTRAL
      override def filter(event: LogEvent): Filter.Result =
        check(event.getLoggerName,
          if (event.getMessage == null) null else event.getMessage.getFormattedMessage)
      override def filter(logger: org.apache.logging.log4j.core.Logger, level: Level,
          marker: Marker, msg: Message, t: Throwable): Filter.Result =
        check(logger.getName, if (msg == null) null else msg.getFormattedMessage)
      override def filter(logger: org.apache.logging.log4j.core.Logger, level: Level,
          marker: Marker, msg: Object, t: Throwable): Filter.Result =
        check(logger.getName, if (msg == null) null else msg.toString)
      // Spark's slf4j path lands here (isEnabled probes with the raw
      // string BEFORE any LogEvent exists) — without this overload the
      // context-wide filter is never consulted for these messages.
      override def filter(logger: org.apache.logging.log4j.core.Logger, level: Level,
          marker: Marker, msg: String, params: Object*): Filter.Result =
        check(logger.getName, msg)
    }
    if (installed.compareAndSet(null, (n, f))) {
      ensureInstalled(f)
      n
    } else {
      val p = installed.get()
      ensureInstalled(p._2)
      p._1
    }
  }

  /** The one-line replacement for the suppressed flood. */
  def summaryLine(n: AtomicLong): String =
    s"[log-hygiene] suppressed ${n.get} known-benign 'WindowExec: No Partition " +
      "Defined' WARNs (deliberate bounded/global windows - see LogHygiene scaladoc)"
}
