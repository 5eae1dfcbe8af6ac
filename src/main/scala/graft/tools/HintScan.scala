package graft.tools

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** Hint-hygiene audit: `runMain graft.tools.HintScan [sfDir] [prefixes]`
  * optimizes every gate query while capturing Catalyst's HintErrorLogger
  * events, and prints each query that drops a join hint ("join hint
  * (strategy=broadcast) ... not part of a join relation") — the warning
  * class that flooded BENCH_r11's captured tail. Optimization only
  * (`queryExecution.optimizedPlan`), no execution, so the sweep is cheap;
  * hint removal happens in analysis/optimization, which is exactly where
  * the logger fires. */
object HintScan {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.001")
    val prefixes = args.lift(1).map(_.split(",").toSeq)
    val spark = graft.Graft.session(appName = "graft-hintscan")
    spark.sparkContext.setLogLevel("WARN")

    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    val app = new AbstractAppender(
        "hintscan", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.contains("HintErrorLogger"))
          buf.synchronized { buf += e.getMessage.getFormattedMessage }
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()

    var dirty = 0
    graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.forall(_.exists(n.startsWith)))
      .foreach { n =>
        buf.synchronized(buf.clear())
        try {
          graft.SparkEntry.queries(n)(spark, d).queryExecution.optimizedPlan
          val msgs = buf.synchronized(buf.toList)
          if (msgs.nonEmpty) {
            dirty += 1
            println(s"$n: ${msgs.size} dropped-hint warnings")
            msgs.distinct.foreach(m => println(s"    $m"))
          }
        } catch {
          case t: Throwable => println(s"$n: ERROR ${t.getClass.getSimpleName}: ${t.getMessage.take(120)}")
        }
      }
    println(s"HintScan: $dirty queries with dropped hints")
    spark.stop()
    sys.exit(if (dirty > 0) 1 else 0)
  }
}
