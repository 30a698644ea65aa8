package graft

import graft.stream.Tailer

/** Child-JVM half of ReplaySpec's metrics-sink test: buffers metrics under
  * one session, stops it, then writes through a new session. Exits 0 when
  * the stopped context's sink was dropped with its buffer, nothing was
  * buffered after the stop, and the new session flushed its own rows.
  */
object MetricsSinkRestart {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val conf = Map("spark.graft.metrics.flushEveryBatches" -> "100")
    def check(ok: Boolean, what: String): Unit =
      if (!ok) { System.err.println(s"FAILED: $what"); sys.exit(1) }

    val first = Sessions.local(1, "sink-first", conf)
    Tailer.addMetrics(first, dir, 0L, Seq("m.first" -> 1.0))
    check(Tailer.metricsSinkCount == 1, "a sink buffers under the first session")
    first.stop()
    Tailer.addMetrics(first, dir, 1L, Seq("m.stopped" -> 1.0))
    check(Tailer.metricsSinkCount == 0, "the stopped context's sink is dropped, none re-created")

    val second = Sessions.local(1, "sink-second", conf)
    Tailer.addMetrics(second, dir, 2L, Seq("m.second" -> 2.0))
    Tailer.flushMetrics(second, dir)
    val rows = second.read.parquet(dir).select("batchId", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    check(rows == Seq((2L, "m.second")), s"only the live session's rows land: $rows")
    second.stop()
  }
}
