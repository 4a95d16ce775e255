package graft.tools

import graft.SparkEntry
import graft.core.Session
import org.apache.spark.GraftBus
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming-row attribution profile (r12 verdict #6): run the named
  * streaming queries and print every micro-batch's `durationMs`
  * breakdown (queryPlanning / addBatch / walCommit / commitOffsets /
  * triggerExecution) plus per-stateful-operator metrics
  * (commitTimeMs, allUpdatesTimeMs, numRowsTotal) from the
  * StreamingQueryProgress events — the measurement that splits an st
  * row's cost into incremental-planning vs state-store-commit vs
  * actual keyed work. Usage:
  *   runMain graft.tools.StreamProfile <sfDir> <query>[,query...]
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args(1).split(",").toSeq
      else Seq("st13_stream_sessions", "st18_stream_chained_agg")
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val progress = new java.util.concurrent.CopyOnWriteArrayList[String]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress.json)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    names.foreach { n =>
      progress.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, d).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      GraftBus.drain(spark.sparkContext)
      println(s"\n########## $n — ${"%.3f".format(sec)} s, ${progress.size} progress events ##########")
      progress.forEach(j => println(j))
      spark.catalog.clearCache()
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    }
    spark.stop()
  }
}
