package graft

/** Single-query timing probe for iteration: runs the named queries (by
  * exact id or prefix) N times each against one SF dir and prints one line
  * per query: its row count, each run's wall seconds, their min, and the
  * min of each phase — CONSTRUCTION (the registered closure building the
  * DataFrame, including any staging or memoized fixture work on first
  * call), PLANNING (analysis, optimization and physical planning) and
  * EXECUTION (the count on the already-planned frame). Unlike [[Bench]] it
  * times only what you name, so an optimization loop on one query doesn't
  * pay the full-surface sweep.
  *
  * Usage: SPARK_GRAFT_CPUS=32 runMain graft.QTime <sfDir> <runs> <prefix ...>
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val runs = if (args.length > 1) args(1).toInt else 2
    val prefixes = args.drop(2)
    val spark = GraftSession.local("qtime")
    // same untimed warmup as Bench so numbers are comparable; best-effort
    // because a synthetic probe corpus (ScaleProbe) carries only the
    // documents/embeddings/events/orders tables — a missing warmup table
    // must not block timing the queries that DO run there
    Seq("q01_scan_project", "q21_agg_groupby").foreach { w =>
      try SparkEntry.queries(w)(spark, sfDir).count()
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[qtime] warmup $w skipped: ${e.getMessage}") }
    }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }
      .foreach { case (name, fn) =>
        val times = (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          // exactly the frame Dataset.count() executes, planned eagerly so
          // plan and execution separate cleanly
          val cdf = df.groupBy().count()
          cdf.queryExecution.executedPlan
          val t2 = System.nanoTime()
          val n = cdf.collect().head.getLong(0)
          val t3 = System.nanoTime()
          (n, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
        }
        val secs = times.map(t => t._2 + t._3 + t._4)
        println(f"$name%-28s rows=${times.head._1}%-8d " +
          secs.map(t => f"$t%.2f").mkString(" ") +
          f"  min=${secs.min}%.2f construct=${times.map(_._2).min}%.3f" +
          f" plan=${times.map(_._3).min}%.3f exec=${times.map(_._4).min}%.3f")
      }
    spark.stop()
  }
}
