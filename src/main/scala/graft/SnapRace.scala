package graft

/** One racer of the CROSS-PROCESS commit race (PipelineSpec drives two
  * of these as separate JVMs at one snapshot table): block on a
  * rendezvous file so both processes attempt the same `expectedVersion`
  * commit as close to simultaneously as possible, then report the
  * outcome through the exit code — 0 for the committed winner, 3 for a
  * clean [[ops.Snapshot.SnapshotConflict]] abort.
  *
  * The in-JVM `publishLock` cannot serialize two drivers; what this
  * exercises is the FILESYSTEM half of the publish protocol (the atomic
  * create-exclusive — link(2) on local filesystems, no-overwrite rename
  * on HDFS-class ones): exactly one manifest may land, and the loser
  * must detect the loss and delete its own data files. Args:
  * `<tableDir> <goFile> <marker>`.
  */
object SnapRace {
  def main(args: Array[String]): Unit = {
    val Array(dir, goFile, marker) = args
    val spark = GraftSession.local("snaprace", cpus = 2)
    val code =
      try {
        import spark.implicits._
        val df = Seq((1L, marker), (2L, marker)).toDF("k", "who")
        // readiness + rendezvous: tell the parent this JVM is warm, then
        // spin until it drops the go file so both racers fire together
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$goFile.ready.$marker"), "r")
        val go = java.nio.file.Paths.get(goFile)
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (!java.nio.file.Files.exists(go)) {
          if (System.nanoTime() > deadline)
            throw new IllegalStateException("rendezvous timed out")
          Thread.sleep(5)
        }
        try {
          val v = ops.Snapshot.commit(df, dir, 1, "k",
            note = s"racer:$marker")
          println(s"WIN $marker v$v")
          0
        } catch {
          case _: ops.Snapshot.SnapshotConflict =>
            println(s"LOSE $marker")
            3
        }
      } finally spark.stop()
    sys.exit(code)
  }
}
