package graft.perfbench

import java.nio.file.Path
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import graft.ops.{SipJoin, Snapshot}

/** `table_serving`: one client against a standing graft table. Each
  * iteration is one write (an append commit, a streamed append of one
  * arriving file through the `graft` streaming sink, a `mergeCow` CDC batch,
  * `deleteWhereDV`, `updateWhereDV` or `compactVersion`, in turn) and
  * then [[ReadsPerWrite]] reads, in turn metadata-only SQL aggregates,
  * `readPruned`, `readPoints`, a SIP join, `changeFeed` and `VERSION AS
  * OF` reads. Every answer is checked against an in-memory model of the
  * table and of its version history. */
object TableServing extends Workload {
  val name = "table_serving"
  val GraftSinkQuery = "graft_sink"
  private val ReadsPerWrite = 2
  private val WriteKinds = Seq("append", "ingest", "merge", "delete", "update", "compact")
  private val BatchRows = 500
  private val SqlName = "serving_t"
  private val RowBytes = 8 + 8 + 8 + 8 // k, v, grp and the tag's payload

  /** key -> (v, grp, tag) of the live rows, and per committed version the
    * (row count, sum of v) a time-travel read must return. */
  private var model: java.util.TreeMap[java.lang.Long, (Long, Long, String)] = _
  private val history = mutable.Map.empty[Int, (Long, Long)]
  /** The last data write: (version before, version after, keys changed). */
  private var lastWrite: Option[(Int, Int, Int)] = None
  private var dir: String = _
  private var nextKey = 0L
  private var writes = 0
  private var step = 0
  private var reads = 0

  private var baseModel: java.util.TreeMap[java.lang.Long, (Long, Long, String)] = _
  private var sink: StreamingQuery = _
  private var baseRows = 0L
  val passIsOp = false
  /** One write of each kind, each followed by [[ReadsPerWrite]] reads. */
  val passSteps = WriteKinds.size * (ReadsPerWrite + 1)
  /** A reader's latency: writes count in `bench.ops_per_s` but not in the
    * median, which would otherwise fall in the gap between read and write
    * latencies and jump between them from run to run. */
  override def latencies(ops: Seq[Op]): Seq[Double] =
    ops.filter(_.kind == "read").map(_.seconds)

  /** Inputs, and the model of the base rows (read once, untimed). */
  def generate(spark: SparkSession, root: Path, seed: Long, scale: Double) = {
    val g = Gen.cached(root, s"serving-s$seed-x$scale")(Gen.serving(spark, _, seed, scale))
    baseModel = new java.util.TreeMap
    spark.read.parquet(s"${g._1}/base.parquet").collect().foreach(r =>
      baseModel.put(r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
    g
  }

  def setup(c: Ctx): Unit = {
    val spark = c.spark
    dir = c.work.resolve("table").toString
    model = new java.util.TreeMap(baseModel)
    baseRows = c.truthLong("rows")
    nextKey = baseRows
    history.clear(); lastWrite = None; writes = 0; step = 0; reads = 0
    val v = Snapshot.commit(spark.read.parquet(s"${c.input}/base.parquet"), dir, 0, "k",
      nFiles = 8)
    record(v)
    Snapshot.registerSqlTable(spark, SqlName, dir)
    val src = c.work.resolve("feed")
    java.nio.file.Files.createDirectories(src)
    sink = spark.readStream.schema(rowsDf(spark, Nil).schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
      .writeStream.format("graft").queryName(GraftSinkQuery)
      .option("checkpointLocation", c.work.resolve("sink_ckpt").toString)
      .option("statsCol", "k").outputMode("append").start(dir)
  }

  /** Half a pass: a history to travel over, and every read used once. */
  def warmup(c: Ctx): Unit =
    for (_ <- 0 until passSteps / 2) op(c).failed.foreach(f => sys.error(s"warm-up: $f"))

  def op(c: Ctx): Op = {
    val parses = Snapshot.manifestParses.get
    // kinds rotate, so every pass has the same mix
    val o = if (step % (ReadsPerWrite + 1) == 0) write(c) else read(c, reads % 6)
    if (step % (ReadsPerWrite + 1) != 0) reads += 1
    step += 1
    c.tracer.add("snapshot.manifest_parses", (Snapshot.manifestParses.get - parses).toDouble)
    o
  }

  private def live: (Long, Long) = {
    var s = 0L
    model.values.forEach(x => s += x._1)
    (model.size.toLong, s)
  }
  private def record(v: Int): Unit = history(v) = live

  private def rowsDf(spark: SparkSession, rows: Seq[(Long, Long, Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "v", "grp", "tag")
  }

  /** A batch of new keys past every key so far. */
  private def newRows(c: Ctx): Seq[(Long, Long, Long, String)] = {
    val rows = (nextKey until nextKey + BatchRows).map(k =>
      (k, c.rnd.nextInt(1000000).toLong, k % 5000, s"a$writes"))
    nextKey += BatchRows
    rows
  }

  private def write(c: Ctx): Op = {
    val spark = c.spark
    writes += 1
    val v0 = Snapshot.currentVersion(spark, dir)
    val kind = WriteKinds((writes - 1) % WriteKinds.size)
    val lo = c.rnd.nextInt((baseRows - BatchRows).toInt).toLong
    val hi = lo + BatchRows - 1
    // the table and the streaming sink's checkpoint are the data dirs
    val dataDirs = Seq(java.nio.file.Paths.get(dir), c.work.resolve("sink_ckpt"))
    val before = Fs.state(dataDirs: _*)
    val t0 = System.nanoTime()
    def done() = (System.nanoTime() - t0) / 1e9
    // each case times the call alone, then applies it to the model:
    // (seconds, bytes of the rows changed, keys changed; -1 for a
    // maintenance commit)
    val (secs, user, changed) = kind match {
      case "append" =>
        val rows = newRows(c)
        c.span("snapshot.commit")(Snapshot.appendWithRetry(rowsDf(spark, rows), dir, nFiles = 1))
        val s = done()
        rows.foreach(r => model.put(r._1, (r._2, r._3, r._4)))
        (s, rows.size.toLong * RowBytes, rows.size)
      case "ingest" =>
        // one feed file arrives (an atomic move) and the standing sink
        // commits it as one append version; the file is written untimed
        val rows = newRows(c)
        val staged = c.work.resolve(s"staged$writes")
        rowsDf(spark, rows).coalesce(1).write.parquet(staged.toString)
        val file = Fs.list(staged).filter(_.getFileName.toString.endsWith(".parquet")).head
        val t1 = System.nanoTime()
        java.nio.file.Files.move(file, c.work.resolve("feed").resolve(s"f$writes.parquet"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        c.span("sources.graft_sink")(sink.processAllAvailable())
        val s = (System.nanoTime() - t1) / 1e9
        rows.foreach(r => model.put(r._1, (r._2, r._3, r._4)))
        (s, rows.size.toLong * RowBytes, rows.size)
      case "merge" =>
        val keys = model.subMap(lo, true, hi, true).keySet.asScala.toSeq.map(_.longValue)
        val rows = keys.map(k => (k, c.rnd.nextInt(1000000).toLong, k % 5000, s"m$writes"))
        c.span("snapshot.merge_cow")(Snapshot.mergeCow(spark, dir, rowsDf(spark, rows), "k",
          (base, ch) => ch.unionByName(
            base.join(ch.select(col("k").as("_k")), base("k") === col("_k"), "left_anti")),
          nFiles = 1))
        val s = done()
        rows.foreach(r => model.put(r._1, (r._2, r._3, r._4)))
        (s, rows.size.toLong * RowBytes, rows.size)
      case "delete" =>
        c.span("snapshot.delete_dv")(Snapshot.deleteWhereDV(spark, dir, lo, hi))
        val s = done()
        val sub = model.subMap(lo, true, hi, true)
        val n = sub.size; sub.clear()
        (s, n.toLong * RowBytes, n)
      case "update" =>
        c.span("snapshot.update_dv")(Snapshot.updateWhereDV(spark, dir, lo, hi,
          Map("v" -> (col("v") + 1))))
        val s = done()
        val sub = model.subMap(lo, true, hi, true)
        sub.replaceAll((_, x) => (x._1 + 1, x._2, x._3))
        (s, sub.size.toLong * RowBytes, sub.size)
      case _ =>
        c.span("snapshot.compact")(Snapshot.compactVersion(spark, dir, 8L << 20))
        (done(), 0L, -1)
    }
    finishWrite(c, kind, secs, Fs.bytesWritten(before, dataDirs: _*), user, v0, changed)
  }

  private def finishWrite(c: Ctx, kind: String, secs: Double,
                          bytes: Long, user: Long, v0: Int,
                          changed: Int): Op = {
    val spark = c.spark
    val v1 = Snapshot.currentVersion(spark, dir)
    record(v1)
    if (changed >= 0) lastWrite = Some((v0, v1, changed))
    val m0 = Snapshot.manifest(spark, dir, v0)
    val m1 = Snapshot.manifest(spark, dir, v1)
    val kept = m0.files.map(_.path).toSet
    c.tracer.add("snapshot.files_rewritten", m1.files.count(f => !kept(f.path)).toDouble)
    c.tracer.add("snapshot.writes", 1)
    c.tracer.add("snapshot.write_bytes", bytes.toDouble)
    c.tracer.add("snapshot.user_bytes", user.toDouble)
    val fail = Option.when(v1 != v0 + 1)(s"$kind committed version $v1 after $v0")
    Op("write", secs, bytes, user, fail)
  }

  /** Collects `df`, timing only the collect, and records the scan work
    * its executed plan reports. */
  private def serve(c: Ctx, span: String, df: => DataFrame): (Array[Row], Double) = {
    val t0 = System.nanoTime()
    val (rows, d) = c.span(span) { val d = df; (d.collect(), d) }
    val secs = (System.nanoTime() - t0) / 1e9
    if (c.tracer.on) {
      val qe = d.queryExecution
      val phases = qe.tracker.phases
      c.tracer.add("plans.planning_s", phases.values.map(_.durationMs).sum / 1e3)
      c.tracer.add("plans.queries", 1)
      var scanned, files = 0L
      nodes(qe.executedPlan).filter(_.nodeName.contains("Scan")).foreach { p =>
        p.metrics.get("numOutputRows").foreach(m => scanned += m.value)
        p.metrics.get("numFiles").foreach(m => files += m.value)
      }
      c.tracer.add("plans.rows_scanned", scanned.toDouble)
      c.tracer.add("plans.rows_out", rows.length.toDouble)
      c.tracer.add("snapshot.files_opened", files.toDouble)
      c.tracer.add("snapshot.reads", 1)
    }
    (rows, secs)
  }

  /** Every node of an executed plan, through adaptive query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p +: p.children.flatMap(nodes)
  }

  private def read(c: Ctx, kind: Int): Op = {
    val spark = c.spark
    val cur = Snapshot.currentVersion(spark, dir)
    val nFiles = Snapshot.manifest(spark, dir, cur).files.size
    def pruned(opened: Int): Unit =
      if (c.tracer.on) {
        c.tracer.add("plans.files_total", nFiles); c.tracer.add("plans.files_kept", opened)
      }
    val lo = c.rnd.nextInt((baseRows - 5000).toInt).toLong
    val hi = lo + 4999
    kind match {
      case 0 => // COUNT/MIN/MAX answered from manifest stamps
        val (rows, s) = serve(c, "plans.meta_agg",
          spark.sql(s"SELECT count(*) AS n, min(k) AS lo, max(k) AS hi FROM $SqlName"))
        val r = rows.head
        val want = (model.size.toLong, model.firstKey.longValue, model.lastKey.longValue)
        Op("read", s, 0, 0, Option.when((r.getLong(0), r.getLong(1), r.getLong(2)) != want)(
          s"meta aggregate ${r.mkString(",")} != model $want"))
      case 1 =>
        val m = Snapshot.manifest(spark, dir, cur)
        pruned(m.files.count(f => f.min <= hi && f.max >= lo))
        val (rows, s) = serve(c, "snapshot.read_pruned",
          Snapshot.readPruned(spark, dir, lo, hi).agg(count(lit(1)), coalesce(sum(col("v")), lit(0L))))
        val sub = model.subMap(lo, true, hi, true)
        var sv = 0L; sub.values.forEach(x => sv += x._1)
        check(s, "readPruned", (rows.head.getLong(0), rows.head.getLong(1)), (sub.size.toLong, sv))
      case 2 =>
        val keys = Seq.fill(20)(lo + c.rnd.nextInt(5000).toLong)
        val (rows, s) = serve(c, "snapshot.read_points",
          Snapshot.readPoints(spark, dir, "k", keys).select(col("k"), col("v")))
        val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = keys.distinct.flatMap(k => Option(model.get(k)).map(x => k -> x._1)).toMap
        check(s, "readPoints", got, want)
      case 3 => // SIP join of the table with a 25-key dim
        val dimKeys = Seq.fill(25)(lo + c.rnd.nextInt(5000).toLong).distinct
        import spark.implicits._
        val dim = dimKeys.toDF("dk")
        val fact = spark.read.format("graft").load(dir)
        val (rows, s) = serve(c, "plans.sip_join", {
          val ks = SipJoin.dimKeys(dim, "dk", org.apache.spark.sql.types.LongType, 1024)
          SipJoin.sipJoinWith(fact, dim, "k", "dk", ks)
            .agg(count(lit(1)), coalesce(sum(col("v")), lit(0L)))
        })
        val hits = dimKeys.flatMap(k => Option(model.get(k)))
        check(s, "sipJoin", (rows.head.getLong(0), rows.head.getLong(1)),
          (hits.size.toLong, hits.map(_._1).sum))
      case 4 if lastWrite.nonEmpty =>
        val (v0, v1, changed) = lastWrite.get
        val (rows, s) = serve(c, "snapshot.change_feed",
          Snapshot.changeFeed(spark, dir, v0, v1, "k").agg(countDistinct(col("k"))))
        check(s, "changeFeed", rows.head.getLong(0), changed.toLong)
      case _ => // time travel to a version drawn uniformly from the history
        val vs = history.keys.toIndexedSeq.sorted
        val v = vs(c.rnd.nextInt(vs.size))
        val (rows, s) = serve(c, "snapshot.time_travel",
          spark.sql(s"SELECT count(*), coalesce(sum(v), 0) FROM $SqlName VERSION AS OF $v"))
        check(s, s"VERSION AS OF $v", (rows.head.getLong(0), rows.head.getLong(1)), history(v))
    }
  }

  private def check(secs: Double, what: String, got: Any, want: Any): Op =
    Op("read", secs, 0, 0, Option.when(got != want)(s"$what returned $got, model says $want"))

  def finish(c: Ctx): Seq[String] =
    sink.exception.map(e => s"graft sink failed: ${e.getMessage}").toSeq

  def layerMetrics(c: Ctx, ops: Seq[Op]): Map[String, Double] = {
    val k = c.tracer.counts.withDefaultValue(0.0)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val live = model.size.toDouble * RowBytes
    Map(
      "snapshot.files_rewritten_per_write" -> ratio(k("snapshot.files_rewritten"), k("snapshot.writes")),
      "snapshot.bytes_written_per_user_byte" -> ratio(k("snapshot.write_bytes"), k("snapshot.user_bytes")),
      "snapshot.manifest_parses" -> ratio(k("snapshot.manifest_parses"), ops.size),
      "snapshot.files_opened_per_read" -> ratio(k("snapshot.files_opened"), k("snapshot.reads")),
      "snapshot.space_amp" -> ratio(Fs.treeBytes(java.nio.file.Paths.get(dir)).toDouble, live),
      "plans.planning_s" -> ratio(k("plans.planning_s"), k("plans.queries")),
      "plans.rows_scanned_per_result" -> ratio(k("plans.rows_scanned"), k("plans.rows_out")),
      "plans.files_pruned_share" -> (1 - ratio(k("plans.files_kept"), k("plans.files_total"))))
  }
}
