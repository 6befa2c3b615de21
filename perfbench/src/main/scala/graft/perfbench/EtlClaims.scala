package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Stages
import graft.ops.Snapshot

/** `etl_claims`: the reference DAG replayed pass after pass through
  * `Stages.stage → load → derive → publish → merge`, one stage per
  * operation. Passes alternate between input variants A and B, so each
  * merge upserts real changes into the one standing snapshot table; the
  * other stage outputs are cleared before each pass, so every pass starts
  * from a fresh work dir. */
object EtlClaims extends Workload {
  val name = "etl_claims"
  val passIsOp = true
  val passSteps = 5
  private val StageOutputs = Seq("claims_csv", "dim_csv", "dim_zips",
    "load_claims", "load_dim", "derived", "patient_claims_plus")
  private var step = 0
  private var seenB = false

  def generate(spark: SparkSession, root: Path, seed: Long, scale: Double) =
    Gen.cached(root, s"claims-s$seed-x$scale")(Gen.claims(spark, _, seed, scale))

  def setup(c: Ctx): Unit = { step = 0; seenB = false }

  def warmup(c: Ctx): Unit =
    for (_ <- 0 until passSteps) op(c).failed.foreach(f => sys.error(s"warm-up: $f"))

  def op(c: Ctx): Op = {
    val pass = step / passSteps
    val v = if (pass % 2 == 0) "A" else "B"
    val work = c.work.resolve("w")
    val ws = work.toString
    val kind = Seq("stage", "load", "derive", "publish", "merge")(step % passSteps)
    if (kind == "stage") StageOutputs.foreach(o => Fs.deleteTree(work.resolve(o)))
    // the data dirs: the work dir and the warehouse of bucketed staging
    val dataDirs = Seq(c.work, c.work.resolveSibling("wh"))
    val before = Fs.state(dataDirs: _*)
    val t0 = System.nanoTime()
    val published = c.span(s"stages.$kind") {
      kind match {
        case "stage" => Stages.stage(c.spark, ws, s"${c.input}/$v"); None
        case "load" => Stages.load(c.spark, ws); None
        case "derive" => Stages.derive(c.spark, ws); None
        case "publish" => Some(Stages.publish(c.spark, ws))
        case _ => Stages.merge(c.spark, ws, s"pass$pass"); None
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val bytes = Fs.bytesWritten(before, dataDirs: _*)
    step += 1
    c.tracer.add("stages.bytes_written", bytes.toDouble)
    val user = if (kind == "stage") c.truthLong(s"user_bytes.$v") else 0L
    // checks: publish counts and the standing table against planted truth
    val fail = published match {
      case Some((rows, misses)) =>
        Option.when(rows != c.truthLong(s"$v.rows"))(
          s"pass $pass published $rows rows, want ${c.truth(s"$v.rows")}").orElse(
        Option.when(misses != c.truthLong(s"$v.null_extended"))(
          s"pass $pass null-extended $misses rows, want ${c.truth(s"$v.null_extended")}"))
      case None if kind == "merge" =>
        if (v == "B") seenB = true
        val snap = Snapshot.read(c.spark, work.resolve("claims_snapshot").toString)
          .agg(count(lit(1)), sum(col("qty"))).head()
        val (wantRows, wantQty) =
          if (v == "B") (c.truthLong("B.rows"), c.truth("B.qty_sum").toDouble)
          else if (seenB) (c.truthLong("A.rows") + c.truthLong("B_only.rows"),
            c.truth("A.qty_sum").toDouble + c.truth("B_only.qty_sum").toDouble)
          else (c.truthLong("A.rows"), c.truth("A.qty_sum").toDouble)
        Option.when(snap.getLong(0) != wantRows)(
          s"pass $pass snapshot holds ${snap.getLong(0)} rows, want $wantRows").orElse(
        Option.when(math.abs(snap.getDouble(1) - wantQty) > 1e-6 * math.abs(wantQty))(
          s"pass $pass snapshot qty sum ${snap.getDouble(1)}, want $wantQty"))
      case None => None
    }
    Op(kind, secs, bytes, user, fail)
  }

  def finish(c: Ctx): Seq[String] = Nil

  def layerMetrics(c: Ctx, ops: Seq[Op]): Map[String, Double] = Map(
    "stages.bytes_written" -> c.tracer.counts.getOrElse("stages.bytes_written", 0.0) *
      passSteps / math.max(1, ops.size))
}
