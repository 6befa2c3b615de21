package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every value is a pure function of (seed, row
  * id), so one seed always gives the same inputs. Each generated directory
  * is laid out like an engine fixture directory (`<table>.parquet`), which
  * is all the program receives; the planted truth is written beside it as
  * `truth.properties`. A directory is reused when its `_DONE` marker
  * exists, so inputs are cached by (workload, seed, scale). */
object Gen {

  /** A uniform value in [0, m) from (seed, salt, row columns). */
  private def u(seed: Long, salt: Int, m: Long, cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: cols): _*), lit(m))

  private val Vocab = ("spark line column order small sort fast value scan hash " +
    "slow group batch agg filter query big key window row part table stream " +
    "merge data join vector customer the a claim patient stay ward drug " +
    "dose plan rate code fee bill").split(" ")

  def cached(root: Path, tag: String)(build: Path => Map[String, String])
      : (String, Map[String, String]) = {
    val dir = root.resolve(tag)
    val done = dir.resolve("_DONE")
    if (!Files.exists(done)) {
      Fs.deleteTree(dir)
      Files.createDirectories(dir)
      val truth = build(dir)
      val p = new java.util.Properties
      truth.foreach { case (k, v) => p.setProperty(k, v) }
      val out = Files.newOutputStream(dir.resolve("truth.properties"))
      try p.store(out, s"planted truth for $tag") finally out.close()
      Files.createFile(done)
    }
    val p = new java.util.Properties
    val in = Files.newInputStream(dir.resolve("truth.properties"))
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    (dir.toString, p.asScala.toMap)
  }

  private def write(df: DataFrame, dir: Path, table: String, files: Int): Unit =
    df.coalesce(files).write.parquet(dir.resolve(s"$table.parquet").toString)

  // ---------------------------------------------------------------- claims

  /** Claims inputs: two sf-style directories `A` and `B` (lineitem +
    * orders). `B` re-prices 10% of A's claim lines and adds 5% new orders,
    * so alternating passes upsert real changes. About 1 in 40 claim lines
    * references an order that is missing from `orders`, and cheap orders
    * fall below the publish stage's dim filter, so publish has
    * null-extended rows. The truth is counted while the rows are drawn. */
  def claims(spark: SparkSession, dir: Path, seed: Long, scale: Double)
      : Map[String, String] = {
    import spark.implicits._
    val nOrders = math.max(200, (6000 * scale).toInt)
    val nNew = nOrders / 20
    val rnd = new java.util.Random(seed)
    def ts(day: Int) = java.time.LocalDateTime.of(1992, 1, 1, 0, 0).plusDays(day)
    // order i: key 4i+1, present unless i % 40 == 7; price decides the filter
    val orders = (0 until nOrders + nNew).map { i =>
      (4L * i + 1, rnd.nextInt(15000).toLong, "OFP".charAt(rnd.nextInt(3)).toString,
        1000.0 + rnd.nextInt(40000000) / 100.0, ts(rnd.nextInt(2400)),
        s"PRIO-${rnd.nextInt(5)}")
    }
    val present = orders.filter(o => (o._1 / 4) % 40 != 7)
    val lines = orders.flatMap { o =>
      (1 to 1 + rnd.nextInt(7)).map { ln =>
        (o._1, rnd.nextInt(20000).toLong, rnd.nextInt(1000).toLong, ln,
          (1 + rnd.nextInt(50)).toDouble, rnd.nextInt(10000000) / 100.0,
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
          "ANR".charAt(rnd.nextInt(3)).toString, "OF".charAt(rnd.nextInt(2)).toString,
          ts(rnd.nextInt(2500)))
      }
    }
    val linesA = lines.filter(_._1 < 4L * nOrders + 1)
    // B: every line, 10% of them re-priced (new quantity)
    val linesB = lines.map(l =>
      if (rnd.nextInt(10) == 0) l.copy(_5 = (1 + rnd.nextInt(50)).toDouble) else l)
    val oCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val lCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
    val a = dir.resolve("A"); val b = dir.resolve("B")
    write(present.filter(_._1 < 4L * nOrders + 1).toDF(oCols: _*), a, "orders", 2)
    write(linesA.toDF(lCols: _*), a, "lineitem", 4)
    write(present.toDF(oCols: _*), b, "orders", 2)
    write(linesB.toDF(lCols: _*), b, "lineitem", 4)
    val dimKeys = present.filter(_._4 > 150000.0).map(_._1).toSet
    def truthOf(ls: Seq[(Long, Long, Long, Int, Double, Double, Double, Double,
                          String, String, java.time.LocalDateTime)], tag: String) =
      Seq(s"$tag.rows" -> ls.size.toString,
        s"$tag.null_extended" -> ls.count(l => !dimKeys(l._1)).toString,
        s"$tag.qty_sum" -> ls.map(_._5).sum.toString)
    val bOnly = linesB.filter(_._1 >= 4L * nOrders + 1)
    (truthOf(linesA, "A") ++ truthOf(linesB, "B") ++ Seq(
      "B_only.rows" -> bOnly.size.toString,
      "B_only.qty_sum" -> bOnly.map(_._5).sum.toString,
      "user_bytes.A" -> Fs.treeBytes(a).toString,
      "user_bytes.B" -> Fs.treeBytes(b).toString)).toMap
  }

  // ---------------------------------------------------------------- corpus

  /** Corpus inputs: `documents` and `embeddings`. Planted: verbatim
    * cliques (every 25th document repeats a random earlier one), near-miss
    * copies (every 40th document of 20+ words is an earlier one with its
    * last word replaced), and perturbed-vector twins (vectors 1..12 are
    * small perturbations of vector 0, the ANN query). */
  def corpus(spark: SparkSession, dir: Path, seed: Long, scale: Double)
      : Map[String, String] = {
    import spark.implicits._
    val nDocs = math.max(200, (600 * scale).toInt)
    val rnd = new java.util.Random(seed)
    val base = Array.tabulate(nDocs) { _ =>
      val n = 8 + rnd.nextInt(50)
      Array.fill(n)(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
    }
    val text = base.clone()
    val verbatim = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val nearMiss = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    for (i <- 1 until nDocs) {
      if (i % 25 == 0) {
        val src = rnd.nextInt(i); text(i) = text(src); verbatim += (src -> i)
      } else if (i % 40 == 0) {
        val src = rnd.nextInt(i)
        val w = text(src).split(" ")
        if (w.length >= 20) {
          w(w.length - 1) = "zz" + rnd.nextInt(1000)
          text(i) = w.mkString(" "); nearMiss += (src -> i)
        }
      }
    }
    val langs = Array("en", "en", "en", "de", "fr", "es", "zh")
    val docs = (0 until nDocs).map { i =>
      (i.toLong, text(i), langs(i % langs.length), s"src${i % 7}",
        text(i).length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    write(docs, dir, "documents", 4)

    val nVec = math.max(128, (400 * scale).toInt)
    val dim = 64
    val centers = Array.fill(10, dim)(rnd.nextGaussian().toFloat)
    val vecs = Array.tabulate(nVec) { i =>
      val c = centers(i % 10)
      Array.tabulate(dim)(k => c(k) + 0.9f * rnd.nextGaussian().toFloat)
    }
    for (i <- 1 to 12; k <- 0 until dim)
      vecs(i)(k) = vecs(0)(k) + 0.01f * rnd.nextGaussian().toFloat
    val emb = (0 until nVec).map(i => (i.toLong, vecs(i), i % 10))
      .toDF("vec_id", "embedding", "label")
    write(emb, dir, "embeddings", 2)
    val exactTop = exactTop10(vecs, 0)
    val survivors = text.distinct.length
    Map("docs" -> nDocs.toString, "vectors" -> nVec.toString, "exact_survivors" -> survivors.toString,
      "near_miss_pairs" -> nearMiss.map { case (a, b) => s"$a:$b" }.mkString(","),
      "verbatim_pairs" -> verbatim.map { case (a, b) => s"$a:$b" }.mkString(","),
      "twin_of_0" -> (1 to 12).mkString(","),
      "exact_top10_of_0" -> exactTop.mkString(","),
      "user_bytes" -> Fs.treeBytes(dir).toString)
  }

  /** Ids of the 10 vectors with the highest cosine to `vecs(q)`, ties by
    * id: the exact scan ANN recall is measured against. */
  private def exactTop10(vecs: Array[Array[Float]], q: Int): Seq[Int] = {
    def norm(a: Array[Float]) = math.sqrt(a.map(x => x.toDouble * x).sum)
    val qn = norm(vecs(q))
    vecs.indices.map { i =>
      val dot = vecs(i).indices.map(k => vecs(i)(k).toDouble * vecs(q)(k)).sum
      // the served ranking floors cosine to micro-units; rank the same way
      (i, math.floor(dot / (norm(vecs(i)) * qn) * 1000000).toLong)
    }.sortBy { case (i, c) => (-c, i) }.take(10).map(_._1)
  }

  // ---------------------------------------------------------------- serving

  /** Serving inputs: the standing table's initial rows (`base`, keys
    * [0, rows)). The client's write batches are drawn from the seeded run
    * RNG. */
  def serving(spark: SparkSession, dir: Path, seed: Long, scale: Double)
      : Map[String, String] = {
    val n = math.max(10000L, (30000 * scale).toLong)
    write(spark.range(n).select(
      col("id").as("k"),
      u(seed, 20, 1000000, col("id")).as("v"),
      u(seed, 21, 5000, col("id")).as("grp"),
      concat(lit("r"), u(seed, 22, 100000, col("id")).cast("string")).as("tag")),
      dir, "base", 4)
    Map("rows" -> n.toString)
  }
}
