package graft

import org.apache.spark.sql.functions._
import graft.ops.Layout

/** Physical-layout guarantees, observed on executed plans and result sets:
  * bucketed staging removes the join shuffle; salted joins change the
  * distribution but never the result. */
class LayoutSpec extends SparkSpec {

  test("bucketed staging: co-located join runs with NO Exchange") {
    val dir = java.nio.file.Files.createTempDirectory("graft_layout_b").toString
    val orders =
      Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice")
    val customer = Tables.customer(spark, sf).select("c_custkey", "c_name")
    Layout.writeBucketed(orders, s"$dir/orders", "o_custkey", 8)
    Layout.writeBucketed(customer, s"$dir/customer", "c_custkey", 8)
    val o2 = Layout.bucketedTable(spark, "graft_orders_b", s"$dir/orders",
      orders.schema, "o_custkey", 8)
    val c2 = Layout.bucketedTable(spark, "graft_customer_b", s"$dir/customer",
      customer.schema, "c_custkey", 8)
    // bucketing pays off in the sort-merge path (broadcast would bypass it
    // — and at real scale neither side broadcasts). A `merge` hint pins
    // that path without touching the shared session's conf, which a
    // concurrently running suite may be planning under.
    val joined = o2.join(c2.hint("merge"), o2("o_custkey") === c2("c_custkey"))
    val n = joined.count()
    assert(n == Tables.orders(spark, sf).count(), "inner join keeps all orders")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed join must not shuffle; plan was:\n$plan")
  }

  test("stagePartitioned: a date predicate prunes the scan to one day") {
    val li = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= "1995-02-01" && col("l_shipdate") < "1995-05-01")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
    Layout.stagePartitioned(li, "graft_lineitem_day", "l_shipdate")
    val t = spark.table("graft_lineitem_day")
    val days = t.select("dt").distinct().count()
    assert(days > 10, s"need many day partitions to make pruning meaningful, got $days")
    val day = t.select("dt").orderBy("dt").first().get(0)
    val oneDay = t.filter(col("dt") === lit(day))
    assert(oneDay.collect().nonEmpty)
    val scan = Layout.fileScans(oneDay.queryExecution.executedPlan).head
    assert(scan.metadata("PartitionFilters").contains("dt"),
      s"predicate must reach the partition layer; metadata: ${scan.metadata}")
    assert(scan.metrics("numPartitions").value == 1,
      s"must read exactly 1 of $days day directories, " +
        s"read ${scan.metrics("numPartitions").value}")
  }

  test("q67's own executed plan reads only the probed cells' partitions") {
    import graft.ops.Similarity
    // the REGISTERED query (not a sidecar demo) must serve from the
    // cid-partitioned layout: its plan contains exactly one scan with a
    // cid partition filter, and that scan reads exactly the 4 probed of
    // the staged cell directories
    val df = SparkEntry.queries("q67_sim_ivf")(spark, sf)
    val top = df.collect()
    assert(top.nonEmpty && top.head.getLong(0) == 0L,
      "query vector must match itself first")
    val totalCells = Similarity.ivfServing(spark, sf)
      .select("cid").distinct().count()
    assert(totalCells > 4, s"need >4 cells for pruning to mean anything, got $totalCells")
    val scans = Layout.fileScans(df.queryExecution.executedPlan)
      .filter(_.metadata("PartitionFilters").contains("cid"))
    assert(scans.length == 1,
      s"exactly one serving scan must carry the cid partition filter, got ${scans.length}")
    assert(scans.head.metrics("numPartitions").value == 4,
      s"must read exactly the 4 probed of $totalCells cell directories, " +
        s"read ${scans.head.metrics("numPartitions").value}")
  }

  test("q110's own executed plan reads only the probed trained cells") {
    import graft.ops.Similarity
    // the TRAINED-quantizer twin of the q67 pin above: the registered
    // oracled query must serve from the trained cid-partitioned layout
    // with the same statically-pruned scan shape
    val df = SparkEntry.queries("q110_sim_ivf_trained")(spark, sf)
    val top = df.collect()
    assert(top.nonEmpty && top.head.getLong(0) == 0L,
      "query vector must match itself first")
    val totalCells = Similarity.ivfTrainedTable(spark, sf, 1)
      .select("cid").distinct().count()
    assert(totalCells > 4, s"need >4 cells for pruning to mean anything, got $totalCells")
    val scans = Layout.fileScans(df.queryExecution.executedPlan)
      .filter(_.metadata("PartitionFilters").contains("cid"))
    assert(scans.length == 1,
      s"exactly one serving scan must carry the cid partition filter, got ${scans.length}")
    assert(scans.head.metrics("numPartitions").value == 4,
      s"must read exactly the 4 probed of $totalCells cell directories, " +
        s"read ${scans.head.metrics("numPartitions").value}")
  }

  test("saltedJoin spreads q16's skewed nationkey theta join, result intact") {
    // SCALE.md names q16 (supplier x customer on nationkey, acctbal
    // inequality residual) a real skew risk: the equi-part carries the
    // join, so one hot nation funnels its whole cohort product through one
    // reducer. Salting must split that cohort without changing the result.
    val su = Tables.supplier(spark, sf)
      .select("s_suppkey", "s_nationkey", "s_acctbal")
    val c = Tables.customer(spark, sf)
      .select("c_custkey", "c_nationkey", "c_acctbal")
      .withColumnRenamed("c_nationkey", "s_nationkey")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("s_acctbal") > col("c_acctbal"))
      .select("s_suppkey", "c_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // customer is the larger, skew-carrying side: salt it, replicate supplier
    val plain = canon(c.join(su, Seq("s_nationkey")))
    val salted = canon(Layout.saltedJoin(c, su, "s_nationkey", "c_custkey", 8))
    assert(plain.nonEmpty && salted == plain,
      s"salted theta join must be result-identical (${salted.size}/${plain.size})")
    // the largest nation cohort really is split across salt buckets (all 8
    // once the cohort is big enough for every bucket to be hit)
    val hotRow = c.groupBy("s_nationkey").count()
      .orderBy(col("count").desc, col("s_nationkey")).first()
    val (hot, cohort) = (hotRow.get(0), hotRow.getLong(1))
    val spread = c.filter(col("s_nationkey") === lit(hot))
      .withColumn("__salt", pmod(xxhash64(col("c_custkey")), lit(8)))
      .select("__salt").distinct().count()
    assert(spread > 1, s"hot nation $hot (cohort $cohort) not split: $spread salt")
    if (cohort >= 64)
      assert(spread == 8, s"cohort $cohort must hit all 8 salts, got $spread")
  }

  test("dynamic partition pruning: a dim-side filter prunes the fact scan at runtime") {
    // the join-shaped complement to q67's static literal pruning: no
    // partition literal exists at plan time — the probe side is a FILTERED
    // DIM joined on the partition column, and Spark must inject a runtime
    // DynamicPruning subquery so the fact scan still reads only the
    // matching day directories. This is the 100 TB fact⋈dim shape when the
    // date predicate lives on the dim (calendar) table.
    val li = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= "1995-02-01" && col("l_shipdate") < "1995-05-01")
      .select("l_orderkey", "l_quantity", "l_shipdate")
    Layout.stagePartitioned(li, "graft_lineitem_dpp", "l_shipdate")
    val fact = spark.table("graft_lineitem_dpp")
    val allDays = fact.select("dt").distinct().collect().map(_.getString(0)).sorted
    assert(allDays.length > 10, s"need many day partitions, got ${allDays.length}")
    // dim: a calendar table mapping dt -> week tag, materialized as PARQUET
    // — a local relation would have its filter constant-folded away by
    // ConvertToLocalRelation before the PartitionPruning rule looks for a
    // selective dim predicate, and no DynamicPruning would be injected.
    // The filter selects the first 3 days only; at plan time the fact side
    // has NO literal filter.
    val dimPath = java.nio.file.Files.createTempDirectory("graft_dpp_dim").toString
    spark.createDataFrame(
      allDays.toSeq.zipWithIndex.map { case (d, i) => (d, i / 3) }).toDF("dt", "bucket")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("bucket") === 0)
    val joined = fact.join(dim.hint("broadcast"), fact("dt") === dim("dt"))
    assert(joined.collect().nonEmpty)
    val scan = Layout.fileScans(joined.queryExecution.executedPlan)
      .find(_.metadata("Location").contains("graft_lineitem_dpp")).get
    assert(scan.metadata("PartitionFilters").toLowerCase.contains("dynamicpruning"),
      s"runtime pruning subquery must reach the fact scan; metadata: ${scan.metadata}")
    assert(scan.metrics("numPartitions").value == 3,
      s"must read exactly the 3 dim-selected of ${allDays.length} day directories, " +
        s"read ${scan.metrics("numPartitions").value}")
  }

  test("runtime Bloom filter: a selective dim filter reaches the fact scan side") {
    // the non-partition-column analog of dynamic partition pruning: when
    // the fact is NOT partitioned on the join key, Spark can still build a
    // Bloom filter from the filtered dim at runtime and apply it as a
    // semi-join reduction on the fact side BEFORE the shuffle — at 100 TB
    // this is what keeps a selective dim join from shuffling the whole
    // fact table. Observed, not claimed: the executed plan must contain
    // the bloom_filter_agg creation aggregate and a might_contain filter
    // on the fact's join key.
    // Conf pinned in a child session (not try/finally on the shared one):
    // other suites plan concurrently and must never see these overrides.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // fixture tables are far below the 10GB default application-side
    // threshold — drop it so the rule engages at test scale
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    val fact = Tables.lineitem(s2, sf).select("l_orderkey", "l_quantity")
    val dim = Tables.orders(s2, sf).filter(col("o_totalprice") > 400000.0)
      .select("o_orderkey")
    val joined = fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
    assert(joined.collect().nonEmpty)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_filter_agg"),
      s"dim side must build the runtime Bloom filter; plan:\n${plan.take(3000)}")
    assert(plan.contains("might_contain") && plan.contains("l_orderkey"),
      s"fact side must apply the might_contain reduction; plan:\n${plan.take(3000)}")
  }

  test("AQE skew-join splits an engineered hot key on the executed plan") {
    // SCALE.md's in-flight complement to saltedJoin: when a key turns out
    // hot at runtime, AQE must split that reducer WITHOUT a plan rewrite.
    // Engineer the skew (90% of rows on key 0), drop the skew thresholds
    // to fixture scale, force the sort-merge path, and observe the
    // OptimizeSkewedJoin marker on the ADAPTIVE executed plan — the
    // same mitigation a 100 TB hot key gets, scaled down.
    // Conf pinned in a child session — see the bucketed-join test above.
    val s2 = spark.newSession()
    Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB")
      .foreach { case (k, v) => s2.conf.set(k, v) }
    val left = s2.range(0, 100000L).select(
      when(pmod(col("id"), lit(10)) < 9, lit(0L))
        .otherwise(pmod(col("id"), lit(50))).as("k"),
      lpad(col("id").cast("string"), 64, "x").as("payload"))
    val right = s2.range(0, 50L)
      .select(col("id").as("k"), (col("id") * 2).as("rv"))
    val joined = left.join(right, Seq("k"))
    // collect() (not count()) so THIS QueryExecution runs adaptively —
    // count() would execute a separate aggregate plan and leave
    // joined.queryExecution un-finalized
    assert(joined.collect().length == 100000,
      "every left row matches exactly one right key")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"AQE must mark the skewed sort-merge join; plan:\n${plan.take(4000)}")
  }

  test("saltedJoin: result identical to the plain join, salt really spreads") {
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, sf).select("c_custkey", "c_name")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = o.join(c, Seq("o_custkey"))
      .select("o_orderkey", "o_custkey", "c_name")
      .collect().map(_.toString).sorted
    val salted = Layout.saltedJoin(o, c, "o_custkey", "o_orderkey", 8)
      .select("o_orderkey", "o_custkey", "c_name")
      .collect().map(_.toString).sorted
    assert(salted.sameElements(plain))
    val nSalts = o.withColumn("__salt",
      pmod(xxhash64(col("o_orderkey")), lit(8)))
      .select("__salt").distinct().count()
    assert(nSalts == 8, "every salt bucket is used")
  }

  test("compact: many small files rewrite to few, content-identical, range-clustered") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    // the pathological shape a streaming sink leaves behind: 64 tiny files
    Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice")
      .repartition(64).write.mode("overwrite").parquet(dir)
    def dataFiles = new java.io.File(dir).listFiles
      .filter(f => f.getName.endsWith(".parquet")).map(_.getName).toSeq
    assert(dataFiles.size == 64)
    val before = spark.read.parquet(dir).collect().map(_.toString).sorted
    val n = Layout.compact(spark, dir, 1L << 20, Seq("o_orderkey"))
    val after = spark.read.parquet(dir)
    assert(dataFiles.size == n && n < 8,
      s"64 small files must compact to ceil(bytes/target)=$n, found ${dataFiles.size}")
    assert(after.collect().map(_.toString).sorted.sameElements(before),
      "compaction must be content-preserving")
    // range clustering: each output file covers a disjoint key range, so
    // footer min/max stats let later scans skip whole files/row groups
    import org.apache.spark.sql.functions.{input_file_name, min => fmin, max => fmax}
    val ranges = after
      .groupBy(input_file_name().as("f"))
      .agg(fmin("o_orderkey").as("lo"), fmax("o_orderkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Array((_, hi1), (lo2, _)) => hi1 <= lo2
      case _ => true
    }, s"files must cover disjoint key ranges: ${ranges.mkString(", ")}")
    // idempotent: compacting a compacted dir is a no-op shape-wise
    assert(Layout.compact(spark, dir, 1L << 20, Seq("o_orderkey")) == n)
  }

  test("q120's executed plan probes ONLY the persisted incremental index") {
    // the maintained-index mode q113's scaladoc promises: per-run cost is
    // the batch probing STAGED tables — the base corpus must not be
    // re-scanned. With the index staged (incServing) and the batch pinned
    // (incBatchCached), every file scan in the executed plan must read a
    // graft_inc_* warehouse table — zero documents.parquet scans.
    val df = SparkEntry.queries("q120_dedup_inc_index")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty, "the gate must emit one verdict per batch doc")
    // value pin against the inline-index q113 (both hash the same oracle
    // in the driver; pinning here keeps the equivalence observable
    // without a driver run)
    val inline = SparkEntry.queries("q113_dedup_incremental")(spark, sf)
      .collect()
    assert(rows.map(_.toString).toSeq == inline.map(_.toString).toSeq,
      "persisted-index gate must reproduce the inline-index verdicts")
    val scans = Layout.fileScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "the gate must read the staged index")
    val roots = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(roots.forall(_.contains("graft_inc_")),
      s"every file scan must read a staged index table — a non-index scan " +
        s"means the base corpus was re-derived; scanned: ${roots.distinct}")
    // all four index tables participate: fp (exact arm), df (frozen
    // ordering), px (prefix candidates), sets (merge-walk verify)
    for (t <- Seq("graft_inc_fp_", "graft_inc_df_", "graft_inc_px_",
                  "graft_inc_sets_"))
      assert(roots.exists(_.contains(t)), s"plan must probe $t; got ${roots.distinct}")
  }

  test("q123's appended index changes day-2 verdicts; plan still index-only") {
    val df = SparkEntry.queries("q123_dedup_inc_append")(spark, sf)
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val day1Ids = rows.filter(_._4 == 1L).map(_._1).toSet
    val accepted = rows.filter(r => r._4 == 1L && r._2 == "new").map(_._1).toSet
    assert(accepted.nonEmpty, "phase 1 must accept some docs")
    // the maintenance arm must actually FIRE: some day-2 doc's witness is
    // an ACCEPTED day-1 doc — i.e. a verdict only the appended index can
    // produce (the planted ≡10-mod-60 cross-day dups guarantee it)
    val crossDay = rows.filter(r => r._4 == 2L && day1Ids.contains(r._3))
    assert(crossDay.nonEmpty,
      "no day-2 verdict carries a day-1 witness — the append changed nothing")
    assert(crossDay.forall(r => accepted.contains(r._3)),
      s"a day-1 witness must be an ACCEPTED doc; got ${crossDay.take(3).toSeq}")
    // and the per-run plan still reads ONLY the staged index (batch and
    // day-1 artifacts are checkpoints): the q120 discipline survives the
    // append composition
    val scans = Layout.fileScans(df.queryExecution.executedPlan)
    val roots = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(roots.forall(_.contains("graft_inc_")),
      s"every q123 file scan must read a staged index table; scanned: ${roots.distinct}")
  }

  test("staging recovery: stale + torn locations reclaim, foreign dirs refuse") {
    import java.nio.file.{Files => JF, Paths => JP}
    // the session normalizes the warehouse conf to a file: URI — strip the
    // scheme so java.nio and hadoop address the SAME directory
    val whRaw = spark.conf.get("spark.sql.warehouse.dir")
    val wh = if (whRaw.contains(":")) new java.net.URI(whRaw).getPath else whRaw
    val df = Tables.nation(spark, sf).select("n_nationkey", "n_name")
    val rows = df.count()
    // 1) STALE COMPLETE staging: a previous session's files outlive the
    // in-memory catalog (dir + in-dir marker, no catalog entry) — restage
    // must reclaim and succeed
    JF.createDirectories(JP.get(s"$wh/stale_tbl"))
    JF.writeString(JP.get(s"$wh/stale_tbl/junk.parquet"), "old session bytes")
    JF.writeString(JP.get(s"$wh/stale_tbl/_graft_staged"), "")
    Layout.stageTable(df, "stale_tbl")
    assert(spark.table("stale_tbl").count() == rows)
    // 2) TORN write: a crash between saveAsTable and markStaged leaves
    // dir + PRE-marker (no in-dir marker, no catalog entry) — the round-9
    // window; restage must reclaim, not die with LOCATION_ALREADY_EXISTS
    JF.createDirectories(JP.get(s"$wh/torn_tbl"))
    JF.writeString(JP.get(s"$wh/torn_tbl/part-half-written"), "torn")
    JF.writeString(JP.get(s"$wh/_graft_staging_torn_tbl"), "")
    Layout.stageTable(df, "torn_tbl")
    assert(spark.table("torn_tbl").count() == rows)
    assert(!JF.exists(JP.get(s"$wh/_graft_staging_torn_tbl")),
      "a completed staging must retire the pre-marker")
    assert(!JF.exists(JP.get(s"$wh/torn_tbl/part-half-written")),
      "reclaim must replace the torn files, not merge with them")
    // 3) FOREIGN collision: a directory carrying NEITHER marker is not
    // ours — staging must refuse loudly, never silently destroy it
    JF.createDirectories(JP.get(s"$wh/foreign_tbl"))
    JF.writeString(JP.get(s"$wh/foreign_tbl/precious.txt"), "not ours")
    intercept[Exception] { Layout.stageTable(df, "foreign_tbl") }
    assert(JF.readString(JP.get(s"$wh/foreign_tbl/precious.txt")) == "not ours",
      "a refused staging must leave the foreign directory untouched")
    // 3b) RETRY after the refusal — the A22 restart discipline. The failed
    // attempt must not have orphaned a pre-marker that brands the foreign
    // dir a torn write: the second attempt must ALSO refuse, and the
    // foreign bytes must still be there afterwards.
    assert(!JF.exists(JP.get(s"$wh/_graft_staging_foreign_tbl")),
      "a refused foreign staging must not leave a pre-marker behind")
    intercept[Exception] { Layout.stageTable(df, "foreign_tbl") }
    assert(JF.readString(JP.get(s"$wh/foreign_tbl/precious.txt")) == "not ours",
      "a RETRIED refused staging must still leave the foreign directory " +
        "untouched (an orphaned pre-marker would have reclaimed it)")
    // 3c) a failed write that never created the location retires its own
    // sentinel, so a LATER foreign collider is not tainted either: simulate
    // by staging a frame whose job fails before any file lands
    import org.apache.spark.sql.functions.udf
    val boom = udf((_: Long) => {
      if (System.nanoTime() != 0L) throw new RuntimeException("boom"); 0L
    })
    intercept[Exception] {
      Layout.stageTable(
        df.withColumn("x", boom(org.apache.spark.sql.functions.lit(1L))),
        "failed_tbl")
    }
    assert(!JF.exists(JP.get(s"$wh/_graft_staging_failed_tbl")) ||
      JF.exists(JP.get(s"$wh/failed_tbl")),
      "a write that failed without creating the location must retire the " +
        "pre-marker; one that left files keeps it (torn-write recovery)")
  }
}
